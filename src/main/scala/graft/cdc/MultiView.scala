package graft.cdc

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** SHARED multi-view maintenance: one changelog replay, N maintained
  * views — the reference's core fan-out shape (one decoded stream feeds
  * every registered handler, `/root/reference/cdc_manager.go:277-298`)
  * lifted to incremental view maintenance. Without it, ten views over
  * the same two topics each pay their own per-batch changed-key collect
  * and L/R state merge; with it those are computed ONCE per batch and
  * every registered [[Maintainer]] consumes the same [[BatchCtx]].
  *
  * Scale shape: per batch, cost = (1 × key collect + 1 × L merge + 1 × R
  * merge) + Σ per-view delta steps — the per-view steps were already
  * |Δ|-bounded; this removes the O(N) duplication of the state
  * maintenance itself. At 100 TB the L/R states are the big frames: they
  * are merged and pinned once and every view's semi/anti prunes run
  * against the same cached scan.
  */
object MultiView {

  /** Everything a view's per-batch step needs that does NOT depend on
    * which view it is — computed once per batch by [[batchCtx]].
    * `preLiveL`/`preLiveR` are the live rows of the PRE-merge states
    * (for retract branches), `liveL`/`liveR` of the POST-merge states
    * (for insert/rebuild branches); all four are lazy projections over
    * states pinned by the replay loop, so evaluation order cannot leak
    * the merged state into a retract. */
  final case class BatchCtx(
      lPk: Seq[String], rPk: Seq[String], lJoinCols: Seq[String],
      changedL: DataFrame, lLocal: Boolean,
      changedR: DataFrame, rLocal: Boolean,
      preLiveL: DataFrame, preLiveR: DataFrame,
      liveL: DataFrame, liveR: DataFrame,
      maxLocalKeys: Int) {

    /** Broadcast hint, sound only on under-cap LocalRelation key sets
      * (JoinView.localKeys discipline). */
    def hinted(df: DataFrame, isLocal: Boolean): DataFrame =
      if (isLocal) broadcast(df) else df

    /** The changed-R key set re-keyed to L's foreign-key column names —
      * single atomic projection. */
    def changedRAsFk: DataFrame = changedR.select(
      rPk.zip(lJoinCols).map { case (r, l) => col(r).as(l) }: _*)

    /** L.fk = R.pk equi-join condition, positional. */
    def joinCond: org.apache.spark.sql.Column = lJoinCols.zip(rPk)
      .map { case (l, r) => col(l) === col(r) }.reduce(_ && _)

    /** Skew-hardened fk-join helpers for this batch's key shape. */
    def fk: FkJoin = FkJoin(lPk, rPk, lJoinCols)

    /** Semi/anti of an L-shaped frame against the changed-R key set (as
      * fk names). Under-cap: broadcast. Over-cap: SALTED ([[FkJoin]]). */
    def fkFilter(lSide: DataFrame, joinType: String): DataFrame =
      fk.filterByRKeys(lSide, changedRAsFk, rLocal, joinType)
  }

  /** Over-cap-aware, SKEW-HARDENED fk joins, shared by every view
    * maintainer. The replay loops run AQE-off (micro-batch plans are not
    * adaptively re-planned), so the over-cap distributed fallback cannot
    * rely on AQE's skew-join splitting: a hot join key in a backlog batch
    * (one dimension row referenced by half the facts) would land every
    * matching row on ONE reducer of a plain shuffle join — the classic
    * 100×-scale straggler. These helpers keep the under-cap broadcast
    * plans verbatim and replace the over-cap plain joins with SALTED ones
    * (the [[graft.ops.Skew]] discipline): the L-shaped side gets a
    * deterministic per-row salt — hash of its `lPk` columns, present by
    * the stepView contract and distinct per row, so replays stay
    * identical — and the Δ-bounded R-shaped side is replicated across the
    * salt buckets; the exchange then hashes on (fk, salt) and the hot
    * key's rows spread over the whole shuffle. Exact: every (l, r) pair
    * matching the fk condition matches exactly one salt replica, and a
    * semi/anti match is salt-independent because the key set is closed
    * under all salts. */
  final case class FkJoin(lPk: Seq[String], rPk: Seq[String],
                          lJoinCols: Seq[String]) {
    private def joinCond: org.apache.spark.sql.Column = lJoinCols.zip(rPk)
      .map { case (l, r) => col(l) === col(r) }.reduce(_ && _)

    /** Salt buckets = the session's shuffle width (a hot key should
      * spread across the whole shuffle; replicating the Δ-bounded side a
      * few dozen times is noise next to the state scans). */
    private def buckets(df: DataFrame): Int =
      scala.util.Try(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)
        .getOrElse(16).max(2)

    private def salted(lSide: DataFrame, b: Int, name: String): DataFrame =
      lSide.withColumn(name,
        pmod(xxhash64(lPk.map(col): _*), lit(b.toLong)))

    private def replicated(rSide: DataFrame, b: Int, name: String): DataFrame =
      rSide.withColumn(name,
        explode(sequence(lit(0L), lit(b.toLong - 1))))

    /** Inner fk join of an unbounded L-shaped frame against a Δ-bounded
      * R-shaped frame (liveR semi-pruned to changed keys — ≤ 1 row per
      * key). Under-cap: broadcast the bounded side. Over-cap: salted. */
    def joinBoundedR(lSide: DataFrame, rBounded: DataFrame,
                     rIsLocal: Boolean): DataFrame =
      if (rIsLocal) lSide.join(broadcast(rBounded), joinCond)
      else saltedJoin(lSide, rBounded)

    /** Inner fk join of a Δ-bounded L-shaped frame against the FULL live
      * R state. Under-cap: broadcast the bounded fact side (BuildLeft).
      * Over-cap: prune R to the fks the bounded side actually references
      * (distinct is map-side-combined, the semi is a pk join — neither
      * skews), then run the salted join on the pruned pair. */
    def joinBoundedL(lBounded: DataFrame, rFull: DataFrame,
                     lIsLocal: Boolean): DataFrame =
      if (lIsLocal) broadcast(lBounded).join(rFull, joinCond)
      else {
        val needed = lBounded.select(
          lJoinCols.zip(rPk).map { case (l, r) => col(l).as(r) }: _*)
          .distinct()
        saltedJoin(lBounded, rFull.join(needed, rPk, "left_semi"))
      }

    private def saltedJoin(lSide: DataFrame, rBounded: DataFrame): DataFrame = {
      val b = buckets(lSide)
      salted(lSide, b, "__gsaltl")
        .join(replicated(rBounded, b, "__gsaltr"),
              joinCond && col("__gsaltl") === col("__gsaltr"))
        .drop("__gsaltl", "__gsaltr")
    }

    /** Semi/anti filter of an L-shaped frame against an fk-named key set.
      * Under-cap: broadcast. Over-cap: salted — the filtered frame's hot
      * fk would otherwise hash onto one reducer of the semi/anti
      * exchange. */
    def filterByRKeys(lSide: DataFrame, keysAsFk: DataFrame,
                      rIsLocal: Boolean, joinType: String): DataFrame =
      if (rIsLocal) lSide.join(broadcast(keysAsFk), lJoinCols, joinType)
      else {
        val b = buckets(lSide)
        salted(lSide, b, "__gsalt")
          .join(replicated(keysAsFk, b, "__gsalt"),
                lJoinCols :+ "__gsalt", joinType)
          .drop("__gsalt")
      }
  }

  /** One maintained view over the shared replay. `S` is the view's own
    * aggregate/materialization state — the L/R table states live in the
    * shared loop, never here. Implementations are provided by the view
    * objects ([[JoinView.maintainer]], [[LeftJoinView.maintainer]],
    * [[JoinAggView.maintainerNamed]], [[JoinDistinctView.maintainer]],
    * [[JoinTopKView.maintainer]]). */
  trait Maintainer[S] {
    /** Empty state; `liveL0`/`liveR0` are empty frames carrying the bare
      * (meta-free) live schemas of the two sides. */
    def empty(liveL0: DataFrame, liveR0: DataFrame,
              lPk: Seq[String], rPk: Seq[String],
              lJoinCols: Seq[String]): S
    /** Fold one shared batch into the state. */
    def step(st: S, ctx: BatchCtx): S
    /** Lazily pin the state's frames (end of each batch — bounds plan
      * depth across batches without scheduling a job). */
    def pin(st: S): S
    /** Re-root the state's frames into `to` (hand-back at end of replay). */
    def reRoot(st: S, to: SparkSession): S
  }

  /** Final shared-replay result: the two table states plus each
    * registered maintainer's final state, looked up BY the maintainer
    * instance (identity), so the access is typed. */
  final class Result private[MultiView] (
      val left: DataFrame, val right: DataFrame,
      states: Map[Maintainer[_], Any]) {
    def apply[S](m: Maintainer[S]): S = states(m).asInstanceOf[S]
    /** Drop every pinned block this result holds (table states + each
      * maintainer state's frames) — for cache eviction; the result is
      * unusable afterwards. */
    def release(): Unit =
      (Seq(left, right) ++ states.valuesIterator.flatMap(stateFrames))
        .foreach(org.apache.spark.sql.graft.bridge.unpersistPinned)
  }

  /** A maintainer state that pins frames BEYOND its product elements
    * (e.g. a lazily pinned derived face) reports them here so release
    * paths can drop them explicitly instead of waiting on GC. */
  trait PinnedExtras { def pinnedExtras: Seq[DataFrame] }

  /** DataFrames reachable from an erased maintainer state (a bare frame,
    * or a tuple/case class of frames, plus any [[PinnedExtras]]). */
  private[graft] def stateFrames(s: Any): Seq[DataFrame] = {
    val extras = s match {
      case p: PinnedExtras => p.pinnedExtras
      case _ => Seq.empty
    }
    (s match {
      case df: DataFrame => Seq(df)
      case p: Product =>
        p.productIterator.collect { case df: DataFrame => df }.toSeq
      case _ => Seq.empty
    }) ++ extras
  }

  /** Resolve a replay's batch shuffle width: explicit > 0 wins; the 0
    * sentinel inherits the parent session's shuffle width (clamped to
    * [2, 64]). The default stays NARROW (8): measured at sf0.1, running
    * the macro-batch replay session-wide (32) cost ~2.5x the task time
    * of 8-wide — per-task constants (codegen setup, broadcast fetch,
    * checkpoint block overhead) dominate the |Δ|-bounded batch joins,
    * so narrow batches win even when cores sit idle. The sentinel is
    * for callers whose batches are genuinely state-sized. */
  private[cdc] def resolveBatchWidth(parent: SparkSession,
                                     requested: Int): Int = {
    // 0 is THE sentinel; negative widths are caller bugs, not requests
    require(requested >= 0,
      s"resolveBatchWidth: requested width must be >= 0 (0 = inherit " +
        s"session width), got $requested")
    if (requested > 0) requested
    else scala.util.Try(
      parent.conf.get("spark.sql.shuffle.partitions").toInt)
      .getOrElse(8).max(2).min(64)
  }

  /** Empty LocalRelation with `df`'s schema in `df`'s session — flattens
    * derived-empty lineage so batch-1 analysis never drags the heavy
    * schema-seed plans along. */
  private[graft] def emptyLike(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(
      df.sparkSession.sparkContext.emptyRDD[Row], df.schema)

  /** The per-batch SHARED work: changed-key sets (pre-collected via
    * `keys`, else derived under `maxLocalKeys` — a `None` side runs the
    * distributed fallback) and the two state merges, each pinned lazily.
    * Returns the ctx plus the merged (pinned) states; every registered
    * maintainer's step folds this same ctx. */
  private[graft] def batchCtx(stL: DataFrame, stR: DataFrame,
      dl: DataFrame, dr: DataFrame,
      lPk: Seq[String], rPk: Seq[String], lJoinCols: Seq[String],
      keys: Option[(Option[DataFrame], Option[DataFrame])],
      maxLocalKeys: Int): (BatchCtx, DataFrame, DataFrame) = {
    def distributedKeys(delta: DataFrame, ks: Seq[String]): DataFrame =
      delta.select(ks.map(k => col(s"after.$k").as(k)): _*)
        .distinct().localCheckpoint(false)
    val (changedL, lLocal) =
      keys.map(_._1).getOrElse(JoinView.localKeys(dl, lPk, maxLocalKeys)) match {
        case Some(lk) => (lk, true)
        case None     => (distributedKeys(dl, lPk), false)
      }
    val (changedR, rLocal) =
      keys.map(_._2).getOrElse(JoinView.localKeys(dr, rPk, maxLocalKeys)) match {
        case Some(rk) => (rk, true)
        case None     => (distributedKeys(dr, rPk), false)
      }
    val lNext = Materializer.merge(stL, dl, lPk,
      changedKeys = Some(changedL)).localCheckpoint(false)
    val rNext = Materializer.merge(stR, dr, rPk,
      changedKeys = Some(changedR)).localCheckpoint(false)
    (BatchCtx(lPk, rPk, lJoinCols,
              changedL, lLocal, changedR, rLocal,
              Materializer.liveView(stL), Materializer.liveView(stR),
              Materializer.liveView(lNext), Materializer.liveView(rNext),
              maxLocalKeys),
     lNext, rNext)
  }

  /** The join shape every two-topic maintainer assumes: `lJoinCols(i)`
    * references `rPk(i)`, and the two name sets are disjoint (shared
    * names would make the rebuild joins and the view projections
    * ambiguous — two same-named columns in scope with different
    * values). Checked by [[replay]] and by the multi-view runner before
    * its stream starts. */
  private[graft] def requireJoinShape(rPk: Seq[String],
                                      lJoinCols: Seq[String]): Unit = {
    require(rPk.size == lJoinCols.size,
      s"lJoinCols (${lJoinCols.mkString(",")}) must match rPk " +
        s"(${rPk.mkString(",")}) positionally")
    require(lJoinCols.intersect(rPk).isEmpty,
      s"lJoinCols and rPk must not share column names " +
        s"(got ${lJoinCols.intersect(rPk).mkString(",")}); rename one side")
  }

  /** The view projection every row-image maintainer (inner, left-outer
    * and top-k join views) keys on: `viewCols` must carry L's primary
    * key (the changelog and retract key) and its join columns (the
    * R-side retract key). Checked in the maintainers' `empty`, so a bad
    * registration refuses at its first fold, naming the column. */
  private[cdc] def requireViewCols(viewCols: Seq[String], lPk: Seq[String],
                                   lJoinCols: Seq[String]): Unit = {
    val missing = (lPk ++ lJoinCols).distinct.filterNot(viewCols.toSet)
    require(missing.isEmpty,
      s"viewCols (${viewCols.mkString(",")}) must include L's primary key " +
        s"and join columns; missing ${missing.mkString(",")}")
  }

  /** Event-count-bounded AUTO-CUTS: derive replay cut times from the
    * logs themselves so a giant backlog (an AvailableNow catch-up, a
    * cold rebuild) replays as several |Δ|-bounded micro-batches instead
    * of ONE batch whose changed-key set blows `maxLocalKeys` and forces
    * every join onto the all-distributed fallback. Boundaries are `ts`
    * quantiles of the combined logs, so each window holds roughly
    * `maxEventsPerBatch` events; windows are `(lo, hi]`, cutting BETWEEN
    * distinct ts values — a single hot timestamp never splits (correct:
    * the replay contract orders by ts), though it can locally exceed the
    * bound. Returns empty when the logs already fit one batch. */
  def autoCuts(lEvents: DataFrame, rEvents: DataFrame,
               maxEventsPerBatch: Int): Seq[Long] = {
    require(maxEventsPerBatch > 0,
      s"autoCuts: maxEventsPerBatch must be positive, got $maxEventsPerBatch")
    val ts = lEvents.select(col("ts"))
      .unionByName(rEvents.select(col("ts")))
    val n = ts.count()
    if (n <= maxEventsPerBatch) Seq.empty
    else {
      val k = math.ceil(n.toDouble / maxEventsPerBatch).toInt
      val probs = (1 until k).map(i => i.toDouble / k)
      ts.agg(percentile_approx(col("ts"),
               array(probs.map(lit(_)): _*), lit(10000)).as("cs"))
        .head().getAs[scala.collection.Seq[Long]]("cs")
        .distinct.sorted.toSeq
    }
  }

  /** Single-log [[autoCuts]] (for the single-topic replays). */
  def autoCuts(events: DataFrame, maxEventsPerBatch: Int): Seq[Long] =
    autoCuts(events, events.limit(0), maxEventsPerBatch)

  /** Replay two event streams across `cuts` ONCE, maintaining every
    * registered view (one maintainer or many). Micro-batch discipline:
    * AQE is off on a CHILD session (`newSession()`: shared SparkContext
    * and catalog, independent SQL conf — the caller's conf is never
    * mutated; micro-batch plans are small, known-shape plans over pinned
    * inputs, where AQE's stage-by-stage materialization only adds
    * latency), shuffles run at the batch width, the decoded logs are
    * pinned once so each window is a cheap filter over the pinned RDD,
    * and the next window's key collects are prefetched. Results are
    * handed back re-rooted in the caller's session. `maxEventsPerBatch`
    * augments the caller's cuts with [[autoCuts]], so a backlog keeps
    * the broadcast delta path. */
  def replay(lEvents: DataFrame, rEvents: DataFrame, cuts: Seq[Long],
             lPk: Seq[String], rPk: Seq[String], lJoinCols: Seq[String],
             maintainers: Seq[Maintainer[_]],
             batchShufflePartitions: Int = 8,
             maxLocalKeys: Int = JoinView.DefaultMaxLocalKeys,
             maxEventsPerBatch: Option[Int] = None): Result = {
    require(maintainers.nonEmpty, "at least one maintainer")
    // results are keyed by maintainer IDENTITY — a repeated instance
    // would collapse to one entry and silently drop a registration
    require(maintainers.distinct.size == maintainers.size,
      "each maintainer must be a distinct instance (results are keyed " +
        "by identity); build a second instance for a second view")
    requireJoinShape(rPk, lJoinCols)
    val parent = lEvents.sparkSession
    val batchWidth = resolveBatchWidth(parent, batchShufflePartitions)
    val child = parent.newSession()
    child.conf.set("spark.sql.adaptive.enabled", "false")
    child.conf.set("spark.sql.shuffle.partitions", batchWidth.toString)
    def inChild(df: DataFrame): DataFrame =
      org.apache.spark.sql.graft.bridge.reRoot(df, child)
    def emptyInChild(df: DataFrame): DataFrame =
      child.createDataFrame(child.sparkContext.emptyRDD[Row], df.schema)
    val lSchema = emptyInChild(Materializer.compact(lEvents.limit(0), lPk))
    val rSchema = emptyInChild(Materializer.compact(rEvents.limit(0), rPk))
    val liveL0 = lSchema.drop(Materializer.MetaCols: _*)
    val liveR0 = rSchema.drop(Materializer.MetaCols: _*)
    // erased view of the maintainers so one loop can fold them all; the
    // types round-trip through Result's identity-keyed lookup
    val ms = maintainers.map(_.asInstanceOf[Maintainer[Any]])
    var states: Seq[Any] =
      ms.map(_.empty(liveL0, liveR0, lPk, rPk, lJoinCols))
    val lPinned = inChild(Materializer.pinnedEvents(lEvents))
      .coalesce(batchWidth)
    val rPinned = inChild(Materializer.pinnedEvents(rEvents))
      .coalesce(batchWidth)
    // auto-cuts run over the PINNED logs (the count + quantile pass then
    // reads the persisted RDD, not a fresh decode lineage)
    val allCuts = maxEventsPerBatch match {
      case Some(m) => (cuts ++ autoCuts(lPinned, rPinned, m))
        .distinct.sorted
      case None => cuts
    }
    def slice(ev: DataFrame, lo: Long, hi: Long) =
      ev.filter(col("ts") > lo && col("ts") <= hi)
    val windows = (Long.MinValue +: allCuts) :+ Long.MaxValue
    val bounds = windows.sliding(2).map { case Seq(lo, hi) => (lo, hi) }.toSeq
    // prefetch the NEXT window's changed-key collects off the per-batch
    // critical path: a window's key sets depend only on the PINNED logs,
    // never on earlier batches. Look-ahead is one window (an eager wave
    // would hold every window's key set in driver memory at once), on a
    // dedicated bounded pool with a finite loud-failure join (Prefetch)
    val prefetch = new Prefetch
    def keysFor(i: Int) = {
      val (lo, hi) = bounds(i)
      (prefetch.submit(
         JoinView.localKeys(slice(lPinned, lo, hi), lPk, maxLocalKeys)),
       prefetch.submit(
         JoinView.localKeys(slice(rPinned, lo, hi), rPk, maxLocalKeys)))
    }
    var pending = keysFor(0)
    var stL = lSchema
    var stR = rSchema
    // maintainer folds run concurrently per batch (TableViews
    // .stepConcurrently — independent states, overlapped step latency)
    try TableViews.stepConcurrently(ms.size, Some(child)) { parSteps =>
      bounds.indices.foreach { i =>
        val (lo, hi) = bounds(i)
        val (ckLF, ckRF) = pending
        if (i + 1 < bounds.size) pending = keysFor(i + 1)
        val (ctx, lNext, rNext) = batchCtx(stL, stR,
          slice(lPinned, lo, hi), slice(rPinned, lo, hi),
          lPk, rPk, lJoinCols,
          keys = Some((prefetch.await(ckLF), prefetch.await(ckRF))),
          maxLocalKeys = maxLocalKeys)
        states = parSteps(ms.zip(states).map { case (m, s) =>
          () => m.pin(m.step(s, ctx)): Any
        })
        stL = lNext
        stR = rNext
      }
    } finally prefetch.shutdown()
    import org.apache.spark.sql.graft.bridge.reRoot
    new Result(reRoot(stL, parent), reRoot(stR, parent),
      maintainers.zip(states).map { case (m, s) =>
        (m: Maintainer[_]) -> m.asInstanceOf[Maintainer[Any]].reRoot(s, parent)
      }.toMap)
  }
}
