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
    * which view it is — computed once per batch by
    * [[SnowflakeView.chainStep]] (at n = 2: `L` = table 0, `R` = table 1).
    * `preLiveL`/`preLiveR` are the live rows of the PRE-merge states
    * (for retract branches), `liveL`/`liveR` of the POST-merge states
    * (for insert/rebuild branches); all four are lazy projections over
    * states pinned by the fold kernel, so evaluation order cannot leak
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

  /** Empty LocalRelation with `df`'s schema in `df`'s session — flattens
    * derived-empty lineage so batch-1 analysis never drags the heavy
    * schema-seed plans along. */
  private[graft] def emptyLike(df: DataFrame): DataFrame =
    emptyIn(df.sparkSession, df)

  /** [[emptyLike]] in `session`. */
  private[cdc] def emptyIn(session: SparkSession, df: DataFrame): DataFrame =
    session.createDataFrame(session.sparkContext.emptyRDD[Row], df.schema)

  /** A replay's batch session: a CHILD of `parent` (`newSession()`:
    * shared SparkContext and catalog, independent SQL conf — the
    * caller's conf is never mutated) with AQE off (micro-batch plans are
    * small, known-shape plans over pinned inputs, where AQE's
    * stage-by-stage materialization only adds latency) and shuffles at
    * the batch width: `requested` > 0 wins; the 0 sentinel inherits the
    * parent session's shuffle width (clamped to [2, 64]). The replays'
    * default stays NARROW (8): measured at sf0.1, running the
    * macro-batch replay session-wide (32) cost ~2.5x the task time of
    * 8-wide — per-task constants (codegen setup, broadcast fetch,
    * checkpoint block overhead) dominate the |Δ|-bounded batch joins, so
    * narrow batches win even when cores sit idle. The sentinel is for
    * callers whose batches are genuinely state-sized. */
  private[cdc] def batchSession(parent: SparkSession,
                                requested: Int): SparkSession = {
    // 0 is THE sentinel; negative widths are caller bugs, not requests
    require(requested >= 0,
      s"batchShufflePartitions must be >= 0 (0 = inherit session " +
        s"width), got $requested")
    val width = if (requested > 0) requested else scala.util.Try(
      parent.conf.get("spark.sql.shuffle.partitions").toInt)
      .getOrElse(8).max(2).min(64)
    val child = parent.newSession()
    child.conf.set("spark.sql.adaptive.enabled", "false")
    child.conf.set("spark.sql.shuffle.partitions", width.toString)
    child
  }

  /** A replay's log pinned ONCE in its batch session and coalesced to
    * the batch width, so each window is a cheap filter over the pinned
    * RDD. */
  private[cdc] def pinnedIn(child: SparkSession, events: DataFrame)
      : DataFrame =
    org.apache.spark.sql.graft.bridge.reRoot(
      Materializer.pinnedEvents(events), child)
      .coalesce(child.conf.get("spark.sql.shuffle.partitions").toInt)

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
    * registered view (one maintainer or many): the two-table chain
    * ([[SnowflakeView]] at n = 2, `left` = table 0, `right` = table 1),
    * with the same micro-batch discipline — child session, AQE off,
    * batch-width shuffles, logs pinned once, next window's key collects
    * prefetched, maintainers stepped concurrently. Results are handed
    * back re-rooted in the caller's session. `maxEventsPerBatch` augments
    * the caller's cuts with [[autoCuts]], so a backlog keeps the
    * broadcast delta path. Unlike [[SnowflakeView.replay]] the two sides
    * may share live column names (the join-shape check covers only the
    * key columns). */
  def replay(lEvents: DataFrame, rEvents: DataFrame, cuts: Seq[Long],
             lPk: Seq[String], rPk: Seq[String], lJoinCols: Seq[String],
             maintainers: Seq[Maintainer[_]],
             batchShufflePartitions: Int = 8,
             maxLocalKeys: Int = JoinView.DefaultMaxLocalKeys,
             maxEventsPerBatch: Option[Int] = None): Result = {
    requireJoinShape(rPk, lJoinCols)
    val (tables, states) = SnowflakeView.replayChain(Seq(lEvents, rEvents),
      Seq(lPk, rPk), Seq(lJoinCols), cuts, maintainers,
      batchShufflePartitions, maxLocalKeys, maxEventsPerBatch)
    new Result(tables(0), tables(1), states)
  }
}
