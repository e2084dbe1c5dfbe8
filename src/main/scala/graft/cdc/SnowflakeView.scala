package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** N-topic (snowflake-chain) SHARED replay: ONE replay of N changelogs
  * maintains every registered view over the chain join
  * `T₁ ⋈ T₂ ⋈ … ⋈ Tₙ` (each table's foreign key referencing the next
  * table's primary key — lineitem→orders→customer). Generalizes
  * [[MultiView]] (the N=2 case) so a 3+-table view is a SINGLE replay
  * instead of a two-level changelog cascade (a [[JoinView]] over another
  * view's CDC-OUT changelog — spec'd equivalent, but it replays twice
  * and round-trips the intermediate view through a changelog).
  *
  * Architecture: the dim-side chain `V_k = T_k ⋈ … ⋈ Tₙ` is itself
  * incrementally maintained INSIDE the replay, bottom-up, by the same
  * retract/rebuild step [[JoinView.stepView]] uses — each level treats
  * the level below as its "R table" whose changed-key set is the
  * EFFECTIVE key set
  * {{{
  *   effK(n) = keys(ΔTₙ)
  *   effK(k) = keys(ΔT_k) ∪ pk(live(T_k')[fk_k ∈ effK(k+1)])
  * }}}
  * — a change anywhere down the chain propagates upward as exactly the
  * set of parent keys whose joined row could differ, so every level
  * stays |affected|-bounded. The registered [[MultiView.Maintainer]]s
  * then see an ordinary two-sided [[MultiView.BatchCtx]] with
  * `L = T₁, R = V₂` — every existing two-table maintainer (inner view,
  * left-outer, aggregate, distinct/min-max/percentile pair state, top-k)
  * maintains over an N-table snowflake UNCHANGED.
  *
  * Scale shape: per batch, shared cost = (N key collects + N state
  * merges + (N−2) intermediate view steps) regardless of how many views
  * are registered; all rebuild joins are |Δ|/|affected|-restricted
  * scan-side by broadcast semi/anti joins (capped at `maxLocalKeys`,
  * with the same distributed fallback discipline as [[MultiView]] — the
  * key-propagation collect degrades to a cluster-side distinct instead
  * of OOMing the driver). The full table states are merged and pinned
  * once; no state is ever reshuffled whole. The propagation collects are
  * the one cost [[MultiView]] does not pay: one capped job per
  * intermediate level per batch, bounded by the fanout of the deeper
  * delta into the parent table (the inherent size of the update).
  */
object SnowflakeView {

  /** Final shared-replay result: the N table states (with meta columns,
    * index-aligned with the `events` argument) plus each registered
    * maintainer's final state, looked up BY the maintainer instance. */
  final class Result private[SnowflakeView] (
      val tables: Seq[DataFrame],
      states: Map[MultiView.Maintainer[_], Any]) {
    def apply[S](m: MultiView.Maintainer[S]): S = states(m).asInstanceOf[S]
    /** Drop every pinned block this result holds (for cache eviction;
      * the result is unusable afterwards). */
    def release(): Unit =
      (tables ++ states.valuesIterator.flatMap(MultiView.stateFrames))
        .foreach(org.apache.spark.sql.graft.bridge.unpersistPinned)
  }

  /** Effective changed-key propagation: `base ∪ pk(live(merged)[fk ∈
    * down])` — the parent keys whose chain-joined row could differ after
    * this batch. Under the cap both sides collect to ONE LocalRelation
    * (broadcast-sound: the state is pk-unique, so the semi join yields
    * ≤ 1 row per key); over it — or when either input already fell back
    * — the union runs distributed and downstream joins lose their hints,
    * mirroring [[chainStep]]'s per-table discipline. */
  private def extendKeys(base: (DataFrame, Boolean), merged: DataFrame,
      fk: Seq[String], pk: Seq[String], downPk: Seq[String],
      down: (DataFrame, Boolean), cap: Int): (DataFrame, Boolean) = {
    val (baseF, baseLocal) = base
    val (downF, downLocal) = down
    val downAsFk = downF.select(
      downPk.zip(fk).map { case (d, f) => col(d).as(f) }: _*)
    // fk semi over the full parent state: over-cap SALTED (a hot child
    // key referenced by half the parents would straggle the AQE-off
    // propagation otherwise — MultiView.FkJoin rationale)
    val touched = MultiView.FkJoin(pk, downPk, fk)
      .filterByRKeys(Materializer.liveView(merged), downAsFk, downLocal,
                     "left_semi")
      .select(pk.map(col): _*)
    def distributed: (DataFrame, Boolean) =
      (baseF.unionByName(touched).distinct().localCheckpoint(false), false)
    if (!(baseLocal && downLocal)) distributed
    else {
      // state is pk-unique → touched is already distinct; cap the collect
      val rows = touched.limit(cap + 1).collect().toSeq
      if (rows.size > cap) distributed
      else {
        val combined = (baseF.collect().toSeq ++ rows).distinct
        if (combined.size > cap) distributed
        else (baseF.sparkSession.createDataFrame(
          scala.jdk.CollectionConverters.SeqHasAsJava(combined).asJava,
          touched.schema), true)
      }
    }
  }

  /** The per-batch SHARED chain work, one window of [[fold]]: resolve
    * per-table changed keys (pre-collected via `keys`, else derived
    * under the cap with the distributed fallback), merge all N table
    * states, cascade effective keys bottom-up, step the
    * intermediate chain views, and assemble the maintainers' two-sided
    * top-level ctx. `vPre` holds the previous batch's intermediate views
    * `V_k = T_k ⋈ … ⋈ Tₙ` for k = 1..n−2 (empty for n = 2). Returns the
    * merged states (pinned), the new intermediates (pinned, same
    * indexing), and the top ctx. */
  private[graft] def chainStep(states: Seq[DataFrame], vPre: Seq[DataFrame],
      deltas: Seq[DataFrame], pks: Seq[Seq[String]], fks: Seq[Seq[String]],
      keys: Option[Seq[Option[DataFrame]]], maxLocalKeys: Int)
      : (Seq[DataFrame], Seq[DataFrame], MultiView.BatchCtx) = {
    val n = states.size
    def distributedKeys(delta: DataFrame, ks: Seq[String]): DataFrame =
      delta.select(ks.map(k => col(s"after.$k").as(k)): _*)
        .distinct().localCheckpoint(false)
    val resolved: Seq[(DataFrame, Boolean)] = (0 until n).map { t =>
      keys.map(_(t))
        .getOrElse(JoinView.localKeys(deltas(t), pks(t), maxLocalKeys)) match {
        case Some(k) => (k, true)
        case None    => (distributedKeys(deltas(t), pks(t)), false)
      }
    }
    val merged = states.indices.map(t =>
      Materializer.merge(states(t), deltas(t), pks(t),
        changedKeys = Some(resolved(t)._1)).localCheckpoint(false))
    val liveCols: Int => Seq[String] = k =>
      states(k).columns.toSeq.filterNot(Materializer.MetaCols.contains)
    val chainCols: Int => Seq[String] = k => (k until n).flatMap(liveCols)
    // bottom-up: effective key sets + intermediate chain views
    val effK = new Array[(DataFrame, Boolean)](n)
    val preV = new Array[DataFrame](n)
    val postV = new Array[DataFrame](n)
    effK(n - 1) = resolved(n - 1)
    preV(n - 1) = Materializer.liveView(states(n - 1))
    postV(n - 1) = Materializer.liveView(merged(n - 1))
    for (k <- n - 2 to 1 by -1) {
      effK(k) = extendKeys(resolved(k), merged(k), fks(k), pks(k),
                           pks(k + 1), effK(k + 1), maxLocalKeys)
      val ctx = MultiView.BatchCtx(pks(k), pks(k + 1), fks(k),
        resolved(k)._1, resolved(k)._2, effK(k + 1)._1, effK(k + 1)._2,
        Materializer.liveView(states(k)), preV(k + 1),
        Materializer.liveView(merged(k)), postV(k + 1), maxLocalKeys)
      preV(k) = vPre(k - 1)
      postV(k) = JoinView.stepView(vPre(k - 1), ctx, chainCols(k))
        .localCheckpoint(false)
    }
    val ctx0 = MultiView.BatchCtx(pks(0), pks(1), fks(0),
      resolved(0)._1, resolved(0)._2, effK(1)._1, effK(1)._2,
      Materializer.liveView(states(0)), preV(1),
      Materializer.liveView(merged(0)), postV(1), maxLocalKeys)
    (merged, (1 to n - 2).map(postV), ctx0)
  }

  /** Validate the chain shape shared by [[replay]] and the streaming
    * face: one pk per table, fks positional into the next table's pk,
    * no shared column names between a fk and its target pk. */
  private[graft] def requireChain(n: Int, pks: Seq[Seq[String]],
                                  fks: Seq[Seq[String]]): Unit = {
    require(n >= 2, s"snowflake chain needs at least 2 tables, got $n")
    require(pks.size == n, s"pks.size (${pks.size}) must equal tables ($n)")
    require(fks.size == n - 1,
      s"fks.size (${fks.size}) must be tables − 1 (${n - 1})")
    (0 until n - 1).foreach { i =>
      require(fks(i).size == pks(i + 1).size,
        s"fks($i) (${fks(i).mkString(",")}) must match pks(${i + 1}) " +
          s"(${pks(i + 1).mkString(",")}) positionally")
      require(fks(i).intersect(pks(i + 1)).isEmpty,
        s"fks($i) and pks(${i + 1}) must not share column names " +
          s"(got ${fks(i).intersect(pks(i + 1)).mkString(",")})")
    }
  }

  /** Replay N event streams across `cuts` ONCE, maintaining every
    * registered view over the chain join. `events(i)` is table i's
    * decoded changelog (fact first, deepest dimension last), `pks(i)`
    * its primary key, and `fks(i)` table i's foreign-key columns
    * referencing `pks(i+1)` positionally (`fks.size == events.size − 1`).
    * Maintainers see `L = T₁, R = T₂ ⋈ … ⋈ Tₙ`; their `viewCols` /
    * group columns may draw from ANY table's live columns (which must be
    * pairwise distinct across tables — TPC-H-style prefixes). Same
    * micro-batch discipline as [[MultiView.replay]] ([[replayChain]]). */
  def replay(events: Seq[DataFrame], pks: Seq[Seq[String]],
             fks: Seq[Seq[String]], cuts: Seq[Long],
             maintainers: Seq[MultiView.Maintainer[_]],
             batchShufflePartitions: Int = 8,
             maxLocalKeys: Int = JoinView.DefaultMaxLocalKeys,
             maxEventsPerBatch: Option[Int] = None): Result = {
    requireChain(events.size, pks, fks)
    // the chain view carries the union of all live columns — ambiguity
    // in the per-level joins and the maintainers' projections is fatal
    val dup = events.zip(pks)
      .flatMap { case (ev, pk) => Materializer.compact(ev.limit(0), pk)
        .drop(Materializer.MetaCols: _*).columns }
      .groupBy(identity).collect { case (c, v) if v.size > 1 => c }
    require(dup.isEmpty,
      s"live column names must be distinct across chain tables " +
        s"(duplicated: ${dup.mkString(",")}); rename via TableSpec")
    val (tables, states) = replayChain(events, pks, fks, cuts, maintainers,
      batchShufflePartitions, maxLocalKeys, maxEventsPerBatch)
    new Result(tables, states)
  }

  /** The chain replays' shared body ([[replay]], and [[MultiView.replay]]
    * at n = 2), which checks no join shape: a child session with AQE
    * off and batch-width shuffles ([[MultiView.batchSession]]), the logs
    * pinned once, `maxEventsPerBatch` auto-cuts over the combined logs,
    * and one [[fold]] from empty states. Returns the table states and
    * the maintainer states keyed by maintainer, re-rooted in the
    * caller's session. */
  private[cdc] def replayChain(events: Seq[DataFrame],
      pks: Seq[Seq[String]], fks: Seq[Seq[String]], cuts: Seq[Long],
      maintainers: Seq[MultiView.Maintainer[_]], batchShufflePartitions: Int,
      maxLocalKeys: Int, maxEventsPerBatch: Option[Int])
      : (Seq[DataFrame], Map[MultiView.Maintainer[_], Any]) = {
    TableViews.requireRegistration(maintainers)
    val parent = events.head.sparkSession
    val child = MultiView.batchSession(parent, batchShufflePartitions)
    // schema seeds (empty LocalRelations — batch-1 analysis never drags
    // the heavy decode lineage along)
    val schemas = events.zip(pks).map { case (ev, pk) =>
      MultiView.emptyIn(child, Materializer.compact(ev.limit(0), pk)) }
    val live0 = schemas.map(_.drop(Materializer.MetaCols: _*))
    val chain0 = emptyChain(live0, pks, fks)
    val ms = maintainers.map(_.asInstanceOf[MultiView.Maintainer[Any]])
    val pinned = events.map(MultiView.pinnedIn(child, _))
    // auto-cuts run over the PINNED logs (the count + quantile pass then
    // reads the persisted RDDs, not a fresh decode lineage)
    val allCuts = maxEventsPerBatch.fold(cuts)(m => (cuts ++ MultiView
      .autoCuts(pinned.map(_.select(col("ts"))).reduce(_ unionByName _), m))
      .distinct.sorted)
    val (tables, _, states) = fold(schemas, chain0.init,
      ms, ms.map(_.empty(live0(0), chain0.head, pks(0), pks(1), fks(0))),
      pinned, allCuts, pks, fks, maxLocalKeys, child)
    import org.apache.spark.sql.graft.bridge.reRoot
    (tables.map(reRoot(_, parent)),
     maintainers.zip(states).map { case (m, s) =>
       (m: MultiView.Maintainer[_]) ->
         m.asInstanceOf[MultiView.Maintainer[Any]].reRoot(s, parent)
     }.toMap)
  }

  /** Empty frames with the chain views' schemas, `V_k = T_k ⋈ … ⋈ Tₙ`
    * (the live columns of tables k..n−1) for k = 1..n−1, in that order:
    * the head is the maintainers' empty `R` side, and the init seeds the
    * intermediate views of a from-empty [[fold]]. `live0` holds the
    * tables' empty live (meta-free) frames. */
  private[graft] def emptyChain(live0: Seq[DataFrame], pks: Seq[Seq[String]],
                                fks: Seq[Seq[String]]): Seq[DataFrame] =
    (live0.size - 2 to 1 by -1).scanLeft(live0.last) { (down, k) =>
      MultiView.emptyLike(live0(k).join(down, fks(k).zip(pks(k + 1))
        .map { case (l, r) => col(l) === col(r) }.reduce(_ && _)))
    }.reverse

  /** THE chain fold kernel — the only per-batch window loop over a chain
    * of tables, shared by the chain replays ([[replayChain]]) and the
    * chain runner behind
    * [[graft.streaming.CdcStream.maintainMultiViewToParquet]] and
    * [[graft.streaming.CdcStream.maintainSnowflakeViewToParquet]]. Folds
    * the `deltas` window by window (`(lo, hi]` between consecutive
    * `cuts`, open at both ends): one [[chainStep]] per window, then every
    * maintainer's step, run concurrently ([[TableViews.stepConcurrently]])
    * with `session` active on the step threads. The next window's key
    * collects are prefetched off the critical path: a window's key sets
    * depend only on the deltas, never on earlier windows. Look-ahead is
    * one window (an eager wave would hold every window's key set in
    * driver memory at once), on a dedicated bounded pool with a finite
    * loud-failure join ([[Prefetch]]). `tables` are the table states,
    * `chain` the intermediate views `V_1..V_{n−2}`, `states` the
    * maintainers' states, index-aligned with `ms`. Returns the three,
    * folded. */
  private[graft] def fold(tables: Seq[DataFrame], chain: Seq[DataFrame],
      ms: Seq[MultiView.Maintainer[Any]], states: Seq[Any],
      deltas: Seq[DataFrame], cuts: Seq[Long], pks: Seq[Seq[String]],
      fks: Seq[Seq[String]], maxLocalKeys: Int, session: SparkSession)
      : (Seq[DataFrame], Seq[DataFrame], Seq[Any]) = {
    val windows = ((Long.MinValue +: cuts) :+ Long.MaxValue).sliding(2)
      .map { case Seq(lo, hi) =>
        deltas.map(_.filter(col("ts") > lo && col("ts") <= hi)) }.toSeq
    val prefetch = new Prefetch(threads = math.min(tables.size, 4))
    def keysFor(i: Int) = windows(i).zip(pks).map { case (d, pk) =>
      prefetch.submit(JoinView.localKeys(d, pk, maxLocalKeys))
    }
    var pending = keysFor(0)
    var st = tables
    var vPre = chain
    var vs = states
    try TableViews.stepConcurrently(ms.size, Some(session)) { parSteps =>
      windows.indices.foreach { i =>
        val collected = pending.map(prefetch.await)
        if (i + 1 < windows.size) pending = keysFor(i + 1)
        val (merged, vPost, ctx) = chainStep(st, vPre, windows(i), pks, fks,
          keys = Some(collected), maxLocalKeys = maxLocalKeys)
        vs = parSteps(ms.zip(vs).map { case (m, s) =>
          () => m.pin(m.step(s, ctx)): Any
        })
        st = merged
        vPre = vPost
      }
    } finally prefetch.shutdown()
    (st, vPre, vs)
  }
}
