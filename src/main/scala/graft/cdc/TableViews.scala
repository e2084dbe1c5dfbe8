package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SHARED single-topic fan-out: one decoded changelog, N maintained
  * views over the SAME table — the literal reference shape
  * (`/root/reference/cdc_manager.go:277-298`: every handler registered
  * on a topic receives each decoded event). [[MultiView]] is the
  * two-topic (join-family) analogue; this one shares the per-batch work
  * all single-table views duplicate: the changed-key collect and the
  * tombstone-aware state merge happen ONCE, and each registered
  * [[Maintainer]] folds the same [[BatchCtx]].
  *
  * Scale shape: per batch, cost = (1 × key collect + 1 × state merge) +
  * Σ per-view delta folds — each fold was already |Δ|- or
  * |groups|-bounded; the duplication removed is the decode scan and the
  * merge, which dominate when N views ride one topic. */
object TableViews {

  /** Everything a single-table view's per-batch step needs that does not
    * depend on which view it is. `preState`/`postState` are the
    * tombstone-aware table states before/after this batch's merge (both
    * pinned by the fold kernel); `delta` is the batch's decoded change
    * events (cheap to re-scan). */
  final case class BatchCtx(
      delta: DataFrame,
      changedKeys: Option[DataFrame],
      preState: DataFrame, postState: DataFrame,
      pk: Seq[String], maxLocalKeys: Int,
      /** true when `changedKeys` is a driver-local relation (the |Δ|-
        * capped collect stayed under `maxLocalKeys`) — maintainers use
        * it to decide whether delta-derived frames are broadcast-safe. */
      ckLocal: Boolean = false)

  /** One maintained view over the shared single-topic replay. */
  trait Maintainer[S] {
    /** Empty state; `events0` is an empty frame carrying the decoded
      * change-event schema. */
    def empty(events0: DataFrame, pk: Seq[String]): S
    def step(st: S, ctx: BatchCtx): S
    def pin(st: S): S
    def reRoot(st: S, to: SparkSession): S
  }

  /** Final result: the merged table state plus each maintainer's state,
    * looked up by the maintainer instance (typed). */
  final class Result private[TableViews] (
      val state: DataFrame, states: Map[Maintainer[_], Any]) {
    def apply[S](m: Maintainer[S]): S = states(m).asInstanceOf[S]
    /** Drop every pinned block this result holds — for cache eviction;
      * the result is unusable afterwards (MultiView.Result.release). */
    def release(): Unit =
      (Seq(state) ++ states.valuesIterator.flatMap(MultiView.stateFrames))
        .foreach(org.apache.spark.sql.graft.bridge.unpersistPinned)
  }

  /** The per-batch SHARED work: the |Δ|-capped changed-key collect and
    * the delta-restricted state merge, pinned. Returns the ctx plus the
    * merged state. Over-cap batches (localKeys returns None — a backlog
    * blew `maxLocalKeys`) derive the key set cluster-side ONCE and pin
    * it (SnowflakeView.chainStep discipline) — passing None down to merge
    * would let its anti and semi joins each recompute the distinct,
    * two extra shuffles per backlog batch. `ctx.changedKeys` is
    * therefore always populated. */
  private[graft] def batchCtx(state: DataFrame, delta: DataFrame,
      pk: Seq[String], maxLocalKeys: Int): (BatchCtx, DataFrame) = {
    val local = JoinView.localKeys(delta, pk, maxLocalKeys)
    val ck = local.getOrElse(
      delta.select(pk.map(k => col(s"after.$k").as(k)): _*)
        .distinct().localCheckpoint(false))
    val next = Materializer.merge(state, delta, pk, changedKeys = Some(ck))
      .localCheckpoint(false)
    (BatchCtx(delta, Some(ck), state, next, pk, maxLocalKeys,
              ckLocal = local.isDefined), next)
  }

  /** Wrap a maintainer so every delta (and the schema-carrying empty
    * frame) passes through `f` first — for views over DERIVED columns
    * (e.g. a fingerprint of a text column) that the decoded events don't
    * carry. `f` must preserve the change-event contract (op/ts/before/
    * after/changed_cols semantics) for the inner maintainer to stay
    * exact. */
  def mapDelta[S](inner: Maintainer[S])(f: DataFrame => DataFrame)
      : Maintainer[S] = new Maintainer[S] {
    def empty(events0: DataFrame, pk: Seq[String]): S =
      inner.empty(f(events0), pk)
    def step(st: S, ctx: BatchCtx): S =
      inner.step(st, ctx.copy(delta = f(ctx.delta)))
    def pin(st: S): S = inner.pin(st)
    def reRoot(st: S, to: SparkSession): S = inner.reRoot(st, to)
  }

  /** [[mapDelta]] for maintainers that ALSO read the shared table state
    * (top-k re-rank, GroupViews per-group recompute): `fState` plants
    * the same derived column into the flat pre/post state images that
    * `fDelta` plants into the delta's before/after structs — the shared
    * merge never sees the derived column (it is a pure function of
    * source columns, recomputed scan-side on both shapes). */
  def mapCtx[S](inner: Maintainer[S])(fDelta: DataFrame => DataFrame)
               (fState: DataFrame => DataFrame): Maintainer[S] =
    new Maintainer[S] {
      def empty(events0: DataFrame, pk: Seq[String]): S =
        inner.empty(fDelta(events0), pk)
      def step(st: S, ctx: BatchCtx): S =
        inner.step(st, ctx.copy(delta = fDelta(ctx.delta),
                                preState = fState(ctx.preState),
                                postState = fState(ctx.postState)))
      def pin(st: S): S = inner.pin(st)
      def reRoot(st: S, to: SparkSession): S = inner.reRoot(st, to)
    }

  /** The standard [[mapDelta]] transform: plant a column DERIVED from
    * `srcCol` into the before/after images, resolving the Maxwell
    * partial-`old` contract exactly — the before-image value applies `f`
    * to the before `srcCol` when it is among the changed columns and to
    * the (unchanged) after value otherwise, and `outCol` joins
    * `changed_cols` so exact retraction reads it from the before image.
    * Any scan-side expression works (a fingerprint, a token count, a
    * quality score): the derived column then feeds every existing
    * maintainer as if the upstream table carried it. */
  def withDerived(srcCol: String, outCol: String)
                 (f: org.apache.spark.sql.Column => org.apache.spark.sql.Column)
                 (events: DataFrame): DataFrame = {
    val beforeSrc =
      when(array_contains(col("changed_cols"), srcCol),
           col(s"before.$srcCol"))
        .otherwise(col(s"after.$srcCol"))
    events
      .withColumn("after",
        when(col("after").isNotNull,
             col("after").withField(outCol, f(col(s"after.$srcCol")))))
      .withColumn("before",
        when(col("before").isNotNull,
             col("before").withField(outCol, f(beforeSrc))))
      .withColumn("changed_cols",
        when(col("changed_cols").isNotNull,
             array_union(col("changed_cols"), array(lit(outCol))))
          .otherwise(col("changed_cols")))
  }

  /** Replay one event stream across `cuts`, maintaining every registered
    * view off one shared decode + merge per batch. The replay's own part
    * is the micro-batch discipline (child session, AQE off, batch-width
    * shuffles, log pinned once); the batches fold in [[fold]], the same
    * kernel the table runner calls. `maxEventsPerBatch` splits a backlog
    * via [[MultiView.autoCuts]]. */
  def replay(events: DataFrame, cuts: Seq[Long], pk: Seq[String],
             maintainers: Seq[Maintainer[_]],
             batchShufflePartitions: Int = 8,
             maxLocalKeys: Int = JoinView.DefaultMaxLocalKeys,
             maxEventsPerBatch: Option[Int] = None): Result = {
    requireRegistration(maintainers)
    val parent = events.sparkSession
    val child = MultiView.batchSession(parent, batchShufflePartitions)
    val events0 = MultiView.emptyIn(child, events.limit(0))
    val ms = maintainers.map(_.asInstanceOf[Maintainer[Any]])
    val pinned = MultiView.pinnedIn(child, events)
    val allCuts = maxEventsPerBatch.fold(cuts)(m =>
      (cuts ++ MultiView.autoCuts(pinned, m)).distinct.sorted)
    val (st, states) = fold(
      MultiView.emptyIn(child, Materializer.compact(events.limit(0), pk)),
      ms, ms.map(_.empty(events0, pk)), pinned, allCuts, pk, maxLocalKeys,
      child)
    import org.apache.spark.sql.graft.bridge.reRoot
    new Result(reRoot(st, parent),
      maintainers.zip(states).map { case (m, s) =>
        (m: Maintainer[_]) -> m.asInstanceOf[Maintainer[Any]].reRoot(s, parent)
      }.toMap)
  }

  /** A replay's maintainers: at least one, each a distinct instance —
    * results are keyed by maintainer IDENTITY, so a repeated instance
    * would collapse to one entry and silently drop a registration. */
  private[cdc] def requireRegistration(maintainers: Seq[AnyRef]): Unit = {
    require(maintainers.nonEmpty, "at least one maintainer")
    require(maintainers.distinct.size == maintainers.size,
      "each maintainer must be a distinct instance (results are keyed " +
        "by identity); build a second instance for a second view")
  }

  /** THE table fold kernel — the only per-batch window loop over one
    * table, shared by [[replay]], the table runner
    * ([[graft.streaming.CdcStream.maintainTableViewsToParquet]]) and its
    * snapshot seed. Folds `delta` window by window (`(lo, hi]` between
    * consecutive `cuts`, open at both ends): one shared [[batchCtx]] per
    * window, then every maintainer's step, run concurrently
    * ([[stepConcurrently]]) with `session` active on the step threads.
    * `states` are the maintainers' states, index-aligned with `ms`.
    * Returns the merged table state and the new maintainer states. */
  private[graft] def fold(state: DataFrame, ms: Seq[Maintainer[Any]],
      states: Seq[Any], delta: DataFrame, cuts: Seq[Long], pk: Seq[String],
      maxLocalKeys: Int, session: SparkSession): (DataFrame, Seq[Any]) = {
    val windows = (Long.MinValue +: cuts) :+ Long.MaxValue
    var st = state
    var vs = states
    stepConcurrently(ms.size, Some(session)) { parSteps =>
      windows.sliding(2).foreach { case Seq(lo, hi) =>
        val (ctx, next) = batchCtx(st,
          delta.filter(col("ts") > lo && col("ts") <= hi), pk, maxLocalKeys)
        vs = parSteps(ms.zip(vs).map { case (m, s) =>
          () => m.pin(m.step(s, ctx)): Any
        })
        st = next
      }
    }
    (st, vs)
  }

  /** Run each replay batch's maintainer folds CONCURRENTLY: registered
    * maintainers' states are independent (results are keyed by
    * maintainer identity; no step reads another's state), so the
    * per-step driver actions — capped collects, pin materializations —
    * overlap instead of serializing into one long latency chain per
    * batch. This is also the production shape: independent maintained
    * views of one topic advance in parallel. Shared ctx frames are lazy
    * pins; the first step to touch one materializes it and the rest
    * wait on the block locks, so nothing computes twice. `body`
    * receives a `parSteps` that preserves input order and rethrows a
    * failed step's own exception (not the pool wrapper's); on a failed
    * step the outstanding siblings are CANCELLED (interrupt +
    * shutdownNow) before the rethrow, so abandoned steps don't race the
    * caller's finally cleanup (prefetch shutdown, cache release).
    * States already pinned by completed siblings of the failed batch
    * stay pinned until the session's ContextCleaner reaps them — the
    * failure path trades that bounded leak for not blocking on work
    * whose result is discarded.
    *
    * Steps run on POOL threads that do not carry the replay thread's
    * Spark thread-locals; `active` (the replay's child session, conf'd
    * AQE-off at batch width) is installed as the thread's active
    * session inside each callable so a step reaching for
    * `SparkSession.active`/`SQLConf.get` binds the session its ctx
    * frames live in, never the parent's conf. Maintainer.step should
    * still prefer `df.sparkSession` over ambient lookups. */
  private[cdc] def stepConcurrently(
      width: Int, active: Option[SparkSession] = None)(
      body: (Seq[() => Any] => Seq[Any]) => Unit): Unit = {
    val pool =
      java.util.concurrent.Executors.newFixedThreadPool(math.max(1, width))
    def parSteps(fs: Seq[() => Any]): Seq[Any] = {
      val futs = fs.map { f =>
        pool.submit(new java.util.concurrent.Callable[Any] {
          def call(): Any = {
            active.foreach(SparkSession.setActiveSession)
            f()
          }
        })
      }
      try futs.map { fut =>
        try fut.get()
        catch { case e: java.util.concurrent.ExecutionException =>
          throw e.getCause }
      } catch { case e: Throwable =>
        futs.foreach(_.cancel(true))
        pool.shutdownNow()
        throw e
      }
    }
    try body(parSteps) finally pool.shutdown()
  }
}
