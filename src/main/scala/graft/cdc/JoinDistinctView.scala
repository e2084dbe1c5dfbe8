package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incrementally-maintained COUNT(DISTINCT) OVER A JOIN —
  * `γ_{g; count(distinct v)}(L ⋈ R)` from two changelogs: "distinct
  * customers with a live order, per nation", exact under deletes. The
  * non-subtractable composition: [[JoinAggView]]'s retract/insert
  * delta-join rows feed [[IncrementalAgg]]'s net pair-multiplicity state
  * instead of a sum fold — a delete of a customer's LAST live order drops
  * them from the count (which no sketch over the join can answer), while
  * other orders keep the (group, customer) pair's multiplicity positive.
  *
  * State: `(L, R, pairs(g, v, net), groups(g, n_rows))` — the pair table
  * is bounded by the live (group, value) cardinality of the JOIN, never
  * by |join rows| (multiplicities are summed); per-batch shuffle is
  * bounded by delta-adjacent join rows (the same two-branch broadcast
  * restriction as JoinAggView) plus the touched pairs. NULL discipline
  * matches `COUNT(DISTINCT v)`: NULL values form no pair, but live
  * groups whose values are all NULL still report 0.
  */
object JoinDistinctView {

  /** Tombstone-aware L/R states + the pair-multiplicity distinct state. */
  final case class State(left: DataFrame, right: DataFrame,
                         pairs: DataFrame, groups: DataFrame)

  /** Public face: `groupCol, n_distinct_<valueCol>` over live groups —
    * exactly [[IncrementalAgg.distinctCountView]]'s schema. */
  def view(st: State, groupCol: String, valueCol: String): DataFrame =
    IncrementalAgg.distinctCountView(
      IncrementalAgg.DistinctState(st.pairs, st.groups), groupCol, valueCol)

  /** The maintained pair state IS a [[IncrementalAgg.DistinctState]], so
    * the whole non-subtractable family over the JOIN rides the same
    * state: exact MIN/MAX per group under deletes ("cheapest live order
    * per nation" stays right when the cheapest is deleted)… */
  def minMaxView(st: State, groupCol: String, valueCol: String): DataFrame =
    IncrementalAgg.minMaxView(
      IncrementalAgg.DistinctState(st.pairs, st.groups), groupCol, valueCol)

  /** …and exact discrete PERCENTILES per group (see
    * [[IncrementalAgg.percentileView]] — one g-partitioned window pass
    * over the live pairs, multiplicities summed, never exploded). */
  def percentileView(st: State, groupCol: String, valueCol: String,
                     ps: Seq[Double]): DataFrame =
    IncrementalAgg.percentileView(
      IncrementalAgg.DistinctState(st.pairs, st.groups), groupCol, valueCol,
      ps)

  /** The pair-state-specific half of a batch — JoinAggView's delta-join
    * restriction, folded into the additive pair state off the shared
    * [[SnowflakeView.chainStep]] (via [[maintainer]]). */
  private[cdc] def stepPairs(pairs: DataFrame, groups: DataFrame,
                             ctx: MultiView.BatchCtx,
                             groupCol: String, valueCol: String)
      : (DataFrame, DataFrame) = {
    def touched(liveL: DataFrame, liveR: DataFrame, w: Int): DataFrame =
      JoinAggView.touchedJoinRows(liveL, liveR, ctx.changedL, ctx.lLocal,
        ctx.changedR, ctx.rLocal, ctx.lPk, ctx.rPk, ctx.lJoinCols,
        Seq(groupCol),
        Seq((valueCol, valueCol,
             scala.Predef.identity[org.apache.spark.sql.Column] _)), w)
    // FROM-EMPTY (bootstrap) fold: empty pair/group states mean the
    // pre-merge join is empty (state invariant), so the retract branch
    // and the changed-key restrictions are pure overhead — the delta is
    // the full post-merge join weighted +1, and mergeAdditive below
    // takes its own from-empty shortcut (bridge.staticallyEmpty
    // contract: plan-only).
    val bbr = org.apache.spark.sql.graft.bridge
    if (bbr.staticallyEmpty(pairs) && bbr.staticallyEmpty(groups)) {
      val fkJ = MultiView.FkJoin(ctx.lPk, ctx.rPk, ctx.lJoinCols)
      val insert0 = fkJ.joinBoundedL(ctx.liveL, ctx.liveR, ctx.lLocal)
        .select(col(groupCol).as("g"), col(valueCol).as("v"),
                lit(1L).as("w"))
      val pairsAll0 = insert0.groupBy(col("g"), col("v"))
        .agg(sum(col("w")).as("net"))
        .localCheckpoint(false)
      val dPairs0 = pairsAll0.filter(col("v").isNotNull && col("net") =!= 0)
      val dGroups0 = pairsAll0.groupBy(col("g"))
        .agg(sum(col("net")).as("n_rows"))
        .filter(col("n_rows") =!= 0)
      return (IncrementalAgg.mergeAdditive(pairs, dPairs0, Seq("g", "v"),
                                           Seq("net"), ctx.maxLocalKeys),
              IncrementalAgg.mergeAdditive(groups, dGroups0, Seq("g"),
                                           Seq("n_rows"), ctx.maxLocalKeys))
    }
    val retract = touched(ctx.preLiveL, ctx.preLiveR, -1)
    val insert = touched(ctx.liveL, ctx.liveR, +1)
    // ONE shuffle over the weighted delta-join rows: aggregate to (g, v)
    // net multiplicities first (NULL v keeps its own row so group liveness
    // counts every row), pin THAT — it is |touched pairs|-sized, far
    // smaller than the rows — and derive both additive merges from it.
    // The g roll-up re-aggregates the pinned partials instead of paying a
    // second full-width shuffle of the delta-join rows.
    val rows = retract.unionByName(insert)
      .select(col(groupCol).as("g"), col(s"__v_$valueCol").as("v"),
              col("__w").cast("long").as("w"))
    val pairsAll = rows.groupBy(col("g"), col("v"))
      .agg(sum(col("w")).as("net"))
      .localCheckpoint(false)
    val dPairs = pairsAll.filter(col("v").isNotNull && col("net") =!= 0)
    val dGroups = pairsAll.groupBy(col("g")).agg(sum(col("net")).as("n_rows"))
      .filter(col("n_rows") =!= 0)
    (IncrementalAgg.mergeAdditive(pairs, dPairs, Seq("g", "v"),
                                  Seq("net"), ctx.maxLocalKeys),
     IncrementalAgg.mergeAdditive(groups, dGroups, Seq("g"),
                                  Seq("n_rows"), ctx.maxLocalKeys))
  }

  /** This pair-state family as a [[MultiView.Maintainer]] — state is
    * `(pairs, groups)`; one maintained instance serves COUNT(DISTINCT),
    * MIN/MAX, and exact PERCENTILES over the join (wrap the shared
    * replay's L/R states and this pair into a [[State]] for the view
    * faces). */
  def maintainer(groupCol: String, valueCol: String)
      : MultiView.Maintainer[(DataFrame, DataFrame)] =
    new MultiView.Maintainer[(DataFrame, DataFrame)] {
      def empty(liveL0: DataFrame, liveR0: DataFrame, lPk: Seq[String],
                rPk: Seq[String], lJoinCols: Seq[String])
          : (DataFrame, DataFrame) = {
        val rows0 = liveL0.join(liveR0,
            lJoinCols.zip(rPk).map { case (l, r) => col(l) === col(r) }
              .reduce(_ && _))
          .select(col(groupCol).as("g"), col(valueCol).as("v"),
                  lit(1L).as("w"))
        (MultiView.emptyLike(
           rows0.groupBy(col("g"), col("v")).agg(sum(col("w")).as("net"))),
         MultiView.emptyLike(
           rows0.groupBy(col("g")).agg(sum(col("w")).as("n_rows"))))
      }
      def step(st: (DataFrame, DataFrame), ctx: MultiView.BatchCtx)
          : (DataFrame, DataFrame) =
        stepPairs(st._1, st._2, ctx, groupCol, valueCol)
      def pin(st: (DataFrame, DataFrame)): (DataFrame, DataFrame) =
        (st._1.localCheckpoint(false), st._2.localCheckpoint(false))
      def reRoot(st: (DataFrame, DataFrame),
                 to: org.apache.spark.sql.SparkSession)
          : (DataFrame, DataFrame) = {
        val b = org.apache.spark.sql.graft.bridge
        (b.reRoot(st._1, to), b.reRoot(st._2, to))
      }
    }
}
