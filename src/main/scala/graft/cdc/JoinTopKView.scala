package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incrementally-maintained per-group TOP-K OVER A JOIN — "the 3 most
  * expensive live orders per customer NATION, with the customer's name"
  * — from two changelogs. The composition: [[JoinView]] maintains the
  * join materialization (top-k needs row images, so the join state is
  * required either way), and the rank view re-ranks ONLY the groups the
  * batch's delta-join rows touched ([[IncrementalTopK]]'s
  * delta-restricted recompute, with the touched-group set derived from
  * the same two-branch broadcast restriction as [[JoinAggView]] — both
  * pre- and post-merge sides, so group-moving dimension updates re-rank
  * BOTH groups).
  *
  * Scale shape: per batch O(|Δ| + |delta-adjacent join rows| + |touched
  * groups' join rows|); untouched groups' rank rows pass through a
  * broadcast anti join; neither table state nor the join view is ever
  * reshuffled whole. */
object JoinTopKView {

  /** The rank-specific half of a batch, folded off the shared
    * [[SnowflakeView.chainStep]] (via [[maintainer]]): advance the join view
    * one step, then re-rank ONLY the touched groups. `viewCols` is the
    * join-view projection (must include `lPk`, `lJoinCols`, `groupCol`,
    * `orderCol`); ranks are `orderCol DESC, lPk ASC` within `groupCol`,
    * top `k` kept. Returns (viewNext — pinned, it is scanned by the
    * group derivation AND the re-rank —, rankedNext). */
  private[cdc] def stepRanked(view: DataFrame, ranked: DataFrame,
                              ctx: MultiView.BatchCtx, viewCols: Seq[String],
                              groupCol: String, orderCol: String, k: Int)
      : (DataFrame, DataFrame) = {
    import ctx.{changedL, lLocal, rLocal, lPk, lJoinCols, maxLocalKeys,
                hinted}
    val spark = ctx.liveL.sparkSession
    val viewNext = JoinView.stepView(view, ctx, viewCols)
      .localCheckpoint(false)
    // FROM-EMPTY (bootstrap) fold: every group of the fresh view is
    // touched and no rank row carries over — the ranked state is a
    // straight top-k of the new view; the touched-group pin + collect
    // and the group anti/semi pair drop out (bridge.staticallyEmpty
    // contract: plan-only).
    val bbr = org.apache.spark.sql.graft.bridge
    if (bbr.staticallyEmpty(view) && bbr.staticallyEmpty(ranked))
      return (viewNext,
              IncrementalTopK.topK(viewNext, lPk, groupCol, orderCol, k))
    // Touched groups, derived from the MATERIALIZED views rather than by
    // re-joining the table states: every view row the batch changes has
    // pk ∈ keys(ΔL) ∨ fk ∈ keys(ΔR) — its PRE-merge version sits in the
    // previous view (groups losing rows), its POST-merge version in the
    // new one (groups gaining them). Two broadcast semi-joins per view
    // over pinned scans replace the four state-side delta joins the
    // pre/post recompute would need. (Superset-safe: a re-ranked
    // untouched group reproduces its rows unchanged.)
    def touchedGroups(v: DataFrame): DataFrame =
      v.join(hinted(changedL, lLocal), lPk, "left_semi")
        .select(col(groupCol))
        .unionByName( // fk semi: over-cap SALTED (MultiView.FkJoin)
          ctx.fkFilter(v, "left_semi").select(col(groupCol)))
    val tgSel = touchedGroups(view)
      .unionByName(touchedGroups(viewNext))
      .distinct().localCheckpoint(false)
    val tgRows = tgSel.limit(maxLocalKeys + 1).collect().toSeq
    val (tg, tgLocal) =
      if (tgRows.size > maxLocalKeys) (tgSel, false)
      else (spark.createDataFrame(
        scala.jdk.CollectionConverters.SeqHasAsJava(tgRows).asJava,
        tgSel.schema), true)
    def byGroup(left: DataFrame, how: String): DataFrame = {
      val tgA = tg.alias("__tg")
      left.alias("__l").join(if (tgLocal) broadcast(tgA) else tgA,
        col(s"__l.$groupCol") <=> col(s"__tg.$groupCol"), how)
        .select(left.columns.map(c => col(s"__l.$c")): _*)
    }
    val untouched = byGroup(ranked, "left_anti")
    val reranked = IncrementalTopK.topK(byGroup(viewNext, "left_semi"),
                                        lPk, groupCol, orderCol, k)
    (viewNext, untouched.unionByName(reranked))
  }

  /** This ranked view as a [[MultiView.Maintainer]] — state is
    * `(join view, ranked)`. The maintained join view doubles as a plain
    * [[JoinView]] materialization: project it to serve the inner-join
    * view query from the same shared replay instead of registering a
    * second view-maintaining instance. */
  def maintainer(viewCols: Seq[String], groupCol: String, orderCol: String,
                 k: Int): MultiView.Maintainer[(DataFrame, DataFrame)] =
    new MultiView.Maintainer[(DataFrame, DataFrame)] {
      def empty(liveL0: DataFrame, liveR0: DataFrame, lPk: Seq[String],
                rPk: Seq[String], lJoinCols: Seq[String])
          : (DataFrame, DataFrame) = {
        MultiView.requireViewCols(viewCols, lPk, lJoinCols)
        val v = MultiView.emptyLike(
          liveL0.join(liveR0,
              lJoinCols.zip(rPk).map { case (l, r) => col(l) === col(r) }
                .reduce(_ && _))
            .select(viewCols.map(col): _*))
        (v, MultiView.emptyLike(
              IncrementalTopK.topK(v, lPk, groupCol, orderCol, k)))
      }
      def step(st: (DataFrame, DataFrame), ctx: MultiView.BatchCtx)
          : (DataFrame, DataFrame) =
        stepRanked(st._1, st._2, ctx, viewCols, groupCol, orderCol, k)
      def pin(st: (DataFrame, DataFrame)): (DataFrame, DataFrame) =
        (st._1, st._2.localCheckpoint(false)) // view pinned in stepRanked
      def reRoot(st: (DataFrame, DataFrame),
                 to: org.apache.spark.sql.SparkSession)
          : (DataFrame, DataFrame) = {
        val b = org.apache.spark.sql.graft.bridge
        (b.reRoot(st._1, to), b.reRoot(st._2, to))
      }
    }
}
