package graft.cdc

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Shared multi-view maintenance: every view fanned off ONE MultiView
  * replay must equal its own single-maintainer replay over the same
  * changelogs (same cuts, same configs) and the direct recompute over
  * the final states — the fan-out only removes duplicated per-batch
  * work, never changes a view's semantics. */
class MultiViewSpec extends SparkSpec {

  private val cuts = Seq(788918400L, 852076800L) // CdcQueries' snap times
  private val lPk = Seq("o_orderkey")
  private val rPk = Seq("c_custkey")
  private val fk = Seq("o_custkey")
  private val innerCols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
                              "o_totalprice", "c_name", "c_acctbal")
  private val unionCols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
                              "o_totalprice", "c_nationkey", "c_name",
                              "c_acctbal")
  private val dec =
    (c: org.apache.spark.sql.Column) => c.cast("decimal(25,10)")

  private def rowsOf(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  test("fanned views equal their standalone replays") {
    val lEv = ChangelogGen.ordersChangeEvents(spark, sfDir)
    val rEv = ChangelogGen.customerChangeEvents(spark, sfDir)

    val mJoin = JoinTopKView.maintainer(unionCols, "c_nationkey",
                                        "o_totalprice", k = 3)
    val mLeft = LeftJoinView.maintainer(innerCols)
    val mAgg = JoinAggView.maintainerNamed(Seq("c_nationkey"),
      Seq(("o_totalprice", "o_totalprice", dec),
          ("c_acctbal", "c_acctbal", dec)))
    val mDist = JoinDistinctView.maintainer("c_nationkey", "o_custkey")
    val res = MultiView.replay(lEv, rEv, cuts, lPk, rPk, fk,
      maintainers = Seq(mJoin, mLeft, mAgg, mDist))

    // each view alone: a single-maintainer replay over the same cuts
    def solo[S](m: MultiView.Maintainer[S]): (S, MultiView.Result) = {
      val r = MultiView.replay(lEv, rEv, cuts, lPk, rPk, fk, Seq(m))
      (r(m), r)
    }
    // the direct recomputes run over the fanned replay's final states
    val liveL = Materializer.liveView(res.left)
    val liveR = Materializer.liveView(res.right)
    val joined = liveL.join(liveR, col("o_custkey") === col("c_custkey"))

    // inner join view (projection of the union-column maintained view)
    val (soloJoin, soloJoinRes) = solo(JoinView.maintainer(innerCols))
    assert(rowsOf(res(mJoin)._1.select(innerCols.map(col): _*)) ==
             rowsOf(soloJoin),
      "fanned inner view != single-maintainer replay")
    assert(rowsOf(soloJoin) == rowsOf(joined.select(innerCols.map(col): _*)),
      "inner view != direct recompute over final states")

    // ranked top-k over the join
    val (soloTopK, _) = solo(JoinTopKView.maintainer(unionCols,
      "c_nationkey", "o_totalprice", k = 3))
    assert(rowsOf(res(mJoin)._2) == rowsOf(soloTopK._2),
      "fanned top-k != single-maintainer replay")
    assert(rowsOf(soloTopK._2) == rowsOf(IncrementalTopK.topK(
        joined.select(unionCols.map(col): _*), lPk, "c_nationkey",
        "o_totalprice", 3)),
      "top-k != direct recompute over final states")

    // left-outer view
    val (soloLeft, _) = solo(LeftJoinView.maintainer(innerCols))
    assert(rowsOf(res(mLeft)) == rowsOf(soloLeft),
      "fanned left view != single-maintainer replay")
    assert(rowsOf(soloLeft) ==
             rowsOf(LeftJoinView.directView(liveL, liveR, rPk, fk,
                                            innerCols)),
      "left view != direct recompute over final states")

    // multi-measure aggregate
    val measures = Seq(("o_totalprice", "o_totalprice", dec),
                       ("c_acctbal", "c_acctbal", dec))
    val (soloAgg, _) = solo(JoinAggView.maintainerNamed(Seq("c_nationkey"),
                                                        measures))
    assert(rowsOf(res(mAgg)) == rowsOf(soloAgg),
      "fanned aggregate != single-maintainer replay")
    assert(rowsOf(soloAgg) == rowsOf(JoinAggView.directAggNamed(
        liveL, liveR, rPk, fk, Seq("c_nationkey"), measures)),
      "aggregate != direct recompute over final states")

    // pair state (count-distinct face; the same state serves min/max
    // and percentiles, so the view equality covers all three)
    val (soloDist, soloDistRes) =
      solo(JoinDistinctView.maintainer("c_nationkey", "o_custkey"))
    def distinctView(l: DataFrame, r: DataFrame,
                     st: (DataFrame, DataFrame)) =
      JoinDistinctView.view(JoinDistinctView.State(l, r, st._1, st._2),
                            "c_nationkey", "o_custkey")
    val fannedDist = rowsOf(distinctView(res.left, res.right, res(mDist)))
    assert(fannedDist == rowsOf(distinctView(soloDistRes.left,
                                             soloDistRes.right, soloDist)),
      "fanned distinct view != single-maintainer replay")
    assert(fannedDist == rowsOf(joined.groupBy(col("c_nationkey"))
        .agg(countDistinct(col("o_custkey")).as("n_distinct_o_custkey"))),
      "distinct view != direct recompute over final states")

    // shared table states equal the single-maintainer replay's
    assert(rowsOf(res.left) == rowsOf(soloJoinRes.left) &&
             rowsOf(res.right) == rowsOf(soloJoinRes.right),
      "shared L/R states != single-maintainer replay states")
  }

  test("auto-cut backlog == manual cuts == one giant batch") {
    val lEv = ChangelogGen.ordersChangeEvents(spark, sfDir)
    val rEv = ChangelogGen.customerChangeEvents(spark, sfDir)
    def run(cuts: Seq[Long], maxPerBatch: Option[Int])
        : (Set[String], Set[String]) = {
      val m = JoinAggView.maintainerNamed(Seq("c_nationkey"),
        Seq(("o_totalprice", "o_totalprice", dec)))
      val res = MultiView.replay(lEv, rEv, cuts, lPk, rPk, fk, Seq(m),
        maxEventsPerBatch = maxPerBatch)
      (rowsOf(res(m)), rowsOf(res.left))
    }
    // the whole backlog in ONE batch (no cuts at all)
    val one = run(Seq.empty, None)
    // caller-chosen cuts
    val manual = run(cuts, None)
    // auto-cuts only: windows bounded to ~500 events — the backlog
    // replays as many |Δ|-bounded micro-batches
    val auto = run(Seq.empty, Some(500))
    assert(MultiView.autoCuts(lEv, rEv, 500).nonEmpty,
      "backlog larger than the bound must actually produce cuts")
    assert(auto == one, "auto-cut replay must equal the one-batch replay")
    assert(manual == one, "manual-cut replay must equal the one-batch replay")
  }

  test("over-cap fallback: fanned views stay exact on the distributed path") {
    val lEv = ChangelogGen.ordersChangeEvents(spark, sfDir)
    val rEv = ChangelogGen.customerChangeEvents(spark, sfDir)
    val mAgg = JoinAggView.maintainerNamed(Seq("c_nationkey"),
      Seq(("o_totalprice", "o_totalprice", dec)))
    val mDist = JoinDistinctView.maintainer("c_nationkey", "o_custkey")
    // maxLocalKeys = 1 forces EVERY batch over the cap: no LocalRelation
    // key sets, no broadcast hints — the whole replay runs the
    // cluster-side distributed fallback and must produce the same states
    val capped = MultiView.replay(lEv, rEv, cuts, lPk, rPk, fk,
      Seq(mAgg, mDist), maxLocalKeys = 1)
    val normal = MultiView.replay(lEv, rEv, cuts, lPk, rPk, fk,
      Seq(mAgg, mDist))
    assert(rowsOf(capped(mAgg)) == rowsOf(normal(mAgg)),
      "over-cap aggregate != under-cap aggregate")
    val cd = JoinDistinctView.State(capped.left, capped.right,
                                    capped(mDist)._1, capped(mDist)._2)
    val nd = JoinDistinctView.State(normal.left, normal.right,
                                    normal(mDist)._1, normal(mDist)._2)
    assert(rowsOf(JoinDistinctView.view(cd, "c_nationkey", "o_custkey")) ==
             rowsOf(JoinDistinctView.view(nd, "c_nationkey", "o_custkey")),
      "over-cap distinct view != under-cap distinct view")
  }

  test("fanned view equals direct recompute from the final states") {
    val lEv = ChangelogGen.ordersChangeEvents(spark, sfDir)
    val rEv = ChangelogGen.customerChangeEvents(spark, sfDir)
    val mLeft = LeftJoinView.maintainer(innerCols)
    val res = MultiView.replay(lEv, rEv, cuts, lPk, rPk, fk, Seq(mLeft))
    val direct = LeftJoinView.directView(
      Materializer.liveView(res.left), Materializer.liveView(res.right),
      rPk, fk, innerCols)
    assert(rowsOf(res(mLeft)) == rowsOf(direct),
      "fanned left view != direct recompute over final states")
  }
}
