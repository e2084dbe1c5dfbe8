package graft.cdc

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Shared single-topic fan-out: every view fanned off ONE TableViews
  * replay must equal its standalone computation over the same changelog
  * — one decode + one merge per batch, identical view semantics. */
class TableViewsSpec extends SparkSpec {

  private val cuts = Seq(788918400L, 852076800L)
  private val pk = Seq("o_orderkey")

  private def rowsOf(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  test("fanned single-topic views equal their standalone computations") {
    val ev = ChangelogGen.ordersChangeEvents(spark, sfDir)
    val mTopK = IncrementalTopK.maintainer("o_orderstatus",
                                           "o_totalprice", k = 3)
    val mDist = IncrementalAgg.distinctMaintainer("o_orderstatus",
                                                  "o_custkey")
    val mMom = IncrementalAgg.momentsMaintainer("o_orderstatus",
      "o_totalprice", _.cast("decimal(18,8)"))
    val res = TableViews.replay(ev, cuts, pk, Seq(mTopK, mDist, mMom))

    // top-k: equals a single-maintainer replay with the same cuts
    val mSolo = IncrementalTopK.maintainer("o_orderstatus",
                                           "o_totalprice", k = 3)
    val soloTopK = TableViews.replay(ev, cuts, pk, Seq(mSolo))(mSolo)
    assert(rowsOf(res(mTopK)) == rowsOf(soloTopK),
      "fanned top-k != single-maintainer replay")

    // count-distinct: the batched fold equals the one-shot fold
    val fanned = IncrementalAgg.distinctCountView(res(mDist),
      "o_orderstatus", "o_custkey")
    val solo = IncrementalAgg.distinctCount(ev, "o_orderstatus",
                                            "o_custkey")
    assert(rowsOf(fanned) == rowsOf(solo),
      "fanned count-distinct != one-shot fold")

    // moments: batched decimal sums are exactly the one-shot sums
    val fannedM = IncrementalAgg.momentsView(res(mMom))
    val soloM = IncrementalAgg.moments(ev, "o_orderstatus",
      "o_totalprice", valueCast = _.cast("decimal(18,8)"))
    assert(rowsOf(fannedM) == rowsOf(soloM),
      "fanned moments != one-shot moments")

    // the shared table state equals a direct full-log compact
    assert(rowsOf(res.state) == rowsOf(Materializer.compact(ev, pk)),
      "shared table state != direct compact")
  }

  test("auto-cut single-topic replay equals the one-batch replay") {
    val ev = ChangelogGen.ordersChangeEvents(spark, sfDir)
    val mDist = IncrementalAgg.distinctMaintainer("o_orderstatus",
                                                  "o_custkey")
    def run(cuts: Seq[Long], maxPer: Option[Int]): Set[String] =
      rowsOf(IncrementalAgg.distinctCountView(
        TableViews.replay(ev, cuts, pk, Seq(mDist),
          maxEventsPerBatch = maxPer)(mDist),
        "o_orderstatus", "o_custkey"))
    val one = run(Seq.empty, None)
    assert(run(Seq.empty, Some(500)) == one,
      "auto-cut replay must equal the one-batch replay")
  }
}
