package graft.cdc

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Top-k-over-a-join IVM: stepwise semantics on a handcrafted two-topic
  * sequence (promote-on-delete through the join, dim delete evicting its
  * facts, group-moving dimension updates re-ranking BOTH groups), over-cap
  * fallback parity, and convergence to the direct recompute on the
  * synthesized changelogs. */
class JoinTopKViewSpec extends SparkSpec {

  // fact(k, fk, price) joins dim(ck, grp); rank facts per grp by price
  private def lEvents(rows: (String, Long, Long, (Long, Long, Double))*) = {
    import spark.implicits._
    rows.toSeq.map { case (op, ts, seq, (k, fk, price)) =>
      (op, ts, seq, k, fk, price)
    }.toDF("op", "ts", "seq", "k", "fk", "price")
      .select(col("op"), col("ts"), col("seq"),
              struct(col("k"), col("fk"), col("price")).as("after"))
  }

  private def rEvents(rows: (String, Long, Long, (Long, String))*) = {
    import spark.implicits._
    rows.toSeq.map { case (op, ts, seq, (ck, grp)) =>
      (op, ts, seq, ck, grp)
    }.toDF("op", "ts", "seq", "ck", "grp")
      .select(col("op"), col("ts"), col("seq"),
              struct(col("ck"), col("grp")).as("after"))
  }

  private val viewCols = Seq("k", "fk", "grp", "price")

  /** The (join view, ranked) state after the batches `cuts` splits the
    * events up to `hi` into — the generic replay with this one
    * maintainer. */
  private def upTo(l: DataFrame, r: DataFrame, hi: Long, cuts: Seq[Long],
                   k: Int = 2, cap: Int = JoinView.DefaultMaxLocalKeys) = {
    val m = JoinTopKView.maintainer(viewCols, "grp", "price", k)
    MultiView.replay(l.filter(col("ts") <= hi), r.filter(col("ts") <= hi),
      cuts, Seq("k"), Seq("ck"), Seq("fk"), Seq(m), maxLocalKeys = cap)(m)
  }

  private def ranks(st: (DataFrame, DataFrame)) =
    st._2.collect()
      .map(r => (r.getAs[String]("grp"), r.getAs[Int]("rk"),
                 r.getAs[Long]("k"), r.getAs[Double]("price"))).toSet

  test("stepwise: fact delete promotes the runner-up through the join") {
    val l = lEvents(
      ("insert", 1L, 1L, (1L, 10L, 9.0)),
      ("insert", 1L, 2L, (2L, 10L, 7.0)),
      ("insert", 1L, 3L, (3L, 10L, 5.0)),
      ("delete", 5L, 4L, (1L, 10L, 9.0)))  // current #1 dies
    val r = rEvents(("insert", 1L, 1L, (10L, "a")))
    val st1 = upTo(l, r, 3, Seq())
    assert(ranks(st1) == Set(("a", 1, 1L, 9.0), ("a", 2, 2L, 7.0)))
    val st2 = upTo(l, r, Long.MaxValue, Seq(3L))
    assert(ranks(st2) == Set(("a", 1, 2L, 7.0), ("a", 2, 3L, 5.0)),
      "deleting the top row must promote the runner-up into the view")
  }

  test("dim delete evicts its facts; dim arrival admits late-joined facts") {
    val l = lEvents(
      ("insert", 1L, 1L, (1L, 10L, 9.0)),
      ("insert", 1L, 2L, (2L, 20L, 7.0)))  // dim 20 not yet present
    val r = rEvents(
      ("insert", 1L, 1L, (10L, "a")),
      ("insert", 4L, 2L, (20L, "b")),      // LATE dim: fact 2 joins now
      ("delete", 8L, 3L, (10L, "a")))      // dim dies -> fact 1 leaves view
    val st1 = upTo(l, r, 3, Seq())
    assert(ranks(st1) == Set(("a", 1, 1L, 9.0)),
      "a fact whose dimension has not arrived must not rank")
    val st2 = upTo(l, r, 6, Seq(3L))
    assert(ranks(st2) == Set(("a", 1, 1L, 9.0), ("b", 1, 2L, 7.0)))
    val st3 = upTo(l, r, Long.MaxValue, Seq(3L, 6L))
    assert(ranks(st3) == Set(("b", 1, 2L, 7.0)),
      "deleting a dimension must evict its joined facts from the ranks")
  }

  test("group-moving dim update re-ranks BOTH groups") {
    val l = lEvents(
      ("insert", 1L, 1L, (1L, 10L, 9.0)),
      ("insert", 1L, 2L, (2L, 10L, 7.0)),
      ("insert", 1L, 3L, (3L, 20L, 5.0)),
      ("insert", 1L, 4L, (4L, 20L, 3.0)))
    val r = rEvents(
      ("insert", 1L, 1L, (10L, "a")),
      ("insert", 1L, 2L, (20L, "b")),
      ("update", 5L, 3L, (10L, "b")))  // dim 10 moves a -> b
    val st1 = upTo(l, r, 3, Seq())
    assert(ranks(st1) == Set(("a", 1, 1L, 9.0), ("a", 2, 2L, 7.0),
                             ("b", 1, 3L, 5.0), ("b", 2, 4L, 3.0)))
    val st2 = upTo(l, r, Long.MaxValue, Seq(3L))
    assert(ranks(st2) == Set(("b", 1, 1L, 9.0), ("b", 2, 2L, 7.0)),
      "old group must empty AND new group must re-rank with the movers")
  }

  test("over-cap batches fall back to distributed keys and stay exact") {
    val l = lEvents(
      ("insert", 1L, 1L, (1L, 10L, 9.0)),
      ("insert", 1L, 2L, (2L, 10L, 7.0)),
      ("insert", 1L, 3L, (3L, 20L, 5.0)),
      ("update", 5L, 4L, (2L, 10L, 10.0)),
      ("delete", 9L, 5L, (1L, 10L, 9.0)))
    val r = rEvents(
      ("insert", 1L, 1L, (10L, "a")),
      ("insert", 4L, 2L, (20L, "b")),
      ("update", 8L, 3L, (20L, "a")))
    def runWith(cap: Int) =
      upTo(l, r, Long.MaxValue, Seq(3L, 6L), cap = cap)
    // cap=0 forces distributed key sets AND a distributed touched-group
    // set for every batch; the view must match the broadcast path
    assert(ranks(runWith(0)) == ranks(runWith(100000)),
      "over-cap distributed fallback diverges from the broadcast path")
  }

  test("replay over the synthesized changelogs equals the direct recompute") {
    val m = JoinTopKView.maintainer(
      Seq("o_orderkey", "o_custkey", "c_nationkey", "c_name",
          "o_totalprice"), "c_nationkey", "o_totalprice", k = 3)
    val (joinView, ranked) = MultiView.replay(
      ChangelogGen.ordersChangeEvents(spark, sfDir),
      ChangelogGen.customerChangeEvents(spark, sfDir),
      cuts = Seq(788918400L, 852076800L),
      lPk = Seq("o_orderkey"), rPk = Seq("c_custkey"),
      lJoinCols = Seq("o_custkey"), maintainers = Seq(m))(m)
    val direct = IncrementalTopK.topK(
      ChangelogGen.ordersState(spark, sfDir)
        .join(ChangelogGen.customerState(spark, sfDir),
              col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("o_custkey"), col("c_nationkey"),
                col("c_name"), col("o_totalprice")),
      Seq("o_orderkey"), "c_nationkey", "o_totalprice", 3)
    assert(ranked.count() > 0)
    assert(ranked.exceptAll(direct).isEmpty &&
           direct.exceptAll(ranked).isEmpty,
      "maintained top-k-over-join diverges from direct recompute")
    // and the maintained join view itself stayed exact
    val directView = ChangelogGen.ordersState(spark, sfDir)
      .join(ChangelogGen.customerState(spark, sfDir),
            col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("o_custkey"), col("c_nationkey"),
              col("c_name"), col("o_totalprice"))
    assert(joinView.exceptAll(directView).isEmpty &&
           directView.exceptAll(joinView).isEmpty)
  }
}
