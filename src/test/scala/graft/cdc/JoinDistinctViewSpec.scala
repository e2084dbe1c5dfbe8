package graft.cdc

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** COUNT(DISTINCT) over a join, maintained from deltas: multiplicity
  * semantics (a customer's last live order dropping them, earlier ones
  * not), dim-side deletes, and replay convergence. */
class JoinDistinctViewSpec extends SparkSpec {

  private def lEvents(rows: (String, Long, Long, (Long, Long))*) = {
    import spark.implicits._
    rows.toSeq.map { case (op, ts, seq, (k, fk)) => (op, ts, seq, k, fk) }
      .toDF("op", "ts", "seq", "k", "fk")
      .select(col("op"), col("ts"), col("seq"),
              struct(col("k"), col("fk")).as("after"))
  }

  private def rEvents(rows: (String, Long, Long, (Long, String))*) = {
    import spark.implicits._
    rows.toSeq.map { case (op, ts, seq, (ck, grp)) => (op, ts, seq, ck, grp) }
      .toDF("op", "ts", "seq", "ck", "grp")
      .select(col("op"), col("ts"), col("seq"),
              struct(col("ck"), col("grp")).as("after"))
  }

  /** The distinct-count face after the batches `cuts` splits the events
    * up to `hi` into — the generic replay with this one maintainer. */
  private def upTo(l: org.apache.spark.sql.DataFrame,
                   r: org.apache.spark.sql.DataFrame, hi: Long,
                   cuts: Seq[Long]) = {
    val m = JoinDistinctView.maintainer("grp", "fk")
    val res = MultiView.replay(l.filter(col("ts") <= hi),
      r.filter(col("ts") <= hi), cuts, Seq("k"), Seq("ck"), Seq("fk"),
      Seq(m))
    val (pairs, groups) = res(m)
    JoinDistinctView.State(res.left, res.right, pairs, groups)
  }

  private def counts(st: JoinDistinctView.State) =
    JoinDistinctView.view(st, "grp", "fk").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  test("last live order drops the customer; earlier deletes do not") {
    // customer 10 has two orders; 20 has one; both dims in group a
    val l = lEvents(
      ("insert", 1L, 1L, (1L, 10L)), ("insert", 1L, 2L, (2L, 10L)),
      ("insert", 1L, 3L, (3L, 20L)),
      ("delete", 5L, 4L, (1L, 10L)),   // 10 still live via order 2
      ("delete", 9L, 5L, (2L, 10L)))   // 10's LAST order -> drops
    val r = rEvents(
      ("insert", 1L, 1L, (10L, "a")), ("insert", 1L, 2L, (20L, "a")))
    val st1 = upTo(l, r, 3, Seq())
    assert(counts(st1) == Map("a" -> 2L))
    val st2 = upTo(l, r, 6, Seq(3L))
    assert(counts(st2) == Map("a" -> 2L),
      "deleting ONE of two live orders must not drop the customer")
    val st3 = upTo(l, r, Long.MaxValue, Seq(3L, 6L))
    assert(counts(st3) == Map("a" -> 1L),
      "deleting the LAST live order must drop the customer")
  }

  test("dim delete retracts all its customers' pairs") {
    val l = lEvents(
      ("insert", 1L, 1L, (1L, 10L)), ("insert", 1L, 2L, (2L, 20L)))
    val r = rEvents(
      ("insert", 1L, 1L, (10L, "a")), ("insert", 1L, 2L, (20L, "a")),
      ("delete", 5L, 3L, (10L, "a")))
    val st1 = upTo(l, r, 3, Seq())
    assert(counts(st1) == Map("a" -> 2L))
    val st2 = upTo(l, r, Long.MaxValue, Seq(3L))
    assert(counts(st2) == Map("a" -> 1L))
  }

  test("replay over the synthesized changelogs equals the direct recompute") {
    val m = JoinDistinctView.maintainer("c_nationkey", "o_custkey")
    val fin = MultiView.replay(
      ChangelogGen.ordersChangeEvents(spark, sfDir),
      ChangelogGen.customerChangeEvents(spark, sfDir),
      cuts = Seq(788918400L, 852076800L),
      lPk = Seq("o_orderkey"), rPk = Seq("c_custkey"),
      lJoinCols = Seq("o_custkey"), maintainers = Seq(m))
    val (pairs, groups) = fin(m)
    val maintained = JoinDistinctView.view(
      JoinDistinctView.State(fin.left, fin.right, pairs, groups),
      "c_nationkey", "o_custkey")
    val direct = ChangelogGen.ordersState(spark, sfDir)
      .join(ChangelogGen.customerState(spark, sfDir),
            col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey"))
      .agg(countDistinct(col("o_custkey")).as("n_distinct_o_custkey"))
    assert(maintained.count() > 0)
    assert(maintained.exceptAll(direct).isEmpty &&
           direct.exceptAll(maintained).isEmpty,
      "maintained join-distinct diverges from direct recompute")
  }
}
