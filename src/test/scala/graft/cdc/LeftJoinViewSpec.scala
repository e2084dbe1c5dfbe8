package graft.cdc

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Left-outer-join IVM: the pad/retract dance on a handcrafted two-topic
  * sequence (NULL-pad before the dim arrives, retract the pad when it
  * does, re-pad when it dies), over-cap fallback parity, and convergence
  * to the direct recompute on the synthesized changelogs. */
class LeftJoinViewSpec extends SparkSpec {

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
    rows.toSeq.map { case (op, ts, seq, (ck, name)) =>
      (op, ts, seq, ck, name)
    }.toDF("op", "ts", "seq", "ck", "name")
      .select(col("op"), col("ts"), col("seq"),
              struct(col("ck"), col("name")).as("after"))
  }

  private val viewCols = Seq("k", "fk", "price", "name")

  /** The view after the batches `cuts` splits the events up to `hi` into
    * — the generic replay with this one maintainer. */
  private def upTo(l: DataFrame, r: DataFrame, hi: Long, cuts: Seq[Long],
                   cap: Int = JoinView.DefaultMaxLocalKeys) = {
    val m = LeftJoinView.maintainer(viewCols)
    MultiView.replay(l.filter(col("ts") <= hi), r.filter(col("ts") <= hi),
      cuts, Seq("k"), Seq("ck"), Seq("fk"), Seq(m), maxLocalKeys = cap)(m)
  }

  private def rows(view: DataFrame) =
    view.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
                 Option(r.getString(3)))).toSet

  test("stepwise: pad before the dim arrives, retract pad, re-pad on death") {
    val l = lEvents(
      ("insert", 1L, 1L, (1L, 10L, 5.0)),
      ("insert", 1L, 2L, (2L, 20L, 7.0)))
    val r = rEvents(
      ("insert", 1L, 1L, (20L, "b")),
      ("insert", 4L, 2L, (10L, "a")),   // LATE: fact 1 padded until now
      ("delete", 8L, 3L, (20L, "b")))   // fact 2's dim dies -> re-pad
    val st1 = upTo(l, r, 3, Seq())
    assert(rows(st1) == Set((1L, 10L, 5.0, None), (2L, 20L, 7.0, Some("b"))),
      "a fact with no dimension must appear NULL-padded, not vanish")
    val st2 = upTo(l, r, 6, Seq(3L))
    assert(rows(st2) == Set((1L, 10L, 5.0, Some("a")),
                            (2L, 20L, 7.0, Some("b"))),
      "the dim's arrival must RETRACT the pad row and join the fact")
    val st3 = upTo(l, r, Long.MaxValue, Seq(3L, 6L))
    assert(rows(st3) == Set((1L, 10L, 5.0, Some("a")), (2L, 20L, 7.0, None)),
      "the dim's death must re-pad its facts, not drop them")
  }

  test("fact churn: updates rebuild their row, deletes remove it (padded too)") {
    val l = lEvents(
      ("insert", 1L, 1L, (1L, 10L, 5.0)),
      ("insert", 1L, 2L, (2L, 99L, 7.0)),  // fk 99 never arrives
      ("update", 5L, 3L, (1L, 10L, 6.0)),
      ("delete", 9L, 4L, (2L, 99L, 7.0)))  // padded row deleted
    val r = rEvents(("insert", 1L, 1L, (10L, "a")))
    val st1 = upTo(l, r, 3, Seq())
    assert(rows(st1) == Set((1L, 10L, 5.0, Some("a")), (2L, 99L, 7.0, None)))
    val st2 = upTo(l, r, 6, Seq(3L))
    assert(rows(st2) == Set((1L, 10L, 6.0, Some("a")), (2L, 99L, 7.0, None)))
    val st3 = upTo(l, r, Long.MaxValue, Seq(3L, 6L))
    assert(rows(st3) == Set((1L, 10L, 6.0, Some("a"))),
      "deleting a padded fact must remove its pad row")
  }

  test("fk retarget moves a fact between dims (and into/out of padding)") {
    val l = lEvents(
      ("insert", 1L, 1L, (1L, 10L, 5.0)),
      ("update", 4L, 2L, (1L, 20L, 5.0)),   // retarget to missing dim
      ("update", 8L, 3L, (1L, 10L, 5.0)))   // back to the live one
    val r = rEvents(("insert", 1L, 1L, (10L, "a")))
    val st1 = upTo(l, r, 3, Seq())
    assert(rows(st1) == Set((1L, 10L, 5.0, Some("a"))))
    val st2 = upTo(l, r, 6, Seq(3L))
    assert(rows(st2) == Set((1L, 20L, 5.0, None)),
      "retargeting to an absent dim must swap the joined row for a pad")
    val st3 = upTo(l, r, Long.MaxValue, Seq(3L, 6L))
    assert(rows(st3) == Set((1L, 10L, 5.0, Some("a"))))
  }

  test("over-cap batches fall back to distributed joins and stay exact") {
    val l = lEvents(
      ("insert", 1L, 1L, (1L, 10L, 5.0)),
      ("insert", 1L, 2L, (2L, 20L, 7.0)),
      ("update", 5L, 3L, (1L, 10L, 6.0)),
      ("delete", 9L, 4L, (2L, 20L, 7.0)))
    val r = rEvents(
      ("insert", 4L, 1L, (10L, "a")),
      ("delete", 8L, 2L, (10L, "a")))
    def runWith(cap: Int) = upTo(l, r, Long.MaxValue, Seq(3L, 6L), cap)
    assert(rows(runWith(0)) == rows(runWith(100000)),
      "over-cap distributed fallback diverges from the broadcast path")
  }

  test("applyBatch view plan: no state exchange, no state broadcast") {
    // mirror replay's micro-batch conf so the assertion sees the static
    // plan (JoinAggViewSpec rationale)
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    s2.conf.set("spark.sql.shuffle.partitions", "4")
    import s2.implicits._
    val l = Seq(("insert", 1L, 1L, 1L, 10L, 5.0), ("insert", 1L, 2L, 2L, 99L, 7.0))
      .toDF("op", "ts", "seq", "k", "fk", "price")
      .select(col("op"), col("ts"), col("seq"),
              struct(col("k"), col("fk"), col("price")).as("after"))
    val r = Seq(("insert", 1L, 1L, 10L, "a"))
      .toDF("op", "ts", "seq", "ck", "name")
      .select(col("op"), col("ts"), col("seq"),
              struct(col("ck"), col("name")).as("after"))
    val emptyL = Materializer.compact(l.limit(0), Seq("k"))
    val emptyR = Materializer.compact(r.limit(0), Seq("ck"))
    // one step: the shared batch ctx plus this maintainer's fold
    val (_, _, ctx) = SnowflakeView.chainStep(Seq(emptyL, emptyR),
      Seq.empty, Seq(l, r), Seq(Seq("k"), Seq("ck")), Seq(Seq("fk")),
      keys = None, maxLocalKeys = JoinView.DefaultMaxLocalKeys)
    val st = LeftJoinView.maintainer(viewCols).step(
      LeftJoinView.directView(
        emptyL.drop(Materializer.MetaCols: _*),
        emptyR.drop(Materializer.MetaCols: _*),
        Seq("ck"), Seq("fk"), viewCols).limit(0), ctx)
    val plan = st.queryExecution.executedPlan.toString
    // the outer-join decomposition must keep every state-side join
    // broadcast-from-the-delta-side: no sort-merge join, no hash
    // exchange of a state table anywhere in the maintenance path (the
    // un-pinned rebuild keeps the WHOLE tree visible here)
    assert(!plan.contains("SortMergeJoin"),
      s"left-join rebuild degraded to sort-merge:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"left-join rebuild exchanges a state table:\n$plan")
    // and the decomposition is semantically right in one batch: matched
    // fact joined, unmatched fact padded
    val got = rows(st)
    assert(got == Set((1L, 10L, 5.0, Some("a")), (2L, 99L, 7.0, None)),
      s"one-batch decomposition wrong: $got")
  }

  test("replay over the synthesized changelogs equals the direct recompute") {
    val m = LeftJoinView.maintainer(Seq("o_orderkey", "o_custkey",
      "o_totalprice", "c_name", "c_acctbal"))
    val view = MultiView.replay(
      ChangelogGen.ordersChangeEvents(spark, sfDir),
      ChangelogGen.customerChangeEvents(spark, sfDir),
      cuts = Seq(788918400L, 852076800L),
      lPk = Seq("o_orderkey"), rPk = Seq("c_custkey"),
      lJoinCols = Seq("o_custkey"), maintainers = Seq(m))(m)
    val direct = LeftJoinView.directView(
      ChangelogGen.ordersState(spark, sfDir),
      ChangelogGen.customerState(spark, sfDir),
      Seq("c_custkey"), Seq("o_custkey"),
      Seq("o_orderkey", "o_custkey", "o_totalprice", "c_name", "c_acctbal"))
    assert(view.count() > 0)
    // the outer view must be STRICTLY bigger than the inner one at this
    // data: customers %25==0 are deleted, their orders padded
    assert(view.filter(col("c_name").isNull).count() > 0,
      "expected NULL-padded orders (deleted customers) in the outer view")
    assert(view.exceptAll(direct).isEmpty &&
           direct.exceptAll(view).isEmpty,
      "maintained left-outer view diverges from direct recompute")
  }
}
