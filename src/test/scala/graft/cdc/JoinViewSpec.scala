package graft.cdc

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Incremental join-view maintenance: stepwise semantics on a handcrafted
  * two-topic sequence, and convergence to a full recompute on the
  * synthesized changelogs. */
class JoinViewSpec extends SparkSpec {

  private val viewCols = Seq("k", "fk", "price", "ck", "name")

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

  private def viewRows(view: org.apache.spark.sql.DataFrame) =
    view.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
                 r.getLong(3), r.getString(4))).toSet

  /** The view after the batches `cuts` splits the events up to `hi` into
    * — the generic replay with this one maintainer. */
  private def viewUpTo(l: org.apache.spark.sql.DataFrame,
                       r: org.apache.spark.sql.DataFrame, hi: Long,
                       cuts: Seq[Long], lPk: Seq[String], rPk: Seq[String],
                       fk: Seq[String], cols: Seq[String]) = {
    val m = JoinView.maintainer(cols)
    MultiView.replay(l.filter(col("ts") <= hi), r.filter(col("ts") <= hi),
      cuts, lPk, rPk, fk, Seq(m))(m)
  }

  test("stepwise: inserts, late dimension arrival, updates, deletes") {
    val l = lEvents(
      ("insert", 1L, 1L, (1L, 10L, 5.0)),
      ("insert", 1L, 2L, (2L, 20L, 7.0)),
      ("update", 5L, 3L, (1L, 10L, 6.0)),
      ("delete", 9L, 4L, (2L, 20L, 7.0)))
    val r = rEvents(
      ("insert", 2L, 1L, (20L, "c20")),
      ("insert", 4L, 2L, (10L, "c10")), // LATE: fact referenced it at ts=1
      ("delete", 8L, 3L, (10L, "c10")))
    def upTo(hi: Long, cuts: Seq[Long]) =
      viewUpTo(l, r, hi, cuts, Seq("k"), Seq("ck"), Seq("fk"), viewCols)
    // batch 1 (ts <= 3): both facts + c20 only -> view has just k=2
    assert(viewRows(upTo(3, Seq())) == Set((2L, 20L, 7.0, 20L, "c20")),
      "late dimension must NOT appear before its insert arrives")
    // batch 2 (3 < ts <= 6): c10 arrives + k=1 price update -> both rows
    assert(viewRows(upTo(6, Seq(3L))) == Set(
      (1L, 10L, 6.0, 10L, "c10"), (2L, 20L, 7.0, 20L, "c20")),
      "late dim row must join retroactively with the updated fact")
    // batch 3 (ts > 6): delete c10 and fact k=2 -> empty view
    assert(viewRows(upTo(Long.MaxValue, Seq(3L, 6L))).isEmpty,
      "deletes on either side must remove their view rows")
  }

  test("composite keys: stepwise semantics over two-column pks") {
    import spark.implicits._
    // left pk (k1,k2), fk (fk1,fk2) -> right pk (ck1,ck2); same event
    // plan as the single-key stepwise test, keys split into two columns
    val l = Seq(
      ("insert", 1L, 1L, 1L, 1L, 10L, 1L, 5.0),
      ("insert", 1L, 2L, 1L, 2L, 20L, 2L, 7.0),
      ("update", 5L, 3L, 1L, 1L, 10L, 1L, 6.0),
      ("delete", 9L, 4L, 1L, 2L, 20L, 2L, 7.0))
      .toDF("op", "ts", "seq", "k1", "k2", "fk1", "fk2", "price")
      .select(col("op"), col("ts"), col("seq"),
              struct(col("k1"), col("k2"), col("fk1"), col("fk2"),
                     col("price")).as("after"))
    val r = Seq(
      ("insert", 2L, 1L, 20L, 2L, "c20"),
      ("insert", 4L, 2L, 10L, 1L, "c10"), // LATE: referenced at ts=1
      ("delete", 8L, 3L, 10L, 1L, "c10"))
      .toDF("op", "ts", "seq", "ck1", "ck2", "name")
      .select(col("op"), col("ts"), col("seq"),
              struct(col("ck1"), col("ck2"), col("name")).as("after"))
    val vCols = Seq("k1", "k2", "fk1", "fk2", "price", "ck1", "ck2", "name")
    def rows(view: org.apache.spark.sql.DataFrame) = view.collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3),
                 x.getDouble(4), x.getLong(5), x.getLong(6),
                 x.getString(7))).toSet
    val lk = Seq("k1", "k2"); val rk = Seq("ck1", "ck2")
    val fk = Seq("fk1", "fk2")
    def upTo(hi: Long, cuts: Seq[Long]) =
      viewUpTo(l, r, hi, cuts, lk, rk, fk, vCols)
    assert(rows(upTo(3, Seq())) == Set((1L, 2L, 20L, 2L, 7.0, 20L, 2L, "c20")),
      "composite late dimension must NOT appear before its insert arrives")
    assert(rows(upTo(6, Seq(3L))) == Set(
      (1L, 1L, 10L, 1L, 6.0, 10L, 1L, "c10"),
      (1L, 2L, 20L, 2L, 7.0, 20L, 2L, "c20")),
      "composite late dim row must join retroactively with updated fact")
    assert(rows(upTo(Long.MaxValue, Seq(3L, 6L))).isEmpty,
      "composite deletes on either side must remove their view rows")
  }

  test("overlapping lJoinCols/rPk names are rejected loudly") {
    // same-named columns on the two live sides would make the rebuild
    // joins and view projection ambiguous — the API must fail fast, not
    // corrupt the key frame or join on the wrong columns
    val l = lEvents(("insert", 1L, 1L, (1L, 10L, 5.0)))
    val r = rEvents(("insert", 2L, 1L, (10L, "c10")))
    intercept[IllegalArgumentException] {
      MultiView.replay(l, r, Seq(), Seq("k"), Seq("ck", "fk"),
        Seq("fk", "price"), Seq(JoinView.maintainer(viewCols)))
    }
  }

  test("replay never mutates the parent session's AQE conf") {
    val key = "spark.sql.adaptive.enabled"
    val before = spark.conf.get(key, "true")
    // poll the parent conf from another thread WHILE the replay runs: the
    // old implementation toggled it in place (restoring afterwards, so a
    // before/after check alone can't catch it)
    @volatile var sawMutation = false
    @volatile var stop = false
    val probe = new Thread(() => {
      while (!stop) {
        if (spark.conf.get(key, "true") != before) sawMutation = true
        Thread.sleep(2)
      }
    })
    probe.start()
    try {
      val m = JoinView.maintainer(
        Seq("o_orderkey", "o_custkey", "o_totalprice"))
      val n = MultiView.replay(
        ChangelogGen.ordersChangeEvents(spark, sfDir),
        ChangelogGen.customerChangeEvents(spark, sfDir),
        cuts = Seq(788918400L, 852076800L),
        lPk = Seq("o_orderkey"), rPk = Seq("c_custkey"),
        lJoinCols = Seq("o_custkey"), maintainers = Seq(m))(m).count()
      assert(n > 0)
    } finally { stop = true; probe.join() }
    assert(!sawMutation, s"parent session's $key was mutated mid-replay")
    assert(spark.conf.get(key, "true") == before)
  }

  test("replayed view equals full recompute of the two final states") {
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
                   "o_totalprice", "c_name", "c_acctbal")
    val m = JoinView.maintainer(cols)
    val incr = MultiView.replay(
      ChangelogGen.ordersChangeEvents(spark, sfDir),
      ChangelogGen.customerChangeEvents(spark, sfDir),
      cuts = Seq(788918400L, 852076800L),
      lPk = Seq("o_orderkey"), rPk = Seq("c_custkey"),
      lJoinCols = Seq("o_custkey"), maintainers = Seq(m))(m)
    val full = ChangelogGen.ordersState(spark, sfDir)
      .join(ChangelogGen.customerState(spark, sfDir),
            col("o_custkey") === col("c_custkey"))
      .select(cols.map(col): _*)
    assert(incr.count() > 0, "view is empty — test data broken")
    assert(incr.exceptAll(full).isEmpty && full.exceptAll(incr).isEmpty,
      "incremental view diverges from full recompute")
  }

  test("over-cap single-cut backlog runs the distributed fallback") {
    // ONE batch = the entire backlog (no cuts), with a cap every key set
    // blows: the |Δ|-bounded LocalRelation contract is violated, so the
    // maintainers must degrade to cluster-side key handling — and the
    // view must come out identical to the driver-local path
    val cols = Seq("o_orderkey", "o_custkey", "o_totalprice", "c_name")
    def run(cap: Int) = {
      val m = JoinView.maintainer(cols)
      MultiView.replay(
        ChangelogGen.ordersChangeEvents(spark, sfDir),
        ChangelogGen.customerChangeEvents(spark, sfDir),
        cuts = Seq(),
        lPk = Seq("o_orderkey"), rPk = Seq("c_custkey"),
        lJoinCols = Seq("o_custkey"), maintainers = Seq(m),
        maxLocalKeys = cap)(m)
    }
    val fallback = run(1)
    val local = run(JoinView.DefaultMaxLocalKeys)
    assert(fallback.count() > 0, "fallback view is empty — test data broken")
    assert(fallback.exceptAll(local).isEmpty &&
           local.exceptAll(fallback).isEmpty,
      "distributed-fallback view diverges from the driver-local path")
  }

  test("customer inserts really are staggered across the replay windows") {
    val ts = ChangelogGen.customerChangeEvents(spark, sfDir)
      .filter(col("op") === "insert").select("ts")
      .collect().map(_.getLong(0))
    assert(ts.exists(_ <= 788918400L))
    assert(ts.exists(t => t > 788918400L && t <= 852076800L))
    assert(ts.exists(_ > 852076800L),
      "no customer arrives in the last window — late-arrival path untested")
  }
}
