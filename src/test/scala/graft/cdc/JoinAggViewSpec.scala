package graft.cdc

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Aggregate-over-join IVM: stepwise semantics on a handcrafted two-topic
  * sequence (late dims, deletes, group-moving dimension updates, NULL
  * values/groups), and convergence to the direct recompute on the
  * synthesized changelogs. */
class JoinAggViewSpec extends SparkSpec {

  // fact(k, fk, price) joins dim(ck, grp); aggregate price per grp
  private def lEvents(rows: (String, Long, Long, (Long, Long, java.lang.Double))*) = {
    import spark.implicits._
    rows.toSeq.map { case (op, ts, seq, (k, fk, price)) =>
      (op, ts, seq, k, fk, Option(price).map(_.doubleValue))
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

  private val price = Seq(("price", "price",
    scala.Predef.identity[org.apache.spark.sql.Column] _))

  /** The aggregate's public face after the batches `cuts` splits the
    * events up to `hi` into — the generic replay with this one
    * maintainer. */
  private def upTo(l: org.apache.spark.sql.DataFrame,
                   r: org.apache.spark.sql.DataFrame, hi: Long,
                   cuts: Seq[Long], groupCols: Seq[String] = Seq("grp"),
                   cap: Int = JoinView.DefaultMaxLocalKeys) = {
    val m = JoinAggView.maintainerNamed(groupCols, price)
    JoinAggView.viewOfAgg(MultiView.replay(l.filter(col("ts") <= hi),
      r.filter(col("ts") <= hi), cuts, Seq("k"), Seq("ck"), Seq("fk"),
      Seq(m), maxLocalKeys = cap)(m), Seq("price"))
  }

  private def aggRows(view: org.apache.spark.sql.DataFrame) =
    view.collect()
      .map(r => (r.getString(0), r.getLong(1),
                 Option(r.get(2)).map(_.toString.toDouble))).toSet

  test("stepwise: late dim, value update, deletes, group stays exact") {
    val l = lEvents(
      ("insert", 1L, 1L, (1L, 10L, 5.0)),
      ("insert", 1L, 2L, (2L, 20L, 7.0)),
      ("insert", 2L, 3L, (3L, 10L, 9.0)),
      ("update", 5L, 4L, (1L, 10L, 6.0)),  // a: 5+9 -> 6+9
      ("delete", 9L, 5L, (3L, 10L, 9.0)))  // a: -> 6
    val r = rEvents(
      ("insert", 2L, 1L, (20L, "b")),
      ("insert", 4L, 2L, (10L, "a")),      // LATE: facts referenced at ts<=2
      ("delete", 8L, 3L, (20L, "b")))      // b disappears entirely
    // batch 1 (ts <= 3): only dim 20 present -> just group b
    val st1 = upTo(l, r, 3, Seq())
    assert(aggRows(st1) == Set(("b", 1L, Some(7.0))),
      "late dimension's facts must not be counted before it arrives")
    // batch 2 (3 < ts <= 6): dim 10 arrives (2 facts join in) + k=1 update
    val st2 = upTo(l, r, 6, Seq(3L))
    assert(aggRows(st2) == Set(("a", 2L, Some(15.0)), ("b", 1L, Some(7.0))))
    // batch 3 (ts > 6): dim 20 deleted -> group b gone (not zero-row);
    // fact 3 deleted -> a shrinks
    val st3 = upTo(l, r, Long.MaxValue, Seq(3L, 6L))
    assert(aggRows(st3) == Set(("a", 1L, Some(6.0))),
      "emptied groups must drop out of the view, not linger at zero")
  }

  test("group-moving dimension update retracts old group, credits new") {
    val l = lEvents(
      ("insert", 1L, 1L, (1L, 10L, 5.0)),
      ("insert", 1L, 2L, (2L, 10L, 7.0)),
      ("insert", 1L, 3L, (3L, 20L, 2.0)))
    val r = rEvents(
      ("insert", 1L, 1L, (10L, "a")),
      ("insert", 1L, 2L, (20L, "b")),
      ("update", 5L, 3L, (10L, "b")))  // dim 10 moves a -> b
    val st1 = upTo(l, r, 3, Seq())
    assert(aggRows(st1) == Set(("a", 2L, Some(12.0)), ("b", 1L, Some(2.0))))
    val st2 = upTo(l, r, Long.MaxValue, Seq(3L))
    assert(aggRows(st2) == Set(("b", 3L, Some(14.0))),
      "group-moving dim update must move ALL its facts' contributions")
  }

  test("NULL values and NULL groups carry SQL aggregate semantics") {
    val l = lEvents(
      ("insert", 1L, 1L, (1L, 10L, null)),
      ("insert", 1L, 2L, (2L, 10L, null)),
      ("insert", 1L, 3L, (3L, 20L, 4.0)),
      ("delete", 5L, 4L, (3L, 20L, 4.0)))
    val r = rEvents(
      ("insert", 1L, 1L, (10L, "a")),
      ("insert", 1L, 2L, (20L, null))) // NULL group is a real group
    val st1 = upTo(l, r, 3, Seq())
    assert(aggRows(st1) == Set[(String, Long, Option[Double])](
        ("a", 2L, None), (null, 1L, Some(4.0))),
      "all-NULL-value group must report NULL sum; NULL group must appear")
    val st2 = upTo(l, r, Long.MaxValue, Seq(3L))
    assert(aggRows(st2) == Set[(String, Long, Option[Double])](("a", 2L, None)),
      "NULL group must empty out like any other")
  }

  test("under-cap delta restriction broadcasts every state-side join") {
    // mirror replay's micro-batch conf (AQE off, narrow shuffles) on a
    // child session so the assertion sees the deterministic static plan
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    s2.conf.set("spark.sql.shuffle.partitions", "4")
    import s2.implicits._
    // pinned "big" states (LogicalRDD — default stats, exactly what a
    // maintained state looks like to the planner mid-replay)
    val liveL = Seq((1L, 10L, 5.0), (2L, 20L, 7.0), (3L, 10L, 9.0))
      .toDF("k", "fk", "price").localCheckpoint()
    val liveR = Seq((10L, "a"), (20L, "b"))
      .toDF("ck", "grp").localCheckpoint()
    // under-cap LocalRelation changed-key sets, as localKeys builds them
    val changedL = s2.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(1L)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType))))
    val changedR = s2.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(10L)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("ck",
          org.apache.spark.sql.types.LongType))))
    val rows = JoinAggView.touchedJoinRows(liveL, liveR,
      changedL, true, changedR, true,
      Seq("k"), Seq("ck"), Seq("fk"), Seq("grp"),
      Seq(("price", "price",
           scala.Predef.identity[org.apache.spark.sql.Column] _)), -1)
    val plan = rows.queryExecution.executedPlan.toString
    // every join in the two delta-restricted branches (semi/anti key
    // prunes AND the rebuild joins themselves) must broadcast — the
    // table states are never exchange-partitioned or sort-merged
    assert(!plan.contains("SortMergeJoin"),
      s"state-side join degraded to sort-merge:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"state got exchange-partitioned:\n$plan")
    val bhj = "BroadcastHashJoin".r.findAllIn(plan).size
    assert(bhj >= 4, s"expected >=4 broadcast joins, got $bhj:\n$plan")
    // and the restriction is semantically right: only delta-adjacent rows
    // fact 1 (ΔL) joins dim 10; fact 3 (∉ΔL) joins the ΔR dim 10; fact 2
    // is adjacent to no changed key and must not appear
    val got = rows.collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(got.toSet == Set(("a", 5.0), ("a", 9.0)),
      s"delta restriction must keep only changed-key join rows: ${got.toSeq}")
  }

  test("composite group columns (one from each side) stay exact") {
    // group by (fact-side bucket, dim-side grp) — groupCols spanning both
    // inputs exercises the projection through the rebuild branches
    val l = lEvents(
      ("insert", 1L, 1L, (1L, 10L, 5.0)),
      ("insert", 1L, 2L, (2L, 10L, 7.0)),
      ("update", 5L, 3L, (2L, 10L, 8.0)))
    val r = rEvents(("insert", 1L, 1L, (10L, "a")))
    val got = upTo(l, r, Long.MaxValue, Seq(3L), Seq("k", "grp")).collect()
      .map(r => ((r.getLong(0), r.getString(1)), r.getLong(2),
                 r.getDouble(3))).toSet
    assert(got == Set(((1L, "a"), 1L, 5.0), ((2L, "a"), 1L, 8.0)),
      s"got $got")
  }

  test("emptied group resurrects when facts return") {
    val l = lEvents(
      ("insert", 1L, 1L, (1L, 10L, 5.0)),
      ("delete", 4L, 2L, (1L, 10L, 5.0)),   // a empties
      ("insert", 8L, 3L, (2L, 10L, 3.0)))   // a returns
    val r = rEvents(("insert", 1L, 1L, (10L, "a")))
    val st1 = upTo(l, r, 2, Seq())
    assert(aggRows(st1) == Set(("a", 1L, Some(5.0))))
    val st2 = upTo(l, r, 6, Seq(2L))
    assert(aggRows(st2).isEmpty, "group must empty out")
    val st3 = upTo(l, r, Long.MaxValue, Seq(2L, 6L))
    assert(aggRows(st3) == Set(("a", 1L, Some(3.0))),
      "an emptied group must come back cleanly (no stale zero-row state)")
  }

  test("over-cap batches fall back to distributed keys and stay exact") {
    val l = lEvents(
      ("insert", 1L, 1L, (1L, 10L, 5.0)),
      ("insert", 1L, 2L, (2L, 10L, 7.0)),
      ("insert", 1L, 3L, (3L, 20L, 2.0)),
      ("update", 5L, 4L, (1L, 10L, 6.0)),
      ("delete", 9L, 5L, (2L, 10L, 7.0)))
    val r = rEvents(
      ("insert", 1L, 1L, (10L, "a")),
      ("insert", 4L, 2L, (20L, "b")),
      ("update", 8L, 3L, (20L, "a")))
    def runWith(cap: Int) =
      upTo(l, r, Long.MaxValue, Seq(3L, 6L), cap = cap)
    // cap=0 forces the distributed path for EVERY batch (keys and
    // touched groups); results must match the broadcast path exactly
    assert(aggRows(runWith(0)) == aggRows(runWith(100000)),
      "over-cap distributed fallback diverges from the broadcast path")
  }

  test("replay over the synthesized changelogs equals the direct recompute") {
    val lEv = ChangelogGen.ordersChangeEvents(spark, sfDir)
    val rEv = ChangelogGen.customerChangeEvents(spark, sfDir)
    val measure = Seq(("o_totalprice", "o_totalprice",
      (c: org.apache.spark.sql.Column) => c.cast("decimal(25,10)")))
    val m = JoinAggView.maintainerNamed(Seq("c_nationkey"), measure)
    val fin = MultiView.replay(lEv, rEv,
      cuts = Seq(788918400L, 852076800L),
      lPk = Seq("o_orderkey"), rPk = Seq("c_custkey"),
      lJoinCols = Seq("o_custkey"), maintainers = Seq(m))
    val maintained = JoinAggView.viewOfAgg(fin(m), Seq("o_totalprice"))
    val direct = JoinAggView.directAggNamed(
      ChangelogGen.ordersState(spark, sfDir),
      ChangelogGen.customerState(spark, sfDir),
      Seq("c_custkey"), Seq("o_custkey"), Seq("c_nationkey"), measure)
      .select(col("c_nationkey"), col("n_rows"),
              when(col("n_vals_o_totalprice") > 0, col("sum_o_totalprice"))
                .as("sum_o_totalprice"))
    assert(maintained.count() > 0)
    assert(maintained.exceptAll(direct).isEmpty &&
           direct.exceptAll(maintained).isEmpty,
      "maintained aggregate-over-join diverges from direct recompute")
    // the maintained L/R states equal the single-table materializations
    val lState = Materializer.liveView(fin.left)
    val lDirect = ChangelogGen.ordersState(spark, sfDir)
    assert(lState.exceptAll(lDirect).isEmpty &&
           lDirect.exceptAll(lState).isEmpty)
  }
}
