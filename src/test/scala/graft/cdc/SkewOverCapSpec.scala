package graft.cdc

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-hardened over-cap fallback (MultiView.FkJoin): a hot join key
  * owning ~half of a backlog batch must (a) still produce the exact
  * view through the salted distributed path, and (b) actually PLAN the
  * salted join — the AQE-off replay loops get no runtime skew-join help,
  * so the salt is the only thing standing between a 100×-scale backlog
  * and a single-reducer straggler. */
class SkewOverCapSpec extends SparkSpec {

  private val viewCols = Seq("k", "fk", "price", "ck", "name")

  /** `n` facts, ~half referencing the HOT dimension key 1, the rest
    * spread over `dims` keys; a sprinkle of updates and deletes so the
    * retract branches run too. */
  private def hotFacts(n: Int, dims: Int): DataFrame = {
    import spark.implicits._
    val inserts = (1 to n).map { i =>
      val fk = if (i % 2 == 0) 1L else (i % dims).toLong + 1L
      ("insert", 1L, i.toLong, i.toLong, fk, i.toDouble)
    }
    val updates = (1 to n by 7).map { i =>
      val fk = if (i % 2 == 0) 1L else (i % dims).toLong + 1L
      ("update", 2L, (n + i).toLong, i.toLong, fk, i * 2.0)
    }
    val deletes = (1 to n by 11).map { i =>
      val fk = if (i % 2 == 0) 1L else (i % dims).toLong + 1L
      ("delete", 3L, (2 * n + i).toLong, i.toLong, fk, i * 2.0)
    }
    (inserts ++ updates ++ deletes)
      .toDF("op", "ts", "seq", "k", "fk", "price")
      .select(col("op"), col("ts"), col("seq"),
              struct(col("k"), col("fk"), col("price")).as("after"))
  }

  private def dimEvents(dims: Int): DataFrame = {
    import spark.implicits._
    val inserts = (1 to dims).map(i =>
      ("insert", 1L, i.toLong, i.toLong, s"c$i"))
    // touch the HOT key mid-replay so changed-R rebuilds hit the skew
    val hotUpdate = Seq(("update", 2L, (dims + 1).toLong, 1L, "c1-v2"))
    (inserts ++ hotUpdate)
      .toDF("op", "ts", "seq", "ck", "name")
      .select(col("op"), col("ts"), col("seq"),
              struct(col("ck"), col("name")).as("after"))
  }

  test("planted hot key: over-cap salted fallback matches the local path") {
    val l = hotFacts(1200, dims = 40)
    val r = dimEvents(40)
    def run(cap: Int) = {
      val m = JoinView.maintainer(viewCols)
      MultiView.replay(l, r, cuts = Seq(1L, 2L),
        lPk = Seq("k"), rPk = Seq("ck"), lJoinCols = Seq("fk"),
        maintainers = Seq(m), maxLocalKeys = cap)(m)
    }
    val salted = run(1) // every key set blows the cap -> distributed+salted
    val local = run(JoinView.DefaultMaxLocalKeys)
    assert(salted.count() > 0, "hot-key view is empty — generator broken")
    assert(salted.exceptAll(local).isEmpty && local.exceptAll(salted).isEmpty,
      "salted over-cap view diverges from the driver-local path")
  }

  test("over-cap step actually plans the salted joins") {
    val l = hotFacts(50, dims = 5)
    val r = dimEvents(5)
    val stL = Materializer.compact(l.limit(0), Seq("k"))
    val stR = Materializer.compact(r.limit(0), Seq("ck"))
    val view = stL.drop(Materializer.MetaCols: _*)
      .join(stR.drop(Materializer.MetaCols: _*), col("fk") === col("ck"))
      .select(viewCols.map(col): _*).limit(0)
    // keys = (None, None): both sides over-cap -> distributed fallback
    val (_, _, ctx) = SnowflakeView.chainStep(Seq(stL, stR), Seq.empty,
      Seq(l, r), Seq(Seq("k"), Seq("ck")), Seq(Seq("fk")),
      keys = Some(Seq(None, None)), maxLocalKeys = 1)
    val plan = JoinView.stepView(view, ctx, viewCols)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("__gsaltl") && plan.contains("__gsaltr"),
      s"rebuild joins are not salted over-cap:\n$plan")
    assert(plan.contains("__gsalt"),
      s"fk key filter is not salted over-cap:\n$plan")
    assert(plan.contains("xxhash64"),
      s"salt is not the deterministic row hash:\n$plan")
  }

  test("snowflake chain: over-cap salted propagation matches recompute") {
    import spark.implicits._
    // T0 facts -> T1 mid -> T2 dim; half the facts reference mid key 1,
    // and mid 1 references dim 1 — the hot path crosses BOTH levels
    val t0 = hotFacts(600, dims = 20)
      .select(col("op"), col("ts"), col("seq"),
        struct(col("after.k").as("k"), col("after.fk").as("mk"),
               col("after.price").as("price")).as("after"))
    val t1 = (1 to 20).map(i => ("insert", 1L, i.toLong, i.toLong,
        (i % 5).toLong + 1L))
      .toDF("op", "ts", "seq", "mk2", "dk")
      .select(col("op"), col("ts"), col("seq"),
              struct(col("mk2"), col("dk")).as("after"))
    val t2 = (1 to 5).map(i => ("insert", 1L, i.toLong, i.toLong, s"d$i"))
      .toDF("op", "ts", "seq", "dk2", "dname")
      .select(col("op"), col("ts"), col("seq"),
              struct(col("dk2"), col("dname")).as("after"))
    val cols = Seq("k", "mk", "price", "dk", "dname")
    val m = JoinView.maintainer(cols)
    val res = SnowflakeView.replay(Seq(t0, t1, t2),
      pks = Seq(Seq("k"), Seq("mk2"), Seq("dk2")),
      fks = Seq(Seq("mk"), Seq("dk")),
      cuts = Seq(1L, 2L), maintainers = Seq(m), maxLocalKeys = 1)
    val direct = Materializer.currentState(t0, Seq("k"))
      .join(Materializer.currentState(t1, Seq("mk2")),
            col("mk") === col("mk2"))
      .join(Materializer.currentState(t2, Seq("dk2")),
            col("dk") === col("dk2"))
      .select(cols.map(col): _*)
    val got = res(m)
    assert(got.count() > 0, "snowflake hot-key view is empty")
    assert(got.exceptAll(direct).isEmpty && direct.exceptAll(got).isEmpty,
      "over-cap snowflake view diverges from the direct recompute")
  }
}
