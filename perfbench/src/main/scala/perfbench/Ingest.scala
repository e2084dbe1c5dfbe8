package perfbench

import java.util.concurrent.{Callable, Executors}

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.cdc.ChangelogGen.{customerSpec, lineitemSpec, ordersSpec}
import graft.streaming.CdcStream
import graft.streaming.CdcStream.{NamedTableView, NamedView}

/** The three view runners the ingest workloads drive, registered with
  * the same views as the `CdcQueries` shared replays, and the two JDBC
  * mirrors. */
object Views {
  private val dec = (c: Column) => c.cast("decimal(25,10)")
  private val sq = (c: Column) => { val d = c.cast("decimal(12,3)"); d * d }
  val innerCols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
                      "o_totalprice", "c_name", "c_acctbal")
  val unionCols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
                      "o_totalprice", "c_nationkey", "c_name", "c_acctbal")

  def table: Seq[NamedTableView[_]] = Seq(
    NamedTableView.topK("status_topk", "o_orderstatus", "o_totalprice", 3),
    NamedTableView.distinctCount("status_customers", "o_orderstatus",
                                 "o_custkey"),
    NamedTableView.minMax("status_price", "o_orderstatus", "o_totalprice"),
    NamedTableView.moments("status_moments", "o_orderstatus", "o_totalprice",
                           _.cast("decimal(18,8)")))

  def multi: Seq[NamedView[_]] = Seq(
    NamedView.joinTopK("nation_topk", unionCols, "c_nationkey",
                       "o_totalprice", 3),
    NamedView.leftJoinView("orders_left", innerCols, Seq("o_orderkey")),
    NamedView.joinAgg("nation_agg", Seq("c_nationkey"),
      Seq(("o_totalprice", "o_totalprice", dec),
          ("c_acctbal", "c_acctbal", dec),
          ("price_sq", "o_totalprice", sq))),
    NamedView.joinDistinct("nation_customers", "c_nationkey", "o_custkey"),
    NamedView.joinDistinct("nation_prices", "c_nationkey", "o_totalprice"),
    NamedView.joinAgg("customer_revenue", Seq("o_custkey"),
      Seq(("revenue", "o_totalprice", dec))))

  def snow: Seq[NamedView[_]] = Seq(
    NamedView.joinAgg("nation_revenue", Seq("c_nationkey"),
      Seq(("revenue", "l_extendedprice",
           (c: Column) => (c * (lit(1.0) - col("l_discount")))
             .cast("decimal(25,10)")))))

  /** (runner, view, key columns, JDBC table) of the two mirrors. */
  val mirrors: Seq[(String, String, Seq[String], String)] = Seq(
    ("snowflake", "nation_revenue", Seq("c_nationkey"), "NATION_REVENUE"),
    ("multi", "customer_revenue", Seq("o_custkey"), "CUSTOMER_REVENUE"))
}

/** One set of runner roots (state, checkpoints, mirror tables) fed from
  * one changelog directory. */
final class Estate(spark: SparkSession, val logDir: String, val dir: String,
                   val url: String, tableSuffix: String) {
  val runners: Seq[String] = Seq("table", "multi", "snowflake")
  def root(r: String): String = s"$dir/state/$r"
  private def ckpt(r: String): String = s"$dir/ckpt/$r"
  def jdbcTable(t: String): String = t + tableSuffix

  def start(r: String): StreamingQuery = {
    val env = CdcStream.fileChangelog(spark, logDir)
    r match {
      case "table" =>
        CdcStream.maintainTableViewsToParquet(env, ordersSpec, Views.table,
          root(r), ckpt(r))
      case "multi" =>
        CdcStream.maintainMultiViewToParquet(env, ordersSpec, customerSpec,
          Seq("o_custkey"), Views.multi, root(r), ckpt(r))
      case "snowflake" =>
        CdcStream.maintainSnowflakeViewToParquet(env,
          Seq(lineitemSpec, ordersSpec, customerSpec),
          Seq(Seq("l_orderkey"), Seq("o_custkey")), Views.snow,
          root(r), ckpt(r))
    }
  }

  /** Start a runner, drain what has landed, and stop. */
  def call(r: String, trace: Tracer): Unit = {
    val q = start(r)
    trace.bindQuery(q.id.toString)
    q.awaitTermination()
    q.exception.foreach(e => throw e)
  }

  def mirror(m: (String, String, Seq[String], String)): Long = {
    val (r, view, keys, table) = m
    CdcStream.applyViewChangesToJdbc(spark, s"${root(r)}/$view", keys, url,
      jdbcTable(table))
  }
}

/** The `ingest_steady` and `ingest_rebuild` workloads. */
final class Ingest(spark: SparkSession, inputs: String, work: String,
                   rec: Recorder, trace: Tracer) {
  import Util._

  private val pool = Executors.newFixedThreadPool(3)
  private val dbUrl = s"jdbc:derby:$work/derby/mirror;create=true"
  private val initialFiles =
    listFiles(s"$inputs/log").map(_.toString)
  private val batchFiles =
    listFiles(s"$inputs/batches").map(_.toString)
  private def lineCount(f: String): Long = {
    val st = java.nio.file.Files.lines(java.nio.file.Paths.get(f))
    try st.count() finally st.close()
  }
  private val batchSizes = batchFiles.map(lineCount)
  private val initialEvents = initialFiles.map(lineCount).sum

  def close(): Unit = {
    pool.shutdownNow()
    pool.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS)
    scala.util.Try(java.sql.DriverManager.getConnection(
      "jdbc:derby:;shutdown=true"))
  }

  private def batchEvents(b: Int): Long = batchSizes(b - 1)

  /** Run the three runners at once, one thread each; returns each
    * runner's completion time (seconds on the [[Util.now]] clock), or
    * None for a runner that failed. */
  private def runAll(es: Estate, step: String, cycle: Int)
      : Seq[(String, Option[Double])] = {
    val fs = es.runners.map { r =>
      r -> pool.submit(new Callable[Option[Double]] {
        def call(): Option[Double] = trace.span("runner." + r, cycle) {
          rec.attempt()
          try { es.call(r, trace); Some(now()) }
          catch { case e: Throwable =>
            rec.fail(s"$step runner $r: $e"); None }
        }
      })
    }
    fs.map { case (r, f) => r -> f.get() }
  }

  private def applyMirrors(es: Estate, cycle: Int): Seq[(String, Long, Double)] =
    Views.mirrors.map { m =>
      rec.attempt()
      val ((keys, ok), s) = timed(trace.span("mirror." + m._2, cycle) {
        try (es.mirror(m), true)
        catch { case e: Throwable =>
          rec.fail(s"mirror ${m._2}: $e"); (0L, false) }
      })
      (m._2, if (ok) keys else -1L, s)
    }

  /** The fixed read set after every steady batch. */
  private def reads(es: Estate, prevBatch: Long, cycle: Int): Unit = {
    val multi = es.root("multi")
    def read(what: String)(f: => Any): Unit = {
      rec.attempt()
      val (_, s) = timed(trace.span("read." + what, cycle) {
        try f catch { case e: Throwable => rec.fail(s"read $what: $e") }
      })
      rec.sample("read_s", s)
      rec.sample(s"read.${what}_s", s)
    }
    read("face") {
      CdcStream.readMultiView(spark, multi, "nation_agg").collect()
      CdcStream.readMultiView(spark, es.root("table"), "status_topk")
        .collect()
    }
    read("as_of") {
      CdcStream.viewAsOfBatch(spark, s"$multi/nation_agg", prevBatch)
        .collect()
    }
    read("stats") {
      CdcStream.viewStats(spark, multi, "nation_agg__view")
    }
    read("changes") {
      CdcStream.readViewChanges(spark, s"${es.root("snowflake")}/nation_revenue")
        .collect()
    }
  }

  private def copyInitial(logDir: String): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(logDir))
    initialFiles.foreach(f => land(f, logDir))
  }

  /** Bootstrap the three runners from the initial load and seed the
    * mirrors (untimed set-up of `ingest_steady`). */
  def setupSteady(): Estate = {
    val es = new Estate(spark, s"$work/steady/log", s"$work/steady", dbUrl, "")
    copyInitial(es.logDir)
    val t0 = now()
    runAll(es, "bootstrap", 0).foreach { case (r, t) =>
      rec.setup(s"bootstrap.${r}_s", t.getOrElse(now()) - t0) }
    val (_, ms) = timed(applyMirrors(es, 0))
    rec.setup("mirror_seed_s", ms)
    es
  }

  /** One steady cycle: land batch `b`, run the runners at once, apply the
    * mirrors, run the read set. */
  def cycle(es: Estate, b: Int): Unit = {
    val tLand = now()
    trace.beginCycle(b)
    land(batchFiles(b - 1), es.logDir)
    val done = runAll(es, s"batch $b", b)
    val tRun = now()
    val ms = applyMirrors(es, b)
    val tFresh = now()
    reads(es, b - 1L, b)
    val tEnd = now()
    trace.endCycle(b)
    val sinceMs = wallMs() - ((now() - tLand) * 1000).toLong
    rec.sample("fs.files_written", filesSince(es.dir + "/state", sinceMs) +
      filesSince(es.dir + "/ckpt", sinceMs))
    done.foreach { case (r, t) =>
      t.foreach { c =>
        rec.sample("batch_s", c - tLand)
        rec.sample(s"batch.${r}_s", c - tLand)
      }
    }
    // every runner's batch wall counts here, the fastest one's too
    val walls = done.flatMap(_._2).map(_ - tLand)
    if (walls.nonEmpty) rec.sample("runner_mean_s", walls.sum / walls.size)
    rec.sample("freshness_s", tFresh - tLand)
    rec.sample("runners_s", tRun - tLand)
    ms.foreach { case (v, keys, s) =>
      rec.sample(s"jdbc.$v.apply_s", s)
      if (keys >= 0) rec.sample(s"jdbc.$v.keys", keys.toDouble)
    }
    rec.add("events", batchEvents(b).toDouble)
    rec.add("cycle_s", tEnd - tLand)
  }

  def steady(es: Estate, seconds: Double, startBatch: Int): Int = {
    val tStop = now() + seconds
    var b = startBatch
    while (now() < tStop && b <= batchFiles.size) {
      cycle(es, b)
      b += 1
    }
    if (now() < tStop)
      rec.fail(s"ran out of generated batches after ${b - 1}")
    b - 1
  }

  /** `ingest_rebuild`: fold the whole backlog (initial load plus every
    * generated batch) from empty through the three runners at once, then
    * drain both mirrors. One rebuild per fresh estate. */
  def backlog(): String = {
    val dir = s"$work/backlog"
    copyInitial(dir)
    batchFiles.foreach(f => land(f, dir))
    dir
  }
  def backlogEvents: Long = initialEvents + batchSizes.sum

  def rebuild(logDir: String, gen: Int): Estate = {
    val es = new Estate(spark, logDir, s"$work/rebuild/g$gen", dbUrl,
                        s"_G$gen")
    trace.beginCycle(gen)
    val t0 = now()
    val done = runAll(es, s"rebuild $gen", gen)
    val tRun = now()
    applyMirrors(es, gen)
    val t1 = now()
    trace.endCycle(gen)
    done.foreach { case (r, t) =>
      t.foreach { c =>
        rec.sample("runner_s", c - t0)
        rec.sample(s"rebuild.${r}_s", c - t0)
      }
    }
    rec.sample("rebuild_s", t1 - t0)
    rec.sample("rebuild_runners_s", tRun - t0)
    rec.sample("rebuild_mirrors_s", t1 - tRun)
    rec.sample("rebuild_events_per_s", backlogEvents / (t1 - t0))
    rec.add("events", backlogEvents.toDouble)
    rec.add("cycle_s", t1 - t0)
    es
  }

  def diskMb(es: Estate): Double =
    treeBytes(es.dir + "/state") / 1e6 + treeBytes(es.dir + "/ckpt") / 1e6
}
