package perfbench

import org.apache.spark.sql.SparkSession

/** The two ingest workloads end to end: set-up, the timed closed loop,
  * the box sentinels and the output checks. Each returns the entries of
  * the run record its metrics come from. */
object Workloads {
  import Util._

  /** The start sentinel: the faster of two calls after a small one that
    * warms the engine. */
  def sentinels(spark: SparkSession): Double = {
    Session.sentinel(spark, 1000000L)
    math.min(Session.sentinel(spark), Session.sentinel(spark))
  }

  def boxEnd(start: Double, end: Double, steal: (Double, Double))
      : Map[String, Any] = Map(
    "sentinel_start_s" -> start, "sentinel_end_s" -> end,
    "drifted" -> (end > 1.5 * start || start > 1.5 * end),
    "steal_share" -> (Session.stealS() - steal._1) /
      (Runtime.getRuntime.availableProcessors * (Util.now() - steal._2)))

  /** Steal counter and clock at the start of the timed part. */
  def stealMark(): (Double, Double) = (Session.stealS(), Util.now())

  /** Traced runs only: the static parse/decode probes over the landed
    * initial load, and each runner's live generation size. */
  def staticProbes(spark: SparkSession, inputs: String, es: Estate,
                   trace: Tracer): Map[String, Double] = trace match {
    case Tracer.Off => Map.empty
    case _ =>
      import graft.cdc.ChangelogGen.{customerSpec, lineitemSpec, ordersSpec}
      val files = listFiles(s"$inputs/log").map(_.toString)
      def envelope() = graft.cdc.Maxwell.parseEnvelopeCol(
        spark.read.text(files: _*), org.apache.spark.sql.functions.col("value"))
      val lines = spark.read.text(files: _*).count().toDouble
      val parseS = median((1 to 3).map(_ => timed(envelope().count())._2))
      val specs = Seq(ordersSpec, customerSpec, lineitemSpec)
      val decoded = (1 to 3).map { _ =>
        val env = envelope().localCheckpoint()
        timed(specs.map(sp =>
          graft.streaming.CdcStream.changeEvents(env, sp).count()).sum)
      }
      val gens = es.runners.map(r =>
        s"state.generation_mb.$r" -> treeBytes(es.root(r) + "/current") / 1e6)
      Map("sources.parse_lines_per_s" -> lines / parseS,
          "cdc.decode_events_per_s" ->
            decoded.head._1 / median(decoded.map(_._2))) ++ gens
  }

  def steady(spark: SparkSession, inputs: String, work: String,
             rec: Recorder, trace: Tracer, seconds: Double, t0Ms: Long)
      : Map[String, Any] = {
    val ing = new Ingest(spark, inputs, work, rec, trace)
    try {
      val s0 = sentinels(spark)
      val es = ing.setupSteady()
      Session.quiesce()
      val setupS = (wallMs() - t0Ms) / 1e3
      val steal = stealMark()
      val last = ing.steady(es, seconds, startBatch = 1)
      val s1 = Session.sentinel(spark)
      val disk = ing.diskMb(es)
      val probes = staticProbes(spark, inputs, es, trace)
      Checks.ingest(spark, inputs, es, last, rec)
      val batch = rec.get("batch_s")
      val (tailV, tailP, tailN) = tail(batch)
      Map("setup_s" -> setupS, "box_sentinel" -> boxEnd(s0, s1, steal),
          "batches" -> last, "disk_mb" -> disk, "probes" -> probes,
          "batch_tail_percentile" -> tailP, "batch_tail_samples" -> tailN,
          "metrics" -> Map(
            "events_per_s" -> rec.sums("events") / rec.sums("cycle_s"),
            "batch_p50_s" -> median(batch),
            "runner_mean_p50_s" -> median(rec.get("runner_mean_s")),
            "batch_tail_s" -> tailV,
            "freshness_p50_s" -> median(rec.get("freshness_s")),
            "read_p50_s" -> median(rec.get("read_s")),
            "disk_mb" -> disk))
    } finally ing.close()
  }

  def rebuild(spark: SparkSession, inputs: String, work: String,
              rec: Recorder, trace: Tracer, seconds: Double, t0Ms: Long)
      : Map[String, Any] = {
    val ing = new Ingest(spark, inputs, work, rec, trace)
    try {
      val s0 = sentinels(spark)
      val backlog = ing.backlog()
      Session.quiesce()
      val setupS = (wallMs() - t0Ms) / 1e3
      val steal = stealMark()
      val tStop = now() + seconds
      var gen = 1
      var es = ing.rebuild(backlog, gen)
      while (now() < tStop) {
        gen += 1
        es = ing.rebuild(backlog, gen)
      }
      val s1 = Session.sentinel(spark)
      val disk = ing.diskMb(es)
      val probes = staticProbes(spark, inputs, es, trace)
      Checks.ingest(spark, inputs, es, Int.MaxValue, rec)
      Map("setup_s" -> setupS, "box_sentinel" -> boxEnd(s0, s1, steal),
          "probes" -> probes,
          "rebuilds" -> gen, "backlog_events" -> ing.backlogEvents,
          "disk_mb" -> disk,
          "metrics" -> Map(
            "rebuild_events_per_s" -> median(rec.get("rebuild_events_per_s")),
            "rebuild_p50_s" -> median(rec.get("rebuild_s")),
            "runner_p50_s" -> median(rec.get("runner_s")),
            "runner_max_s" -> rec.get("runner_s").max,
            "disk_mb" -> disk))
    } finally ing.close()
  }
}
