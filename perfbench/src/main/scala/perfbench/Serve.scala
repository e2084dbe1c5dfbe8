package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The `serve` workload: one client runs a fixed set of the named
  * `SparkEntry.queries` serially over the generated tables.
  *
  * Set-up runs every query of the set once, untimed, and dumps its rows
  * for the DuckDB oracle check; that pass also builds every shared state
  * the queries serve from. The timed part then repeats whole passes over
  * the set until the run's seconds are spent (at least [[Serve.MinPasses]]).
  * Each query's wall is a `collect()`, the rows a client receives; the
  * metrics are over each query's median wall, the percentiles as
  * Harrell-Davis estimates (17 queries are few for one order statistic). */
final class Serve(spark: SparkSession, inputs: String, work: String,
                  rec: Recorder, trace: Tracer) {
  import Util._

  private val all = graft.SparkEntry.queries
  private val tables = s"$inputs/tables"

  /** The query families, by the `ops` object that defines each query. */
  private val family: Map[String, String] = Seq(
    "cdc" -> graft.ops.CdcQueries.queries.keySet,
    "relational" -> graft.ops.RelationalQueries.queries.keySet,
    "function" -> graft.ops.FunctionQueries.queries.keySet,
    "pipeline" -> graft.ops.PipelineQueries.queries.keySet,
    "curation" -> graft.ops.CurationQueries.queries.keySet)
    .flatMap { case (f, ks) => ks.map(_ -> f) }.toMap

  private def runQuery(name: String, cycle: Int): Option[Array[Row]] = {
    rec.attempt()
    trace.span("query." + name, cycle) {
      try Some(all(name)(spark, tables).collect())
      catch { case e: Throwable =>
        rec.fail(s"query $name: $e"); None }
    }
  }

  private def dump(name: String, df: DataFrame, rows: Array[Row]): Unit =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
      .coalesce(1).write.mode("overwrite").parquet(s"$work/outputs/$name")

  def run(seconds: Double, t0Ms: Long, only: Option[String])
      : Map[String, Any] = {
    val set = only.map {
      case "all" => all.keys.toSeq.sorted
      case list => list.split(",").toSeq.filter(_.nonEmpty)
    }.getOrElse(Serve.QuerySet)
    val unknown = set.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val s0 = Workloads.sentinels(spark)
    // set-up: the untimed pass, rows dumped for the oracle
    val coldS = set.map { q =>
      val (rows, s) = timed(runQuery(q, 0))
      rows.foreach(r => dump(q, all(q)(spark, tables), r))
      q -> s
    }
    Session.quiesce()
    val storage = spark.sparkContext.getRDDStorageInfo
    val pinnedMb = storage.map(_.memSize).sum / 1e6
    val setupS = (wallMs() - t0Ms) / 1e3
    val steal = Workloads.stealMark()
    // whole passes until the seconds are spent, at least MinPasses: each
    // query's median then shrugs off one pass slowed by the box
    val tStart = now()
    val tStop = tStart + seconds
    var pass = 0
    while (pass < Serve.MinPasses || now() < tStop) {
      pass += 1
      trace.beginCycle(pass)
      set.foreach { q =>
        val (_, s) = timed(runQuery(q, pass))
        rec.sample("query_s", s)
        rec.sample(s"query.$q", s)
      }
      trace.endCycle(pass)
    }
    val timedS = now() - tStart
    val s1 = Session.sentinel(spark)
    val perQuery = set.map(q => q -> median(rec.get(s"query.$q")))
    val walls = perQuery.map(_._2)
    writeText(s"$work/outputs/oracle_sql.json", json(
      set.flatMap(q => graft.SparkEntry.oracleSql.get(q).map(q -> _)).toMap))
    Map("setup_s" -> setupS, "box_sentinel" -> Workloads.boxEnd(s0, s1, steal),
        "passes" -> pass, "queries" -> set, "outputs" -> s"$work/outputs",
        "cold_s" -> coldS.toMap, "query_p50_s" -> perQuery.toMap,
        "family" -> set.map(q => q -> family(q)).toMap,
        "metrics" -> Map(
          "serve_total_s" -> walls.sum,
          "serve_p50_s" -> hdQuantile(walls, 0.5),
          "serve_p90_s" -> hdQuantile(walls, 0.9),
          // every query run of the timed loop over its wall: unlike the
          // per-query medians, a slowed pass and the gaps between queries
          // count here
          "queries_per_s" -> pass * set.size / timedS,
          "pinned_mb" -> pinnedMb))
  }
}

object Serve {
  val MinPasses = 3

  /** The fixed query set: a systematic one-in-eight sample of each query
    * family in name order (offset 1). It serves every family and the
    * dedup, similarity, text, multimodal and plan-rewrite modules. Four
    * CDC queries of that sample are left out (cdc_ann_ivf,
    * cdc_corpus_stats, cdc_semantic_index, cdc_token_budget): they serve
    * from the embeddings and documents corpus replays, whose cold builds
    * (8-13 s on 4 cores) do not fit a run's set-up budget. */
  val QuerySet: Seq[String] = Seq(
    "cdc_history", "cdc_join_percentile_view", "cdc_op_counts",
    "q_agg_basic", "q_filter_project", "q_join_range", "q_window_cumedist",
    "q_array_funcs2", "q_event_transitions", "q_sql_vecdot",
    "q_decontaminate_bloom", "q_embed_centroid", "q_multimodal_frames",
    "q_sim_ivf_kmeans", "q_text_repetition",
    "q_dedup_semantic", "q_split_leakage_safe")
}
