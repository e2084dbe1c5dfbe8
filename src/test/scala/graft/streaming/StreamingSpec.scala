package graft.streaming

import graft.SparkSpec
import graft.cdc.{ChangelogGen, Materializer}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Replay-correctness E2E (SURVEY.md §5 #3): stream the synthetic Maxwell
  * changelog with Trigger.AvailableNow, assert the materialized state
  * equals the batch-computed expected state; plus event-time windows,
  * watermark late-data handling, and streaming dedup. */
class StreamingSpec extends SparkSpec {

  def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("streaming replay materializes the same state as batch") {
    val logDir = tmpDir("cdclog")
    val stateDir = tmpDir("cdcstate") + "/state"
    val ckptDir = tmpDir("cdcckpt")
    // write the changelog as JSON-line files (two chunks = two batches
    // would need two AvailableNow runs; one file set is fine here)
    ChangelogGen.ordersChangelog(spark, sfDir)
      .select("value").coalesce(2)
      .write.mode("overwrite").text(logDir)

    val envelope = CdcStream.fileChangelog(spark, logDir)
      .withColumn("seq", lit(0L)) // file source: no generator seq; ts-only ordering
    val q = CdcStream.materializeToParquet(
      envelope, ChangelogGen.ordersSpec, stateDir, ckptDir)
    q.awaitTermination()

    val got = CdcStream.readCurrentState(spark, stateDir)
    val want = ChangelogGen.ordersState(spark, sfDir)
    assert(got.count() == want.count())
    assert(got.select(want.columns.map(col): _*)
      .exceptAll(want).count() == 0)
  }

  test("incremental restart: second AvailableNow run with new files merges") {
    val logDir = tmpDir("cdclog2")
    val stateDir = tmpDir("cdcstate2") + "/state"
    val ckptDir = tmpDir("cdcckpt2")
    val log = ChangelogGen.ordersChangelog(spark, sfDir).cache()
    // batch 1: inserts only
    log.filter(col("value").contains("\"insert\"")).select("value")
      .coalesce(1).write.mode("overwrite").text(logDir)
    val env1 = CdcStream.fileChangelog(spark, logDir).withColumn("seq", lit(0L))
    CdcStream.materializeToParquet(env1, ChangelogGen.ordersSpec,
      stateDir, ckptDir).awaitTermination()
    val afterInserts = CdcStream.readCurrentState(spark, stateDir).count()
    val orders = graft.Tables.load(spark, sfDir, "orders")
    assert(afterInserts == orders.count())

    // batch 2: updates + deletes appended as new files; checkpoint ensures
    // the insert files are not reprocessed
    log.filter(!col("value").contains("\"insert\"")).select("value")
      .coalesce(1).write.mode("append").text(logDir)
    val env2 = CdcStream.fileChangelog(spark, logDir).withColumn("seq", lit(0L))
    CdcStream.materializeToParquet(env2, ChangelogGen.ordersSpec,
      stateDir, ckptDir).awaitTermination()

    val got = CdcStream.readCurrentState(spark, stateDir)
    val want = ChangelogGen.ordersState(spark, sfDir)
    assert(got.count() == want.count())
    assert(got.select(want.columns.map(col): _*).exceptAll(want).count() == 0)
  }

  test("schema evolution end-to-end: ALTER TABLE mid-stream, state widens") {
    import org.apache.spark.sql.types._
    import graft.cdc.TableSpec
    val logDir = tmpDir("evolog")
    val stateDir = tmpDir("evostate") + "/state"
    val ckptDir = tmpDir("evockpt")
    val specV1 = TableSpec("d", "t", Seq("id"), StructType(Seq(
      StructField("id", LongType), StructField("v", DoubleType))))
    val specV2 = specV1.copy(schema = StructType(
      specV1.schema.fields :+ StructField("region", StringType)))
    // batch 1 under the ORIGINAL schema
    Files.write(java.nio.file.Paths.get(logDir, "b1.json"),
      (Seq("""{"database":"d","table":"t","type":"insert","ts":1,"data":{"id":1,"v":5.0}}""",
           """{"database":"d","table":"t","type":"insert","ts":2,"data":{"id":2,"v":7.0}}""")
        .mkString("\n") + "\n").getBytes("UTF-8"))
    CdcStream.materializeToParquet(
      CdcStream.fileChangelog(spark, logDir), specV1, stateDir, ckptDir)
      .awaitTermination()
    // upstream ALTER TABLE ADD COLUMN region: restart the stream with
    // the WIDENED spec and evolution opted in — the drift monitor's
    // remediation path
    Files.write(java.nio.file.Paths.get(logDir, "b2.json"),
      (Seq("""{"database":"d","table":"t","type":"insert","ts":5,"data":{"id":3,"v":1.0,"region":"AS"}}""",
           """{"database":"d","table":"t","type":"update","ts":6,"data":{"id":2,"v":8.0,"region":"EU"},"old":{"v":7.0}}""")
        .mkString("\n") + "\n").getBytes("UTF-8"))
    CdcStream.materializeToParquet(
      CdcStream.fileChangelog(spark, logDir), specV2, stateDir, ckptDir,
      allowEvolution = true).awaitTermination()
    val got = CdcStream.readCurrentState(spark, stateDir).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Double]("v"),
                 Option(r.getAs[String]("region")))).toSet
    assert(got == Set((1L, 5.0, None), (2L, 8.0, Some("EU")),
                      (3L, 1.0, Some("AS"))),
      s"state must widen with NULL for pre-ALTER rows: $got")
  }

  test("schema evolution: ALTER DROP COLUMN mid-stream, state narrows") {
    import org.apache.spark.sql.types._
    import graft.cdc.TableSpec
    val logDir = tmpDir("droplog")
    val stateDir = tmpDir("dropstate") + "/state"
    val ckptDir = tmpDir("dropckpt")
    val specV1 = TableSpec("d", "t", Seq("id"), StructType(Seq(
      StructField("id", LongType), StructField("v", DoubleType),
      StructField("legacy", StringType))))
    val specV2 = specV1.copy(schema = StructType(Seq(
      StructField("id", LongType), StructField("v", DoubleType))))
    Files.write(java.nio.file.Paths.get(logDir, "b1.json"),
      (Seq("""{"database":"d","table":"t","type":"insert","ts":1,"data":{"id":1,"v":5.0,"legacy":"x"}}""",
           """{"database":"d","table":"t","type":"insert","ts":2,"data":{"id":2,"v":7.0,"legacy":"y"}}""")
        .mkString("\n") + "\n").getBytes("UTF-8"))
    CdcStream.materializeToParquet(
      CdcStream.fileChangelog(spark, logDir), specV1, stateDir, ckptDir)
      .awaitTermination()
    // upstream ALTER TABLE DROP COLUMN legacy: restart with the narrowed
    // spec — the next generation must not carry the stale column at all
    Files.write(java.nio.file.Paths.get(logDir, "b2.json"),
      (Seq("""{"database":"d","table":"t","type":"update","ts":5,"data":{"id":2,"v":8.0},"old":{"v":7.0}}""",
           """{"database":"d","table":"t","type":"insert","ts":6,"data":{"id":3,"v":1.0}}""")
        .mkString("\n") + "\n").getBytes("UTF-8"))
    CdcStream.materializeToParquet(
      CdcStream.fileChangelog(spark, logDir), specV2, stateDir, ckptDir,
      allowEvolution = true).awaitTermination()
    val state = CdcStream.readCurrentState(spark, stateDir)
    assert(!state.columns.contains("legacy"),
      s"dropped column must leave the state schema: ${state.columns.toSeq}")
    val got = state.collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Double]("v"))).toSet
    assert(got == Set((1L, 5.0), (2L, 8.0), (3L, 1.0)),
      s"values must survive the narrowing merge: $got")
  }

  test("schema evolution: ALTER MODIFY widening mid-stream, state casts up") {
    import org.apache.spark.sql.types._
    import graft.cdc.TableSpec
    val logDir = tmpDir("modlog")
    val stateDir = tmpDir("modstate") + "/state"
    val ckptDir = tmpDir("modckpt")
    val specV1 = TableSpec("d", "t", Seq("id"), StructType(Seq(
      StructField("id", LongType), StructField("qty", IntegerType),
      StructField("price", DecimalType(10, 2)))))
    // upstream ALTER MODIFY qty BIGINT, price DECIMAL(14,4) — the most
    // common ALTER after ADD COLUMN; restart with the widened spec
    val specV2 = TableSpec("d", "t", Seq("id"), StructType(Seq(
      StructField("id", LongType), StructField("qty", LongType),
      StructField("price", DecimalType(14, 4)))))
    Files.write(java.nio.file.Paths.get(logDir, "b1.json"),
      (Seq("""{"database":"d","table":"t","type":"insert","ts":1,"data":{"id":1,"qty":5,"price":10.25}}""",
           """{"database":"d","table":"t","type":"insert","ts":2,"data":{"id":2,"qty":7,"price":20.50}}""")
        .mkString("\n") + "\n").getBytes("UTF-8"))
    CdcStream.materializeToParquet(
      CdcStream.fileChangelog(spark, logDir), specV1, stateDir, ckptDir)
      .awaitTermination()
    Files.write(java.nio.file.Paths.get(logDir, "b2.json"),
      (Seq("""{"database":"d","table":"t","type":"update","ts":5,"data":{"id":2,"qty":8000000000,"price":99.1234},"old":{"qty":7}}""",
           """{"database":"d","table":"t","type":"insert","ts":6,"data":{"id":3,"qty":4,"price":1.0001}}""")
        .mkString("\n") + "\n").getBytes("UTF-8"))
    CdcStream.materializeToParquet(
      CdcStream.fileChangelog(spark, logDir), specV2, stateDir, ckptDir,
      allowEvolution = true).awaitTermination()
    val state = CdcStream.readCurrentState(spark, stateDir)
    assert(state.schema("qty").dataType == LongType &&
           state.schema("price").dataType == DecimalType(14, 4),
      s"state must read back in the widened types: ${state.schema}")
    val got = state.collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("qty"),
                 r.getAs[java.math.BigDecimal]("price").doubleValue)).toSet
    assert(got == Set((1L, 5L, 10.25), (2L, 8000000000L, 99.1234),
                      (3L, 4L, 1.0001)),
      s"pre-ALTER rows must cast up with values intact: $got")
    // a narrowing restart (back to INT) must fail the batch loudly, not
    // silently re-widen: the state already holds a value outside INT
    Files.write(java.nio.file.Paths.get(logDir, "b3.json"),
      (Seq("""{"database":"d","table":"t","type":"insert","ts":9,"data":{"id":4,"qty":1,"price":2.00}}""")
        .mkString("\n") + "\n").getBytes("UTF-8"))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      CdcStream.materializeToParquet(
        CdcStream.fileChangelog(spark, logDir), specV1, stateDir, ckptDir,
        allowEvolution = true).awaitTermination()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("non-widening")),
      messages(e).mkString(" | "))
  }

  test("schema evolution: ALTER RENAME COLUMN mid-stream preserves history") {
    import org.apache.spark.sql.types._
    import graft.cdc.TableSpec
    val logDir = tmpDir("renlog")
    val stateDir = tmpDir("renstate") + "/state"
    val ckptDir = tmpDir("renckpt")
    val specV1 = TableSpec("d", "t", Seq("id"), StructType(Seq(
      StructField("id", LongType), StructField("amount", DoubleType))))
    // upstream RENAME amount -> total: v2 declares the new schema plus
    // the version map so pre-ALTER history re-keys instead of nulling
    val specV2 = TableSpec("d", "t", Seq("id"), StructType(Seq(
      StructField("id", LongType), StructField("total", DoubleType))),
      renamedColumns = Map("amount" -> "total"))
    Files.write(java.nio.file.Paths.get(logDir, "b1.json"),
      (Seq("""{"database":"d","table":"t","type":"insert","ts":1,"data":{"id":1,"amount":5.0}}""",
           """{"database":"d","table":"t","type":"insert","ts":2,"data":{"id":2,"amount":7.0}}""")
        .mkString("\n") + "\n").getBytes("UTF-8"))
    CdcStream.materializeToParquet(
      CdcStream.fileChangelog(spark, logDir), specV1, stateDir, ckptDir)
      .awaitTermination()
    Files.write(java.nio.file.Paths.get(logDir, "b2.json"),
      (Seq("""{"database":"d","table":"t","type":"update","ts":5,"data":{"id":2,"total":8.0},"old":{"total":7.0}}""")
        .mkString("\n") + "\n").getBytes("UTF-8"))
    CdcStream.materializeToParquet(
      CdcStream.fileChangelog(spark, logDir), specV2, stateDir, ckptDir,
      allowEvolution = true).awaitTermination()
    val state = CdcStream.readCurrentState(spark, stateDir)
    assert(state.columns.toSet == Set("id", "total"),
      s"renamed column must carry the new name: ${state.columns.toSeq}")
    val got = state.collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Double]("total"))).toSet
    assert(got == Set((1L, 5.0), (2L, 8.0)),
      s"pre-ALTER values must survive under the new name: $got")
    // a third batch after the rename landed: the (now applied) version
    // map must be a no-op, not an error — restart specs are sticky
    Files.write(java.nio.file.Paths.get(logDir, "b3.json"),
      (Seq("""{"database":"d","table":"t","type":"insert","ts":9,"data":{"id":3,"total":2.0}}""")
        .mkString("\n") + "\n").getBytes("UTF-8"))
    CdcStream.materializeToParquet(
      CdcStream.fileChangelog(spark, logDir), specV2, stateDir, ckptDir,
      allowEvolution = true).awaitTermination()
    val got3 = CdcStream.readCurrentState(spark, stateDir).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Double]("total"))).toSet
    assert(got3 == Set((1L, 5.0), (2L, 8.0), (3L, 2.0)),
      s"applied version map must be idempotent across batches: $got3")
  }

  test("seeded handoff: snapshot state + overlapping changelog converges") {
    import org.apache.spark.sql.types._
    import graft.cdc.TableSpec
    val logDir = tmpDir("seedlog")
    val stateDir = tmpDir("seedstate") + "/state"
    val ckptDir = tmpDir("seedckpt")
    val spec = TableSpec("d", "t", Seq("id"), StructType(Seq(
      StructField("id", LongType), StructField("v", DoubleType))))
    // snapshot consistent-read at ts0=10: {1 -> 5.0, 2 -> 7.0}
    import spark.implicits._
    CdcStream.seedState(
      Seq((1L, 5.0), (2L, 7.0)).toDF("id", "v"), ts0 = 10L, stateDir)
    // the replayed changelog OVERLAPS the snapshot: pre-ts0 events (the
    // insert of 1, a stale update of 2) must lose; post-ts0 ones win
    def ev(op: String, ts: Long, id: Long, v: Double) =
      s"""{"database":"d","table":"t","type":"$op","ts":$ts,"data":{"id":$id,"v":$v}}"""
    Files.write(java.nio.file.Paths.get(logDir, "b1.json"),
      (Seq(ev("insert", 3, 1, 1.0), ev("update", 7, 2, 2.0),
           ev("update", 12, 2, 9.0), ev("insert", 15, 3, 4.0),
           ev("delete", 18, 1, 5.0)).mkString("\n") + "\n").getBytes("UTF-8"))
    CdcStream.materializeToParquet(
      CdcStream.fileChangelog(spark, logDir), spec, stateDir, ckptDir)
      .awaitTermination()
    val got = CdcStream.readCurrentState(spark, stateDir).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Double]("v")).toMap
    assert(got == Map(2L -> 9.0, 3L -> 4.0),
      s"seeded streaming handoff diverged: $got")
  }

  test("out-of-order arrival: stale events cannot overwrite or resurrect") {
    val logDir = tmpDir("cdclog3")
    val stateDir = tmpDir("cdcstate3") + "/state"
    val ckptDir = tmpDir("cdcckpt3")
    val log = ChangelogGen.ordersChangelog(spark, sfDir).cache()
    // batch 1: the FUTURE half of the log (updates + deletes, higher ts)
    log.filter(!col("value").contains("\"insert\"")).select("value")
      .coalesce(1).write.mode("overwrite").text(logDir)
    val env1 = CdcStream.fileChangelog(spark, logDir).withColumn("seq", lit(0L))
    CdcStream.materializeToParquet(env1, ChangelogGen.ordersSpec,
      stateDir, ckptDir).awaitTermination()
    // batch 2: the EARLIER inserts arrive late
    log.filter(col("value").contains("\"insert\"")).select("value")
      .coalesce(1).write.mode("append").text(logDir)
    val env2 = CdcStream.fileChangelog(spark, logDir).withColumn("seq", lit(0L))
    CdcStream.materializeToParquet(env2, ChangelogGen.ordersSpec,
      stateDir, ckptDir).awaitTermination()
    // stale inserts must not overwrite newer updates nor resurrect
    // tombstoned keys: final state == in-order replay of the full log
    val got = CdcStream.readCurrentState(spark, stateDir)
    val want = ChangelogGen.ordersState(spark, sfDir)
    assert(got.count() == want.count())
    assert(got.select(want.columns.map(col): _*).exceptAll(want).count() == 0)
  }

  test("windowed aggregation with watermark over events (AvailableNow)") {
    val evDir = tmpDir("events")
    graft.Tables.load(spark, sfDir, "events")
      .write.mode("overwrite").parquet(evDir)
    val stream = spark.readStream
      .schema(spark.read.parquet(evDir).schema)
      .parquet(evDir)
    val agg = CdcStream.windowedCounts(stream, "ts", "10 minutes",
      "1 hour", "event_type")
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("win")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("win")
      .groupBy("ws", "event_type").agg(sum("n").as("n"))
    val want = graft.Tables.load(spark, sfDir, "events")
      .groupBy(window(col("ts"), "1 hour").getField("start").as("ws"),
               col("event_type"))
      .agg(count(lit(1)).as("n"))
    // append mode emits only windows closed by the final watermark; every
    // emitted window must match batch, and most windows must have closed
    assert(got.join(want, Seq("ws", "event_type"))
      .filter(got("n") =!= want("n")).count() == 0)
    assert(got.count() >= want.count() - 1)
  }

  test("dropDuplicatesWithinWatermark dedups replayed keys") {
    val evDir = tmpDir("eventsdup")
    val ev = graft.Tables.load(spark, sfDir, "events").limit(200)
    ev.union(ev).write.mode("overwrite").parquet(evDir) // each event twice
    val stream = spark.readStream
      .schema(spark.read.parquet(evDir).schema).parquet(evDir)
    val dedup = CdcStream.dedupWithinWatermark(stream, "ts", "1 day",
      Seq("event_id"))
    val q = dedup.writeStream.outputMode("append")
      .format("memory").queryName("dedup")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(spark.table("dedup").count() == 200)
    assert(spark.table("dedup").select("event_id").distinct().count() == 200)
  }

  test("stream-static join enriches change events with a dimension table") {
    val logDir = tmpDir("enrichlog")
    ChangelogGen.ordersChangelog(spark, sfDir).select("value")
      .coalesce(1).write.mode("overwrite").text(logDir)
    val envelope = CdcStream.fileChangelog(spark, logDir)
      .withColumn("seq", lit(0L))
    val events = CdcStream.changeEvents(envelope, ChangelogGen.ordersSpec)
      .select(col("op"), col("after.o_orderkey").as("o_orderkey"),
              col("after.o_custkey").as("o_custkey"))
    val dim = graft.Tables.load(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val enriched = CdcStream.enrichWithDimension(events, dim,
      "o_custkey", "c_custkey")
    val q = enriched.writeStream.outputMode("append")
      .format("memory").queryName("enriched")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("enriched")
    val nEvents = ChangelogGen.ordersChangeEvents(spark, sfDir).count()
    assert(got.count() == nEvents)                      // left join keeps all
    assert(got.filter(col("c_mktsegment").isNull).count() == 0) // all enriched
  }

  test("typed envelope surface decodes into Dataset[CdcEnvelope]") {
    import graft.cdc.{CdcEnvelope, Maxwell}
    val lines = ChangelogGen.ordersChangelog(spark, sfDir)
      .select("value").as[String](org.apache.spark.sql.Encoders.STRING)
    val typed: org.apache.spark.sql.Dataset[CdcEnvelope] =
      Maxwell.typedEnvelope(lines)
    val e = typed.filter(_.op == "update").head()
    assert(e.database == "graft_demo" && e.table == "orders")
    assert(e.old.isDefined && e.old.get.contains("o_totalprice"))
  }

  test("late data beyond the watermark is dropped across restarts") {
    val evDir = tmpDir("eventslate")
    val ckpt = tmpDir("lateckpt")
    val ev = graft.Tables.load(spark, sfDir, "events")
    ev.write.mode("overwrite").parquet(evDir)
    val schema = spark.read.parquet(evDir).schema
    def runOnce() = {
      // memory sink can't recover from a checkpoint; collect via
      // foreachBatch (which can) into a driver-side buffer
      val buf = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.Row]()
      val stream = spark.readStream.schema(schema).parquet(evDir)
      val agg = CdcStream.windowedCounts(stream, "ts", "10 minutes",
        "1 hour", "event_type")
      val q = agg.writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
            b.collect().foreach(buf.add); ()
        }
        .start()
      q.awaitTermination()
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(buf.asScala.toSeq.asJava,
        org.apache.spark.sql.types.StructType(
          agg.schema.fields.map(_.copy(nullable = true))))
    }
    runOnce() // advances the checkpointed watermark to max(ts)-10min

    // second batch: one VERY late event (at the corpus minimum, hours
    // behind the watermark) plus nothing newer — it must be dropped, and
    // its already-emitted window must not re-emit
    val lateTs = ev.agg(min(col("ts"))).head().getTimestamp(0)
    val lateHour = new java.sql.Timestamp(lateTs.getTime / 3600000 * 3600000)
    ev.limit(1)
      .withColumn("ts", lit(lateTs))
      .withColumn("event_type", lit("LATE_MARKER"))
      .write.mode("append").parquet(evDir)
    val out2 = runOnce()
    assert(out2.filter(col("event_type") === "LATE_MARKER").count() == 0)
    assert(out2.filter(col("ws") === lateHour).count() == 0)
  }

  test("stream-stream interval join matches events within the window") {
    val evDir = tmpDir("ssjoin")
    graft.Tables.load(spark, sfDir, "events")
      .write.mode("overwrite").parquet(evDir)
    val schema = spark.read.parquet(evDir).schema
    def stream() = spark.readStream.schema(schema).parquet(evDir)
    val clicks = stream().filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id"),
              col("ts").as("c_ts"))
    val purchases = stream().filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"),
              col("user_id").as("p_user"), col("ts").as("p_ts"))
    val joined = CdcStream.intervalJoin(
      clicks.withColumnRenamed("user_id", "key"),
      purchases.withColumnRenamed("p_user", "key"),
      "key", "c_ts", "p_ts", watermark = "1 hour", interval = "2 HOURS")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssjoin")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("ssjoin")
    // batch equivalent as ground truth
    val ev = graft.Tables.load(spark, sfDir, "events")
    val bc = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("key"),
              col("ts").as("c_ts"))
    val bp = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("key2"),
              col("ts").as("p_ts"))
    val want = bc.join(bp, col("key") === col("key2") &&
      col("c_ts") >= col("p_ts") &&
      col("c_ts") <= col("p_ts") + expr("INTERVAL 2 HOURS"))
    // streaming may withhold pairs still inside the final watermark, but
    // everything it emits must be correct and most pairs must appear
    assert(got.count() > 0)
    val wrong = got.select("c_id", "p_id")
      .exceptAll(want.select("c_id", "p_id"))
    assert(wrong.count() == 0)
    assert(got.count() >= (want.count() * 0.8).toLong)
  }

  test("flatMapGroupsWithState emits the latest image per key") {
    val logDir = tmpDir("statelog")
    ChangelogGen.ordersChangelog(spark, sfDir).select("value")
      .coalesce(1).write.mode("overwrite").text(logDir)
    val envelope = CdcStream.fileChangelog(spark, logDir)
      .withColumn("seq", lit(0L))
    val events = CdcStream.changeEvents(envelope, ChangelogGen.ordersSpec)
    val latest = CdcStream.lastImagePerKey(events, spark)
    val q = latest.writeStream.outputMode("update")
      .format("memory").queryName("lastimg")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("lastimg")
    val orders = graft.Tables.load(spark, sfDir, "orders")
    assert(got.select("key").distinct().count() == orders.count())
    // deleted keys end on op=delete (highest ts in their sequence)
    val delKeys = got.filter(col("op") === "delete")
    assert(delKeys.count() == orders.filter(col("o_orderkey") % 10 === 0).count())
    // 'F' keys not divisible by 10 end on their update
    val fKeys = got.filter(col("op") === "update").count()
    assert(fKeys == orders.filter(col("o_orderstatus") === "F" &&
                                  col("o_orderkey") % 10 =!= 0).count())
  }

  test("transformWithState (StatefulProcessor) matches flatMapGroupsWithState semantics") {
    // transformWithState requires the RocksDB state store provider —
    // isolate it in a child session so the suite's other streams keep
    // the default HDFS-backed provider
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val logDir = tmpDir("twslog")
    ChangelogGen.ordersChangelog(spark, sfDir).select("value")
      .coalesce(1).write.mode("overwrite").text(logDir)
    val envelope = CdcStream.fileChangelog(s2, logDir)
      .withColumn("seq", lit(0L))
    val events = CdcStream.changeEvents(envelope, ChangelogGen.ordersSpec)
    val latest = CdcStream.lastImagePerKeyTws(events, s2)
    val q = latest.writeStream.outputMode("update")
      .format("memory").queryName("lastimg_tws")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = s2.table("lastimg_tws")
    val orders = graft.Tables.load(spark, sfDir, "orders")
    assert(got.select("key").distinct().count() == orders.count())
    val delKeys = got.filter(col("op") === "delete")
    assert(delKeys.count() == orders.filter(col("o_orderkey") % 10 === 0).count())
    val fKeys = got.filter(col("op") === "update").count()
    assert(fKeys == orders.filter(col("o_orderstatus") === "F" &&
                                  col("o_orderkey") % 10 =!= 0).count())
  }

  test("streaming join view: two-topic stream, late dim, restarts") {
    import org.apache.spark.sql.types._
    import graft.cdc.TableSpec
    val logDir = tmpDir("jvlog")
    val root = tmpDir("jvstate")
    val ckpt = tmpDir("jvckpt")
    val lSpec = TableSpec("d", "fact", Seq("k"), StructType(Seq(
      StructField("k", LongType), StructField("fk", LongType),
      StructField("price", DoubleType))))
    val rSpec = TableSpec("d", "dim", Seq("ck"), StructType(Seq(
      StructField("ck", LongType), StructField("name", StringType))))
    def fact(op: String, ts: Long, k: Long, fk: Long, p: Double) =
      s"""{"database":"d","table":"fact","type":"$op","ts":$ts,"data":{"k":$k,"fk":$fk,"price":$p}}"""
    def dim(op: String, ts: Long, ck: Long, name: String) =
      s"""{"database":"d","table":"dim","type":"$op","ts":$ts,"data":{"ck":$ck,"name":"$name"}}"""
    def append(name: String, lines: Seq[String]): Unit =
      Files.write(java.nio.file.Paths.get(logDir, name),
        (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    def run(): Unit = CdcStream.maintainMultiViewToParquet(
      CdcStream.fileChangelog(spark, logDir), lSpec, rSpec,
      lJoinCols = Seq("fk"),
      Seq(CdcStream.NamedView.joinView("jv",
        Seq("k", "fk", "price", "ck", "name"), Seq("k"))),
      root, ckpt).awaitTermination()
    def view(): Set[(Long, Long, Double, Long, String)] =
      CdcStream.readMultiView(spark, root, "jv").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
                   r.getLong(3), r.getString(4))).toSet
    // batch 1: both facts + dim c20 only -> view has just k=2; the fact
    // referencing c10 must NOT appear before c10's insert arrives
    append("b1.json", Seq(
      fact("insert", 1, 1, 10, 5.0), fact("insert", 1, 2, 20, 7.0),
      dim("insert", 2, 20, "c20")))
    run()
    assert(view() == Set((2L, 20L, 7.0, 20L, "c20")))
    // batch 2 (restart, same checkpoint): c10 arrives LATE + k=1 price
    // update -> both rows, retroactively joined
    append("b2.json", Seq(
      dim("insert", 4, 10, "c10"), fact("update", 5, 1, 10, 6.0)))
    run()
    assert(view() == Set(
      (1L, 10L, 6.0, 10L, "c10"), (2L, 20L, 7.0, 20L, "c20")))
    // batch 3: delete dim c10 and fact k=2 -> empty view
    append("b3.json", Seq(
      dim("delete", 8, 10, "c10"), fact("delete", 9, 2, 20, 7.0)))
    run()
    assert(view().isEmpty)
  }

  test("streaming multi-view: N views advance atomically off one stream") {
    import org.apache.spark.sql.types._
    import graft.cdc.TableSpec
    val logDir = tmpDir("mvlog")
    val root = tmpDir("mvstate")
    val ckpt = tmpDir("mvckpt")
    val lSpec = TableSpec("d", "fact", Seq("k"), StructType(Seq(
      StructField("k", LongType), StructField("fk", LongType),
      StructField("price", DoubleType))))
    val rSpec = TableSpec("d", "dim", Seq("ck"), StructType(Seq(
      StructField("ck", LongType), StructField("grp", StringType))))
    def fact(op: String, ts: Long, k: Long, fk: Long, p: Double) =
      s"""{"database":"d","table":"fact","type":"$op","ts":$ts,"data":{"k":$k,"fk":$fk,"price":$p}}"""
    def dim(op: String, ts: Long, ck: Long, grp: String) =
      s"""{"database":"d","table":"dim","type":"$op","ts":$ts,"data":{"ck":$ck,"grp":"$grp"}}"""
    def append(name: String, lines: Seq[String]): Unit =
      Files.write(java.nio.file.Paths.get(logDir, name),
        (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(25,10)")
    val views = Seq(
      CdcStream.NamedView.joinView("inner",
        Seq("k", "fk", "price", "ck", "grp"), Seq("k")),
      CdcStream.NamedView.joinAgg("rev", Seq("grp"),
        Seq(("price", "price", dec))),
      CdcStream.NamedView.joinDistinct("nfacts", "grp", "k"),
      CdcStream.NamedView.joinTopK("top",
        Seq("k", "fk", "price", "ck", "grp"), "grp", "price", 2))
    def run(): Unit = CdcStream.maintainMultiViewToParquet(
      CdcStream.fileChangelog(spark, logDir), lSpec, rSpec,
      lJoinCols = Seq("fk"), views, root, ckpt).awaitTermination()
    def inner(): Set[(Long, Double, String)] =
      CdcStream.readMultiView(spark, root, "inner").collect()
        .map(r => (r.getAs[Long]("k"), r.getAs[Double]("price"),
                   r.getAs[String]("grp"))).toSet
    def rev(): Set[(String, Long, Double)] =
      CdcStream.readMultiView(spark, root, "rev").collect()
        .map(r => (r.getAs[String]("grp"), r.getAs[Long]("n_rows"),
                   r.getAs[java.math.BigDecimal]("sum_price")
                     .doubleValue())).toSet
    def nfacts(): Set[(String, Long)] =
      CdcStream.readMultiView(spark, root, "nfacts").collect()
        .map(r => (r.getAs[String]("grp"),
                   r.getAs[Long]("n_distinct_k"))).toSet
    def top(): Set[(String, Int, Long)] =
      CdcStream.readMultiView(spark, root, "top").collect()
        .map(r => (r.getAs[String]("grp"), r.getAs[Int]("rk"),
                   r.getAs[Long]("k"))).toSet
    // batch 1: two facts on dim 10 (grp a), one on a missing dim
    append("b1.json", Seq(
      fact("insert", 1, 1, 10, 5.0), fact("insert", 1, 2, 10, 7.0),
      fact("insert", 1, 3, 20, 2.0), dim("insert", 2, 10, "a")))
    run()
    assert(inner() == Set((1L, 5.0, "a"), (2L, 7.0, "a")))
    assert(rev() == Set(("a", 2L, 12.0)))
    assert(nfacts() == Set(("a", 2L)))
    assert(top() == Set(("a", 1, 2L), ("a", 2, 1L)))
    // batch 2 (restart): late dim 20 arrives; fact 2 moves to dim 20
    append("b2.json", Seq(
      dim("insert", 4, 20, "b"), fact("update", 5, 2, 20, 7.5)))
    run()
    assert(inner() == Set((1L, 5.0, "a"), (2L, 7.5, "b"), (3L, 2.0, "b")))
    assert(rev() == Set(("a", 1L, 5.0), ("b", 2L, 9.5)))
    assert(nfacts() == Set(("a", 1L), ("b", 2L)))
    assert(top() == Set(("a", 1, 1L), ("b", 1, 2L), ("b", 2, 3L)))
    // every view's OWN changelog folds back to its face (cascade-ready)
    Seq("inner", "rev", "nfacts", "top").foreach { n =>
      val folded = CdcStream.viewAsOfBatch(spark, s"$root/$n", Long.MaxValue)
      val face = CdcStream.readMultiView(spark, root, n)
      assert(folded.collect().map(_.toString).toSet ==
               face.collect().map(_.toString).toSet,
        s"changelog fold != face for view '$n'")
    }
    // re-run with nothing new: the applied marker makes it a no-op
    run()
    assert(rev() == Set(("a", 1L, 5.0), ("b", 2L, 9.5)))
  }

  test("streaming decontam: release flags an untouched doc across a restart, retire retracts") {
    import org.apache.spark.sql.types._
    import graft.cdc.TableSpec
    val logDir = tmpDir("dclog")
    val root = tmpDir("dcstate")
    val ckpt = tmpDir("dcckpt")
    val dSpec = TableSpec("d", "doc", Seq("id"), StructType(Seq(
      StructField("id", LongType), StructField("text", StringType))))
    val bSpec = TableSpec("d", "bench", Seq("bid"), StructType(Seq(
      StructField("bid", LongType), StructField("text", StringType))))
    val G1 = "quick brown fox jumps over"
    val G2 = "box with five dozen liquor"
    def doc(op: String, ts: Long, id: Long, text: String) =
      s"""{"database":"d","table":"doc","type":"$op","ts":$ts,"data":{"id":$id,"text":"$text"}}"""
    def bench(op: String, ts: Long, bid: Long, text: String) =
      s"""{"database":"d","table":"bench","type":"$op","ts":$ts,"data":{"bid":$bid,"text":"$text"}}"""
    def append(name: String, lines: Seq[String]): Unit =
      Files.write(java.nio.file.Paths.get(logDir, name),
        (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    val views = Seq(
      CdcStream.NamedView.decontam("contam", "id", "text", "text"))
    def run(): Unit = CdcStream.maintainMultiViewToParquet(
      CdcStream.fileChangelog(spark, logDir), dSpec, bSpec,
      lJoinCols = Seq("id"), views, root, ckpt).awaitTermination()
    def face(): Set[(Long, Long)] =
      CdcStream.readMultiView(spark, root, "contam").collect()
        .map(r => (r.getAs[Long]("id"), r.getAs[Long]("n_hits"))).toSet
    // batch 1: two docs + suite 1 -> doc 1 flagged
    append("b1.json", Seq(
      doc("insert", 1, 1, s"the $G1 the lazy dog"),
      doc("insert", 1, 2, s"pack my $G2 jugs today"),
      bench("insert", 2, 1, G1)))
    run()
    assert(face() == Set((1L, 1L)))
    // batch 2 (restart, BENCH-ONLY): the new release must flag doc 2
    // through the PERSISTED gram index — no doc event in the batch
    append("b2.json", Seq(bench("insert", 4, 2, G2)))
    run()
    assert(face() == Set((1L, 1L), (2L, 1L)))
    // batch 3: suite 1 retires (doc 1 unflags), doc 3 arrives dirty
    append("b3.json", Seq(
      bench("delete", 6, 1, G1),
      doc("insert", 7, 3, s"extra $G2 jugs appended here")))
    run()
    assert(face() == Set((2L, 1L), (3L, 1L)))
    // the face's own changelog folds back to the face (cascade-ready)
    val folded = CdcStream.viewAsOfBatch(spark, s"$root/contam", Long.MaxValue)
    assert(folded.collect().map(_.toString).toSet ==
             CdcStream.readMultiView(spark, root, "contam")
               .collect().map(_.toString).toSet,
      "changelog fold != face")
    // re-run with nothing new: the applied marker makes it a no-op
    run()
    assert(face() == Set((2L, 1L), (3L, 1L)))
  }

  test("streaming snowflake: 3-topic chain advances atomically, deep deletes propagate") {
    import org.apache.spark.sql.types._
    import graft.cdc.TableSpec
    val logDir = tmpDir("sfslog")
    val root = tmpDir("sfsstate")
    val ckpt = tmpDir("sfsckpt")
    val lSpec = TableSpec("d", "fact", Seq("k"), StructType(Seq(
      StructField("k", LongType), StructField("fk", LongType),
      StructField("price", DoubleType))))
    val mSpec = TableSpec("d", "dim", Seq("ck"), StructType(Seq(
      StructField("ck", LongType), StructField("name", StringType),
      StructField("nk", LongType))))
    val dSpec = TableSpec("d", "dim2", Seq("nkey"), StructType(Seq(
      StructField("nkey", LongType), StructField("region", StringType))))
    def fact(op: String, ts: Long, k: Long, fk: Long, p: Double) =
      s"""{"database":"d","table":"fact","type":"$op","ts":$ts,"data":{"k":$k,"fk":$fk,"price":$p}}"""
    def dim(op: String, ts: Long, ck: Long, name: String, nk: Long) =
      s"""{"database":"d","table":"dim","type":"$op","ts":$ts,"data":{"ck":$ck,"name":"$name","nk":$nk}}"""
    def dim2(op: String, ts: Long, nkey: Long, region: String) =
      s"""{"database":"d","table":"dim2","type":"$op","ts":$ts,"data":{"nkey":$nkey,"region":"$region"}}"""
    def append(name: String, lines: Seq[String]): Unit =
      Files.write(java.nio.file.Paths.get(logDir, name),
        (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(25,10)")
    val views = Seq(
      CdcStream.NamedView.joinView("snow",
        Seq("k", "fk", "price", "name", "nk", "region"), Seq("k")),
      CdcStream.NamedView.joinAgg("rev", Seq("region"),
        Seq(("price", "price", dec))))
    def run(): Unit = CdcStream.maintainSnowflakeViewToParquet(
      CdcStream.fileChangelog(spark, logDir), Seq(lSpec, mSpec, dSpec),
      fks = Seq(Seq("fk"), Seq("nk")), views, root, ckpt)
      .awaitTermination()
    def snow(): Set[(Long, Double, String, String)] =
      CdcStream.readMultiView(spark, root, "snow").collect()
        .map(r => (r.getAs[Long]("k"), r.getAs[Double]("price"),
                   r.getAs[String]("name"), r.getAs[String]("region"))).toSet
    def rev(): Set[(String, Long, Double)] =
      CdcStream.readMultiView(spark, root, "rev").collect()
        .map(r => (r.getAs[String]("region"), r.getAs[Long]("n_rows"),
                   r.getAs[java.math.BigDecimal]("sum_price")
                     .doubleValue())).toSet
    // batch 1: only fact 2's chain is complete (dim 20 -> dim2 200);
    // fact 1 references dim 10, not arrived yet
    append("b1.json", Seq(
      fact("insert", 1, 1, 10, 5.0), fact("insert", 1, 2, 20, 7.0),
      dim("insert", 2, 20, "b", 200),
      dim2("insert", 0, 200, "AS"), dim2("insert", 0, 100, "EU")))
    run()
    assert(snow() == Set((2L, 7.0, "b", "AS")), s"b1 snow: ${snow()}")
    assert(rev() == Set(("AS", 1L, 7.0)), s"b1 rev: ${rev()}")
    // batch 2 (restart): mid-level dim arrives late; fact price update
    append("b2.json", Seq(
      dim("insert", 4, 10, "a", 100), fact("update", 5, 1, 10, 6.0)))
    run()
    assert(snow() == Set((1L, 6.0, "a", "EU"), (2L, 7.0, "b", "AS")),
      s"b2 snow: ${snow()}")
    assert(rev() == Set(("EU", 1L, 6.0), ("AS", 1L, 7.0)), s"b2 rev: ${rev()}")
    // batch 3 (restart): DEEP delete at the bottom topic — no fact or
    // dim event, yet fact 2 must drop via two-level key propagation
    append("b3.json", Seq(dim2("delete", 8, 200, "AS")))
    run()
    assert(snow() == Set((1L, 6.0, "a", "EU")),
      s"deep dim2 delete must retract fact 2: ${snow()}")
    assert(rev() == Set(("EU", 1L, 6.0)), s"b3 rev: ${rev()}")
    // every view's OWN changelog folds back to its face
    Seq("snow", "rev").foreach { n =>
      val folded = CdcStream.viewAsOfBatch(spark, s"$root/$n", Long.MaxValue)
      val face = CdcStream.readMultiView(spark, root, n)
      assert(folded.collect().map(_.toString).toSet ==
               face.collect().map(_.toString).toSet,
        s"changelog fold != face for view '$n'")
    }
    // re-run with nothing new: the applied marker makes it a no-op
    run()
    assert(rev() == Set(("EU", 1L, 6.0)))
  }

  test("streaming dedup index: near-dup pairs and exact-dup groups stay current") {
    import org.apache.spark.sql.types._
    import graft.cdc.TableSpec
    val logDir = tmpDir("ddxlog")
    val root = tmpDir("ddxstate")
    val ckpt = tmpDir("ddxckpt")
    val spec = TableSpec("d", "docs", Seq("doc_id"), StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType))))
    def ev(op: String, ts: Long, id: Long, text: String,
           old: Option[String] = None) = {
      val o = old.map(t => s""","old":{"text":"$t"}""").getOrElse("")
      s"""{"database":"d","table":"docs","type":"$op","ts":$ts,"data":{"doc_id":$id,"text":"$text"}$o}"""
    }
    def append(name: String, lines: Seq[String]): Unit =
      Files.write(java.nio.file.Paths.get(logDir, name),
        (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    val wolf = "the quick brown fox jumps over the lazy dog and then " +
      "runs far away into the deep dark forest tonight"
    val wolf2 = "a quick brown fox jumps over the lazy dog and then " +
      "runs far away into the deep dark forest tonight"
    val metal = "heavy metal pipes clang loudly in the empty warehouse " +
      "while workers assemble the giant turbine frame"
    val views = Seq(
      CdcStream.NamedTableView.dedupIndex("nearidx", "doc_id", "text",
        b = 4, r = 2, nGram = 3),
      CdcStream.NamedTableView.dupGroups("exact", "doc_id", "text"),
      CdcStream.NamedTableView.tokenFreq("tokfreq", "text"),
      CdcStream.NamedTableView.bigramFreq("bgfreq", "text"),
      CdcStream.NamedTableView.qualityFunnel("funnel", "text", "doc_id"))
    def run(): Unit = CdcStream.maintainTableViewsToParquet(
      CdcStream.fileChangelog(spark, logDir), spec, views, root, ckpt)
      .awaitTermination()
    def pairs(): Set[(Long, Long)] =
      CdcStream.readMultiView(spark, root, "nearidx").collect()
        .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    def groups(): Set[(Long, Long)] =
      CdcStream.readMultiView(spark, root, "exact").collect()
        .map(r => (r.getAs[Long]("n_docs"), r.getAs[Long]("rep_id"))).toSet
    // batch 1: near-dup pair (1,2), exact dups (3,4)
    append("b1.json", Seq(
      ev("insert", 1, 1, wolf), ev("insert", 2, 2, wolf2),
      ev("insert", 3, 3, metal), ev("insert", 4, 4, metal)))
    run()
    assert(pairs().contains((1L, 2L)), s"b1 pairs: ${pairs()}")
    assert(groups() == Set((2L, 3L)), s"b1 groups: ${groups()}")
    // batch 2 (restart): doc 2 rewritten to a third exact copy of metal
    // -> near-dup pair retracts, exact group grows
    append("b2.json", Seq(ev("update", 11, 2, metal, old = Some(wolf2))))
    run()
    assert(!pairs().contains((1L, 2L)),
      s"rewrite must retract the near-dup pair: ${pairs()}")
    assert(groups() == Set((3L, 2L)),
      s"group must absorb doc 2 and re-point rep: ${groups()}")
    // batch 3 (restart): delete the representative -> promote
    append("b3.json", Seq(ev("delete", 21, 2, metal)))
    run()
    assert(groups() == Set((2L, 3L)), s"rep must promote: ${groups()}")
    // the index never grew signatures for unchanged docs: wolf (doc 1)
    // kept its batch-1 bands bit-for-bit through two later generations
    val idxNow = CdcStream.readViewStateFile(spark, root, "nearidx", "index")
    assert(idxNow.filter(col("id") === 1).count() == 4, "doc 1 bands")
    // maintained token counts: 3 live docs (1 wolf + 3,4 metal) — the
    // word "metal" appears once in each of docs 3 and 4 (doc 2 deleted)
    val tok = CdcStream.readMultiView(spark, root, "tokfreq")
      .filter(col("token") === "metal").collect()
    assert(tok.length == 1 && tok.head.getLong(1) == 2L,
      s"token 'metal' must count its two live docs: ${tok.mkString}")
    // maintained bigram counts: "metal pipes" lives in docs 3 and 4
    val bg = CdcStream.readMultiView(spark, root, "bgfreq")
      .filter(col("token") === "metal pipes").collect()
    assert(bg.length == 1 && bg.head.getLong(1) == 2L,
      s"bigram 'metal pipes' must count its two live docs: ${bg.mkString}")
    // maintained quality funnel: all 3 live docs are short -> rule 1
    // eats the corpus (n_in=3, n_out=0) and later stages see nothing
    val fun = CdcStream.readMultiView(spark, root, "funnel")
      .orderBy(col("stage")).collect()
      .map(r => (r.getAs[Int]("stage"), r.getAs[Long]("n_in"),
                 r.getAs[Long]("n_out")))
    assert(fun.toSeq == Seq((1, 3L, 0L), (2, 0L, 0L), (3, 0L, 0L),
                            (4, 0L, 0L)),
      s"funnel: ${fun.mkString(", ")}")
    // changelogs fold to faces; replayed batch is a no-op
    Seq("nearidx", "exact", "tokfreq", "bgfreq", "funnel").foreach { n =>
      val folded = CdcStream.viewAsOfBatch(spark, s"$root/$n", Long.MaxValue)
      val face = CdcStream.readMultiView(spark, root, n)
      assert(folded.collect().map(_.toString).toSet ==
               face.collect().map(_.toString).toSet,
        s"changelog fold != face for view '$n'")
    }
    run()
    assert(groups() == Set((2L, 3L)))
  }

  test("streaming ANN + semantic index: assignments and near-dup pairs stay current") {
    import org.apache.spark.sql.types._
    import graft.cdc.TableSpec
    val logDir = tmpDir("annlog")
    val root = tmpDir("annstate")
    val ckpt = tmpDir("annckpt")
    val spec = TableSpec("d", "vecs", Seq("vec_id"), StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)))))
    def ev(op: String, ts: Long, id: Long, v: Seq[Double],
           old: Option[Seq[Double]] = None) = {
      val o = old.map(w =>
        s""","old":{"embedding":[${w.mkString(",")}]}""").getOrElse("")
      s"""{"database":"d","table":"vecs","type":"$op","ts":$ts,"data":{"vec_id":$id,"embedding":[${v.mkString(",")}]}$o}"""
    }
    def append(name: String, lines: Seq[String]): Unit =
      Files.write(java.nio.file.Paths.get(logDir, name),
        (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    // two well-separated directions in R^4; centroids sit on the axes
    val ex = Seq(1.0, 0.0, 0.0, 0.0)
    val ey = Seq(0.0, 1.0, 0.0, 0.0)
    val nearX = Seq(0.99, 0.01, 0.0, 0.0)
    val views = Seq(
      CdcStream.NamedTableView.annIvf("ivf", "vec_id", "embedding",
        Seq((0L, ex.map(_.toFloat)), (1L, ey.map(_.toFloat)))),
      CdcStream.NamedTableView.semanticIndex("sem", "vec_id", "embedding",
        dim = 4, tables = 4, planes = 6),
      // both cluster faces ride the SAME stream: exact-cosine edges and
      // the LSH-bucketed overIndex sibling must tell the same story
      CdcStream.NamedTableView.clusters("clu", "vec_id", "embedding",
        minCosine = 0.9),
      CdcStream.NamedTableView.semanticClusters("sclu", "vec_id",
        "embedding", dim = 4, minCosine = 0.9, tables = 4, planes = 6))
    def run(): Unit = CdcStream.maintainTableViewsToParquet(
      CdcStream.fileChangelog(spark, logDir), spec, views, root, ckpt)
      .awaitTermination()
    def assigned(): Map[Long, Long] =
      CdcStream.readMultiView(spark, root, "ivf").collect()
        .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("centroid_id"))
        .toMap
    def pairs(): Set[(Long, Long)] =
      CdcStream.readMultiView(spark, root, "sem").collect()
        .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    def clu(name: String): Map[Long, Long] =
      CdcStream.readMultiView(spark, root, name).collect()
        .map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster")).toMap
    // batch 1: 10 near-x, 11 near-y
    append("b1.json", Seq(ev("insert", 1, 10, nearX),
                          ev("insert", 2, 11, ey)))
    run()
    assert(assigned() == Map(10L -> 0L, 11L -> 1L), s"b1: ${assigned()}")
    assert(pairs().isEmpty, s"b1 pairs: ${pairs()}")
    Seq("clu", "sclu").foreach(n => assert(
      clu(n) == Map(10L -> 10L, 11L -> 11L), s"b1 $n: ${clu(n)}"))
    // batch 2 (restart): 11 re-embeds next to 10 -> moves cell, pair
    // appears; 12 arrives on y
    append("b2.json", Seq(
      ev("update", 11, 11, Seq(0.98, 0.02, 0.0, 0.0), old = Some(ey)),
      ev("insert", 12, 12, ey)))
    run()
    assert(assigned() == Map(10L -> 0L, 11L -> 0L, 12L -> 1L),
      s"re-embedded vector must move cells: ${assigned()}")
    assert(pairs() == Set((10L, 11L)),
      s"re-embedding must surface the near-dup pair: ${pairs()}")
    Seq("clu", "sclu").foreach(n => assert(
      clu(n) == Map(10L -> 10L, 11L -> 10L, 12L -> 12L),
      s"re-embedding must merge 11 into 10's cluster ($n): ${clu(n)}"))
    // batch 3 (restart): delete 10 -> assignment drops, pair retracts
    append("b3.json", Seq(ev("delete", 21, 10, nearX)))
    run()
    assert(assigned() == Map(11L -> 0L, 12L -> 1L), s"b3: ${assigned()}")
    assert(pairs().isEmpty, s"delete must retract the pair: ${pairs()}")
    Seq("clu", "sclu").foreach(n => assert(
      clu(n) == Map(11L -> 11L, 12L -> 12L),
      s"deleting 10 must re-isolate 11 ($n): ${clu(n)}"))
    // changelogs fold to faces; replayed batch is a no-op
    Seq("ivf", "sem", "clu", "sclu").foreach { n =>
      val folded = CdcStream.viewAsOfBatch(spark, s"$root/$n", Long.MaxValue)
      val face = CdcStream.readMultiView(spark, root, n)
      assert(folded.collect().map(_.toString).toSet ==
               face.collect().map(_.toString).toSet,
        s"changelog fold != face for view '$n'")
    }
    run()
    assert(pairs().isEmpty)
  }

  test("streaming single-topic multi-view: one merge feeds N views") {
    import org.apache.spark.sql.types._
    import graft.cdc.TableSpec
    val logDir = tmpDir("tvlog")
    val root = tmpDir("tvstate")
    val ckpt = tmpDir("tvckpt")
    val spec = TableSpec("d", "t", Seq("id"), StructType(Seq(
      StructField("id", LongType), StructField("grp", StringType),
      StructField("v", DoubleType))))
    def ev(op: String, ts: Long, id: Long, grp: String, v: Double) =
      s"""{"database":"d","table":"t","type":"$op","ts":$ts,"data":{"id":$id,"grp":"$grp","v":$v}}"""
    def append(name: String, lines: Seq[String]): Unit =
      Files.write(java.nio.file.Paths.get(logDir, name),
        (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    val views = Seq(
      CdcStream.NamedTableView.topK("top", "grp", "v", k = 2),
      CdcStream.NamedTableView.distinctCount("nids", "grp", "id"),
      CdcStream.NamedTableView.minMax("bounds", "grp", "v"))
    def run(): Unit = CdcStream.maintainTableViewsToParquet(
      CdcStream.fileChangelog(spark, logDir), spec, views, root, ckpt)
      .awaitTermination()
    def top(): Set[(String, Int, Long)] =
      CdcStream.readMultiView(spark, root, "top").collect()
        .map(r => (r.getAs[String]("grp"), r.getAs[Int]("rk"),
                   r.getAs[Long]("id"))).toSet
    def nids(): Set[(String, Long)] =
      CdcStream.readMultiView(spark, root, "nids").collect()
        .map(r => (r.getAs[String]("grp"),
                   r.getAs[Long]("n_distinct_id"))).toSet
    def bounds(): Set[(String, Double, Double)] =
      CdcStream.readMultiView(spark, root, "bounds").collect()
        .map(r => (r.getAs[String]("grp"), r.getAs[Double]("min_v"),
                   r.getAs[Double]("max_v"))).toSet
    append("b1.json", Seq(
      ev("insert", 1, 1, "a", 9.0), ev("insert", 2, 2, "a", 5.0),
      ev("insert", 3, 3, "a", 1.0), ev("insert", 4, 4, "b", 4.0)))
    run()
    assert(top() == Set(("a", 1, 1L), ("a", 2, 2L), ("b", 1, 4L)))
    assert(nids() == Set(("a", 3L), ("b", 1L)))
    assert(bounds() == Set(("a", 1.0, 9.0), ("b", 4.0, 4.0)))
    // batch 2 (restart): delete the a-max -> promote; group-move 3 to b
    append("b2.json", Seq(
      ev("delete", 6, 1, "a", 9.0),
      """{"database":"d","table":"t","type":"update","ts":7,"data":{"id":3,"grp":"b","v":6.0},"old":{"grp":"a","v":1.0}}"""))
    run()
    assert(top() == Set(("a", 1, 2L), ("b", 1, 3L), ("b", 2, 4L)),
      s"delete-promote + group-move must re-rank both groups: ${top()}")
    assert(nids() == Set(("a", 1L), ("b", 2L)))
    assert(bounds() == Set(("a", 5.0, 5.0), ("b", 4.0, 6.0)))
    // every view's changelog folds to its face
    Seq("top", "nids", "bounds").foreach { n =>
      val folded = CdcStream.viewAsOfBatch(spark, s"$root/$n", Long.MaxValue)
      val face = CdcStream.readMultiView(spark, root, n)
      assert(folded.collect().map(_.toString).toSet ==
               face.collect().map(_.toString).toSet,
        s"changelog fold != face for view '$n'")
    }
    // idempotent re-run
    run()
    assert(nids() == Set(("a", 1L), ("b", 2L)))
  }

  test("streaming backlog auto-cut equals the one-batch fold") {
    import org.apache.spark.sql.types._
    import graft.cdc.TableSpec
    val logDir = tmpDir("aclog")
    val spec = TableSpec("d", "t", Seq("id"), StructType(Seq(
      StructField("id", LongType), StructField("grp", StringType),
      StructField("v", DoubleType))))
    // a 1200-event backlog landing in ONE AvailableNow batch: inserts,
    // same-key updates, and deletes spread over distinct timestamps
    val lines = (1 to 1200).map { i =>
      val op = if (i % 11 == 0) "delete"
               else if (i % 3 == 0) "update" else "insert"
      val id = i % 400
      val g = s"g${id % 5}"
      s"""{"database":"d","table":"t","type":"$op","ts":$i,"data":{"id":$id,"grp":"$g","v":${i % 97}.0}${if (op == "update") s""","old":{"v":${(i - 1) % 97}.0}""" else ""}}"""
    }
    Files.write(java.nio.file.Paths.get(logDir, "backlog.json"),
      (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    def run(maxPer: Option[Int], tag: String): Set[String] = {
      val root = tmpDir(s"acroot$tag")
      val ckpt = tmpDir(s"acckpt$tag")
      val views = Seq(
        CdcStream.NamedTableView.topK("top", "grp", "v", k = 2),
        CdcStream.NamedTableView.distinctCount("nids", "grp", "id"))
      CdcStream.maintainTableViewsToParquet(
        CdcStream.fileChangelog(spark, logDir), spec, views, root, ckpt,
        maxEventsPerBatch = maxPer).awaitTermination()
      (CdcStream.readMultiView(spark, root, "top").collect().map(_.toString)
        ++ CdcStream.readMultiView(spark, root, "nids").collect()
             .map(_.toString)).toSet
    }
    val one = run(None, "one")
    val cut = run(Some(300), "cut")
    assert(cut == one,
      "auto-cut streaming fold must equal the one-batch fold")
  }

  test("streaming left-join view: pad/retract across restarts") {
    import org.apache.spark.sql.types._
    import graft.cdc.TableSpec
    val logDir = tmpDir("ljlog")
    val root = tmpDir("ljstate")
    val ckpt = tmpDir("ljckpt")
    val lSpec = TableSpec("d", "fact", Seq("k"), StructType(Seq(
      StructField("k", LongType), StructField("fk", LongType),
      StructField("price", DoubleType))))
    val rSpec = TableSpec("d", "dim", Seq("ck"), StructType(Seq(
      StructField("ck", LongType), StructField("name", StringType))))
    def fact(op: String, ts: Long, k: Long, fk: Long, p: Double) =
      s"""{"database":"d","table":"fact","type":"$op","ts":$ts,"data":{"k":$k,"fk":$fk,"price":$p}}"""
    def dim(op: String, ts: Long, ck: Long, name: String) =
      s"""{"database":"d","table":"dim","type":"$op","ts":$ts,"data":{"ck":$ck,"name":"$name"}}"""
    def append(name: String, lines: Seq[String]): Unit =
      Files.write(java.nio.file.Paths.get(logDir, name),
        (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    def run(): Unit = CdcStream.maintainMultiViewToParquet(
      CdcStream.fileChangelog(spark, logDir), lSpec, rSpec,
      lJoinCols = Seq("fk"),
      Seq(CdcStream.NamedView.leftJoinView("lj",
        Seq("k", "fk", "price", "name"), Seq("k"))),
      root, ckpt).awaitTermination()
    def view(): Set[(Long, Long, Double, Option[String])] =
      CdcStream.readMultiView(spark, root, "lj").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
                   Option(r.getString(3)))).toSet
    // batch 1: both facts visible — k=1's dim is missing, so PADDED
    // (the inner face would hide it)
    append("b1.json", Seq(
      fact("insert", 1, 1, 10, 5.0), fact("insert", 1, 2, 20, 7.0),
      dim("insert", 2, 20, "c20")))
    run()
    assert(view() == Set((1L, 10L, 5.0, None), (2L, 20L, 7.0, Some("c20"))))
    // batch 2 (restart, state REREAD from parquet): c10 arrives -> the
    // persisted pad row must be retracted and the fact joined
    append("b2.json", Seq(dim("insert", 4, 10, "c10")))
    run()
    assert(view() == Set(
      (1L, 10L, 5.0, Some("c10")), (2L, 20L, 7.0, Some("c20"))))
    // batch 3 (restart): c20 dies -> its fact re-pads (stays visible)
    append("b3.json", Seq(dim("delete", 8, 20, "c20")))
    run()
    assert(view() == Set(
      (1L, 10L, 5.0, Some("c10")), (2L, 20L, 7.0, None)),
      "a dim delete must re-pad its facts in the persisted view")
  }

  test("snowflake cascade: a second-level JoinView over the join view's changelog") {
    import org.apache.spark.sql.types._
    import graft.cdc.{TableSpec, JoinView}
    val logDir = tmpDir("sflog")
    val root = tmpDir("sfstate")
    val ckpt = tmpDir("sfckpt")
    // fact(k, fk, price) ⋈ dim(ck, name, nk) — dim itself carries a FK
    // into a second dimension dim2(nkey, region): the snowflake shape
    val lSpec = TableSpec("d", "fact", Seq("k"), StructType(Seq(
      StructField("k", LongType), StructField("fk", LongType),
      StructField("price", DoubleType))))
    val rSpec = TableSpec("d", "dim", Seq("ck"), StructType(Seq(
      StructField("ck", LongType), StructField("name", StringType),
      StructField("nk", LongType))))
    def fact(op: String, ts: Long, k: Long, fk: Long, p: Double) =
      s"""{"database":"d","table":"fact","type":"$op","ts":$ts,"data":{"k":$k,"fk":$fk,"price":$p}}"""
    def dim(op: String, ts: Long, ck: Long, name: String, nk: Long) =
      s"""{"database":"d","table":"dim","type":"$op","ts":$ts,"data":{"ck":$ck,"name":"$name","nk":$nk}}"""
    def append(name: String, lines: Seq[String]): Unit =
      Files.write(java.nio.file.Paths.get(logDir, name),
        (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    def run(): Unit = CdcStream.maintainMultiViewToParquet(
      CdcStream.fileChangelog(spark, logDir), lSpec, rSpec,
      lJoinCols = Seq("fk"),
      Seq(CdcStream.NamedView.joinView("jv",
        Seq("k", "fk", "price", "nk", "name"), Seq("k"))),
      root, ckpt).awaitTermination()
    // three level-1 batches: late dim, price update, dim death
    append("b1.json", Seq(
      fact("insert", 1, 1, 10, 5.0), fact("insert", 1, 2, 20, 7.0),
      dim("insert", 2, 20, "b", 200)))
    run()
    append("b2.json", Seq(
      dim("insert", 4, 10, "a", 100),
      """{"database":"d","table":"fact","type":"update","ts":5,""" +
        """"data":{"k":1,"fk":10,"price":6.0},"old":{"price":5.0}}"""))
    run()
    append("b3.json", Seq(dim("delete", 8, 20, "b", 200)))
    run()
    // LEVEL 2: the view's changelog becomes the fact stream of ANOTHER
    // JoinView against dim2 — a maintained 3-table snowflake view built
    // entirely from derived-topic subscription, never re-reading level 1
    val events1 = CdcStream.changelogAsEvents(
      CdcStream.readViewChanges(spark, s"$root/jv"))
    import spark.implicits._
    val dim2Events = Seq(
      (("insert"), 0L, 1L, (200L, "AS")),
      (("insert"), 1L, 2L, (100L, "EU")))
      .map { case (op, ts, seq, (nkey, region)) => (op, ts, seq, nkey, region) }
      .toDF("op", "ts", "seq", "nkey", "region")
      .select(col("op"), col("ts"), col("seq"),
              struct(col("nkey"), col("region")).as("after"))
    // replay windows aligned to the level-1 batch ids riding in `ts`
    val level2 = JoinView.maintainer(Seq("k", "price", "name", "nk", "region"))
    val fin = graft.cdc.MultiView.replay(events1, dim2Events,
      cuts = Seq(0L, 1L), lPk = Seq("k"), rPk = Seq("nkey"),
      lJoinCols = Seq("nk"), maintainers = Seq(level2))
    val got = fin(level2).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2),
                 r.getLong(3), r.getString(4))).toSet
    assert(got == Set((1L, 6.0, "a", 100L, "EU")),
      s"snowflake cascade view wrong: $got")
    // the FIRST-CLASS N-topic replay (SnowflakeView: one replay, the
    // dim⋈dim2 chain maintained inside the loop) must equal the two-level
    // changelog cascade above
    val batch = spark.read.textFile(logDir).toDF("value")
      .select(org.apache.spark.sql.functions.from_json(col("value"),
        graft.cdc.Maxwell.envelopeSchema).as("e"))
      .select(col("e.*"))
    val factEv = graft.cdc.RowDecoder.changeEvents(batch, lSpec)
    val dimEv = graft.cdc.RowDecoder.changeEvents(batch, rSpec)
    val m = JoinView.maintainer(Seq("k", "fk", "price", "name", "nk",
                                    "region"))
    val snow = graft.cdc.SnowflakeView.replay(
      Seq(factEv, dimEv, dim2Events),
      pks = Seq(Seq("k"), Seq("ck"), Seq("nkey")),
      fks = Seq(Seq("fk"), Seq("nk")),
      cuts = Seq(2L, 5L), maintainers = Seq(m))
    val gotSnow = snow(m)
      .select(col("k"), col("price"), col("name"), col("nk"), col("region"))
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2),
                 r.getLong(3), r.getString(4))).toSet
    assert(gotSnow == got,
      s"single-replay snowflake view != changelog cascade: $gotSnow vs $got")
  }

  test("streaming join-agg view: two-topic stream, late dim, restarts") {
    import org.apache.spark.sql.types._
    import graft.cdc.TableSpec
    val logDir = tmpDir("jalog")
    val root = tmpDir("jastate")
    val ckpt = tmpDir("jackpt")
    val lSpec = TableSpec("d", "fact", Seq("k"), StructType(Seq(
      StructField("k", LongType), StructField("fk", LongType),
      StructField("price", DoubleType))))
    val rSpec = TableSpec("d", "dim", Seq("ck"), StructType(Seq(
      StructField("ck", LongType), StructField("grp", StringType))))
    def fact(op: String, ts: Long, k: Long, fk: Long, p: Double) =
      s"""{"database":"d","table":"fact","type":"$op","ts":$ts,"data":{"k":$k,"fk":$fk,"price":$p}}"""
    def dim(op: String, ts: Long, ck: Long, grp: String) =
      s"""{"database":"d","table":"dim","type":"$op","ts":$ts,"data":{"ck":$ck,"grp":"$grp"}}"""
    def append(name: String, lines: Seq[String]): Unit =
      Files.write(java.nio.file.Paths.get(logDir, name),
        (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    def run(): Unit = CdcStream.maintainMultiViewToParquet(
      CdcStream.fileChangelog(spark, logDir), lSpec, rSpec,
      lJoinCols = Seq("fk"),
      Seq(CdcStream.NamedView.joinAgg("ja", Seq("grp"),
        Seq(("price", "price", _.cast("decimal(18,6)"))))),
      root, ckpt).awaitTermination()
    def view(): Map[String, (Long, Double)] =
      CdcStream.readMultiView(spark, root, "ja").collect()
        .map(r => r.getString(0) ->
          ((r.getLong(1), r.getDecimal(2).doubleValue))).toMap
    // batch 1: two facts + dim 20 only -> only group b counted; the fact
    // referencing dim 10 must NOT be counted before its insert arrives
    append("b1.json", Seq(
      fact("insert", 1, 1, 10, 5.0), fact("insert", 1, 2, 20, 7.0),
      dim("insert", 2, 20, "b")))
    run()
    assert(view() == Map("b" -> ((1L, 7.0))))
    // batch 2 (restart, same checkpoint, state REREAD from parquet): dim
    // 10 arrives LATE (its fact retroactively credited) + fact 1's price
    // updates in the same batch
    append("b2.json", Seq(
      dim("insert", 4, 10, "a"), fact("update", 5, 1, 10, 6.0)))
    run()
    assert(view() == Map("a" -> ((1L, 6.0)), "b" -> ((1L, 7.0))))
    // batch 3 (restart): dim 10 moves a -> b (its fact's contribution
    // must follow), fact 2 deleted
    append("b3.json", Seq(
      dim("update", 8, 10, "b"), fact("delete", 9, 2, 20, 7.0)))
    run()
    assert(view() == Map("b" -> ((1L, 6.0))),
      "group move + delete must leave exactly the moved contribution")
  }

  test("streaming join-distinct view: last-order delete across restart") {
    import org.apache.spark.sql.types._
    import graft.cdc.TableSpec
    val logDir = tmpDir("jdlog")
    val root = tmpDir("jdstate")
    val ckpt = tmpDir("jdckpt")
    val lSpec = TableSpec("d", "fact", Seq("k"), StructType(Seq(
      StructField("k", LongType), StructField("fk", LongType))))
    val rSpec = TableSpec("d", "dim", Seq("ck"), StructType(Seq(
      StructField("ck", LongType), StructField("grp", StringType))))
    def fact(op: String, ts: Long, k: Long, fk: Long) =
      s"""{"database":"d","table":"fact","type":"$op","ts":$ts,"data":{"k":$k,"fk":$fk}}"""
    def dim(op: String, ts: Long, ck: Long, grp: String) =
      s"""{"database":"d","table":"dim","type":"$op","ts":$ts,"data":{"ck":$ck,"grp":"$grp"}}"""
    def append(name: String, lines: Seq[String]): Unit =
      Files.write(java.nio.file.Paths.get(logDir, name),
        (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    def run(): Unit = CdcStream.maintainMultiViewToParquet(
      CdcStream.fileChangelog(spark, logDir), lSpec, rSpec,
      lJoinCols = Seq("fk"),
      Seq(CdcStream.NamedView.joinDistinct("jd", "grp", "fk")),
      root, ckpt).awaitTermination()
    def view(): Map[String, Long] =
      CdcStream.readMultiView(spark, root, "jd").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    // batch 1: customer 10 holds TWO orders, 20 holds one
    append("b1.json", Seq(
      fact("insert", 1, 1, 10), fact("insert", 1, 2, 10),
      fact("insert", 1, 3, 20),
      dim("insert", 2, 10, "a"), dim("insert", 2, 20, "a")))
    run()
    assert(view() == Map("a" -> 2L))
    // batch 2 (restart): delete ONE of 10's orders — the count must NOT
    // drop, which requires the PERSISTED pair multiplicity (the previous
    // view alone cannot answer this)
    append("b2.json", Seq(fact("delete", 5, 1, 10)))
    run()
    assert(view() == Map("a" -> 2L))
    // batch 3 (restart): delete 10's LAST order -> count drops
    append("b3.json", Seq(fact("delete", 8, 2, 10)))
    run()
    assert(view() == Map("a" -> 1L))
  }

  test("streaming top-k view: restarts, promote-on-delete") {
    import org.apache.spark.sql.types._
    import graft.cdc.TableSpec
    val logDir = tmpDir("tklog")
    val root = tmpDir("tkstate")
    val ckpt = tmpDir("tkckpt")
    val spec = TableSpec("d", "t", Seq("id"), StructType(Seq(
      StructField("id", LongType), StructField("grp", StringType),
      StructField("v", DoubleType))))
    def ev(op: String, ts: Long, id: Long, grp: String, v: Double) =
      s"""{"database":"d","table":"t","type":"$op","ts":$ts,"data":{"id":$id,"grp":"$grp","v":$v}}"""
    def append(name: String, lines: Seq[String]): Unit =
      Files.write(java.nio.file.Paths.get(logDir, name),
        (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    def run(): Unit = CdcStream.maintainTableViewsToParquet(
      CdcStream.fileChangelog(spark, logDir), spec,
      Seq(CdcStream.NamedTableView.topK("tk", "grp", "v", 2)), root, ckpt)
      .awaitTermination()
    def view(): Set[(String, Int, Long)] =
      CdcStream.readMultiView(spark, root, "tk")
        .select(col("grp"), col("rk"), col("id")).collect()
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    // batch 1: 3 rows in group a -> id=3 (v=1) is OUTSIDE the k=2 view
    append("b1.json", Seq(
      ev("insert", 1, 1, "a", 9.0), ev("insert", 2, 2, "a", 5.0),
      ev("insert", 3, 3, "a", 1.0)))
    run()
    assert(view() == Set(("a", 1, 1L), ("a", 2, 2L)))
    // batch 2 (restart, same checkpoint): delete the leader -> id=3
    // promoted from OUTSIDE the persisted view (needs the base state)
    append("b2.json", Seq(ev("delete", 5, 1, "a", 9.0)))
    run()
    assert(view() == Set(("a", 1, 2L), ("a", 2, 3L)))
  }

  test("top-k view emits rank-slot changelog (CDC OUT)") {
    import org.apache.spark.sql.types._
    import graft.cdc.TableSpec
    val logDir = tmpDir("tkclog")
    val root = tmpDir("tkcstate")
    val ckpt = tmpDir("tkcckpt")
    val spec = TableSpec("d", "t", Seq("id"), StructType(Seq(
      StructField("id", LongType), StructField("grp", StringType),
      StructField("v", DoubleType))))
    def ev(op: String, ts: Long, id: Long, grp: String, v: Double) =
      s"""{"database":"d","table":"t","type":"$op","ts":$ts,"data":{"id":$id,"grp":"$grp","v":$v}}"""
    def append(name: String, lines: Seq[String]): Unit =
      Files.write(java.nio.file.Paths.get(logDir, name),
        (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    def run(): Unit = CdcStream.maintainTableViewsToParquet(
      CdcStream.fileChangelog(spark, logDir), spec,
      Seq(CdcStream.NamedTableView.topK("tk", "grp", "v", 2)), root, ckpt)
      .awaitTermination()
    append("b1.json", Seq(
      ev("insert", 1, 1, "a", 9.0), ev("insert", 2, 2, "a", 5.0),
      ev("insert", 3, 3, "a", 1.0)))
    run()
    // batch 1: delete the leader — rank 1 and rank 2 slots both change
    // holders (id=3 promoted from OUTSIDE the persisted view)
    append("b2.json", Seq(ev("delete", 5, 1, "a", 9.0)))
    run()
    val ch = CdcStream.readViewChanges(spark, s"$root/tk")
      .select(col("batch"), col("op"), col("grp"), col("rk"),
              col("before.id").as("b_id"), col("after.id").as("a_id"))
      .collect()
      .map(r => (r.getAs[Number]("batch").longValue, r.getString(1),
                 r.getString(2), r.getInt(3),
                 Option(r.get(4)).map(_.asInstanceOf[Long]),
                 Option(r.get(5)).map(_.asInstanceOf[Long])))
      .toSet
    assert(ch == Set(
      (0L, "insert", "a", 1, None, Some(1L)),
      (0L, "insert", "a", 2, None, Some(2L)),
      (1L, "update", "a", 1, Some(1L), Some(2L)),
      (1L, "update", "a", 2, Some(2L), Some(3L))),
      s"unexpected rank-slot changelog: $ch")
  }

  test("views cascade: the standard maintainers run on a view's changelog") {
    import org.apache.spark.sql.types._
    import graft.cdc.{TableSpec, Materializer, IncrementalAgg}
    val logDir = tmpDir("casclog")
    val root = tmpDir("cascstate")
    val ckpt = tmpDir("cascckpt")
    val spec = TableSpec("d", "t", Seq("id"), StructType(Seq(
      StructField("id", LongType), StructField("grp", StringType),
      StructField("v", DoubleType))))
    def ev(op: String, ts: Long, id: Long, grp: String, v: Double) =
      s"""{"database":"d","table":"t","type":"$op","ts":$ts,"data":{"id":$id,"grp":"$grp","v":$v}}"""
    def append(name: String, lines: Seq[String]): Unit =
      Files.write(java.nio.file.Paths.get(logDir, name),
        (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    def run(): Unit = CdcStream.maintainTableViewsToParquet(
      CdcStream.fileChangelog(spark, logDir), spec,
      Seq(CdcStream.NamedTableView.topK("tk", "grp", "v", 2)), root, ckpt)
      .awaitTermination()
    // three batches with churn: insert, promote-on-delete, group growth
    append("b1.json", Seq(
      ev("insert", 1, 1, "a", 9.0), ev("insert", 2, 2, "a", 5.0),
      ev("insert", 3, 3, "a", 1.0)))
    run()
    append("b2.json", Seq(ev("delete", 5, 1, "a", 9.0)))
    run()
    append("b3.json", Seq(
      ev("insert", 7, 4, "b", 4.0),
      // Maxwell update carries the changed columns in `old`
      """{"database":"d","table":"t","type":"update","ts":8,""" +
        """"data":{"id":3,"grp":"a","v":6.0},"old":{"v":1.0}}"""))
    run()
    // LEVEL 2, path A: replaying ONLY the derived topic through the
    // standard materializer reconstructs the view exactly — the emitted
    // changelog is a complete change stream, not a log of hints
    val events = CdcStream.changelogAsEvents(
      CdcStream.readViewChanges(spark, s"$root/tk"))
    val rebuilt = Materializer.currentState(events, Seq("grp", "rk"))
      .select(col("grp"), col("rk"), col("id"), col("v"))
    val view = CdcStream.readMultiView(spark, root, "tk")
      .select(col("grp"), col("rk"), col("id"), col("v"))
    assert(rebuilt.exceptAll(view).isEmpty && view.exceptAll(rebuilt).isEmpty,
      "replaying the view's own changelog must reconstruct the view")
    // LEVEL 2, path B: a SECOND-LEVEL maintained aggregate consumes the
    // rank-slot changelog — "sum of the top-2 values per group" kept
    // current from view changes alone (updates retract via the full
    // before images the changelog carries)
    val l2 = IncrementalAgg.sumCount(events, groupCol = "grp",
        valueCol = "v")
      .select(col("grp"), col("sum_v"), col("n_rows")).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    assert(l2 == Set(("a", 11.0, 2L), ("b", 4.0, 1L)),
      s"second-level aggregate over the changelog is wrong: $l2")
    // LEVEL 2, path C — the FULL ON-DISK RELAY: re-serialize the view's
    // changelog as a Maxwell topic (Maxwell OUT), re-consume it with a
    // completely independent second pipeline (file source -> envelope
    // parse -> decode -> materialize), and land on the same view. Any
    // Maxwell consumer, this engine or the reference, can subscribe to
    // the derived topic.
    val relayDir = tmpDir("cascrelay")
    val relayState = tmpDir("cascrelaystate") + "/state"
    val relayCkpt = tmpDir("cascrelayckpt")
    graft.cdc.Maxwell.formatEnvelope(events, "derived", "topk")
      .coalesce(1).write.mode("overwrite").text(relayDir)
    val derivedSpec = TableSpec("derived", "topk", Seq("grp", "rk"),
      StructType(Seq(
        StructField("grp", StringType), StructField("rk", IntegerType),
        StructField("id", LongType), StructField("v", DoubleType))))
    CdcStream.materializeToParquet(
      CdcStream.fileChangelog(spark, relayDir), derivedSpec,
      relayState, relayCkpt).awaitTermination()
    val relayed = CdcStream.readCurrentState(spark, relayState)
      .select(col("grp"), col("rk"), col("id"), col("v"))
    assert(relayed.exceptAll(view).isEmpty && view.exceptAll(relayed).isEmpty,
      "the on-disk Maxwell relay must reconstruct the view")
    // monitoring face: the health snapshot sees the last applied batch,
    // the persisted view size, and the full changelog retention window
    val stats = CdcStream.viewStats(spark, root, "tk__view")
    assert(stats == CdcStream.ViewStats(2L, view.count(), Some((0L, 2L))),
      s"unexpected view stats: $stats")
  }

  test("streaming join-top-k view: promote-through-the-join across restarts") {
    import org.apache.spark.sql.types._
    import graft.cdc.TableSpec
    val logDir = tmpDir("jtklog")
    val root = tmpDir("jtkstate")
    val ckpt = tmpDir("jtkckpt")
    val lSpec = TableSpec("d", "fact", Seq("k"), StructType(Seq(
      StructField("k", LongType), StructField("fk", LongType),
      StructField("price", DoubleType))))
    val rSpec = TableSpec("d", "dim", Seq("ck"), StructType(Seq(
      StructField("ck", LongType), StructField("grp", StringType))))
    def fact(op: String, ts: Long, k: Long, fk: Long, p: Double) =
      s"""{"database":"d","table":"fact","type":"$op","ts":$ts,"data":{"k":$k,"fk":$fk,"price":$p}}"""
    def dim(op: String, ts: Long, ck: Long, grp: String) =
      s"""{"database":"d","table":"dim","type":"$op","ts":$ts,"data":{"ck":$ck,"grp":"$grp"}}"""
    def append(name: String, lines: Seq[String]): Unit =
      Files.write(java.nio.file.Paths.get(logDir, name),
        (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    def run(): Unit = CdcStream.maintainMultiViewToParquet(
      CdcStream.fileChangelog(spark, logDir), lSpec, rSpec,
      lJoinCols = Seq("fk"),
      Seq(CdcStream.NamedView.joinTopK("jtk",
        Seq("k", "fk", "grp", "price"), "grp", "price", 2)),
      root, ckpt).awaitTermination()
    def view(): Set[(String, Int, Long, Double)] =
      CdcStream.readMultiView(spark, root, "jtk")
        .select(col("grp"), col("rk"), col("k"), col("price")).collect()
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2),
                   r.getDouble(3))).toSet
    // batch 1: three facts on dim 10 ("a") -> fact 3 (5.0) is OUTSIDE
    // the k=2 rank view but INSIDE the persisted join view
    append("b1.json", Seq(
      fact("insert", 1, 1, 10, 9.0), fact("insert", 1, 2, 10, 7.0),
      fact("insert", 1, 3, 10, 5.0), dim("insert", 2, 10, "a")))
    run()
    assert(view() == Set(("a", 1, 1L, 9.0), ("a", 2, 2L, 7.0)))
    // batch 2 (restart, same checkpoint, all four frames REREAD from
    // parquet): delete the leader -> fact 3 promoted from OUTSIDE the
    // persisted rank view (needs the persisted join view, not just ranks)
    append("b2.json", Seq(fact("delete", 5, 1, 10, 9.0)))
    run()
    assert(view() == Set(("a", 1, 2L, 7.0), ("a", 2, 3L, 5.0)))
    // batch 3 (restart): the DIMENSION moves a -> b; every surviving fact
    // follows it and the old group's rank view empties
    append("b3.json", Seq(dim("update", 8, 10, "b")))
    run()
    assert(view() == Set(("b", 1, 2L, 7.0), ("b", 2, 3L, 5.0)),
      "group-moving dim update must carry the whole rank view to b")
    // rank-slot changelog: batch 1 fills both slots, batch 2 promotes on
    // both, batch 3 deletes a's slots and inserts b's
    val ch = CdcStream.readViewChanges(spark, s"$root/jtk")
      .select(col("batch"), col("op"), col("grp"), col("rk"),
              col("after.k").as("a_k"))
      .collect()
      .map(r => (r.getAs[Number]("batch").longValue, r.getString(1),
                 r.getString(2), r.getInt(3),
                 Option(r.get(4)).map(_.asInstanceOf[Long])))
      .toSet
    assert(ch == Set(
      (0L, "insert", "a", 1, Some(1L)),
      (0L, "insert", "a", 2, Some(2L)),
      (1L, "update", "a", 1, Some(2L)),
      (1L, "update", "a", 2, Some(3L)),
      (2L, "delete", "a", 1, None),
      (2L, "delete", "a", 2, None),
      (2L, "insert", "b", 1, Some(2L)),
      (2L, "insert", "b", 2, Some(3L))),
      s"unexpected rank-slot changelog: $ch")
  }

  test("streaming count-distinct view: restarts, deletes, group moves") {
    import org.apache.spark.sql.types._
    import graft.cdc.TableSpec
    val logDir = tmpDir("dclog")
    val root = tmpDir("dcstate")
    val ckpt = tmpDir("dcckpt")
    val spec = TableSpec("d", "t", Seq("id"), StructType(Seq(
      StructField("id", LongType), StructField("grp", StringType),
      StructField("v", LongType))))
    def ev(op: String, ts: Long, id: Long, grp: String, v: Long) =
      s"""{"database":"d","table":"t","type":"$op","ts":$ts,"data":{"id":$id,"grp":"$grp","v":$v}}"""
    def upd(ts: Long, id: Long, grp: String, v: Long, oldFields: String) =
      s"""{"database":"d","table":"t","type":"update","ts":$ts,"data":{"id":$id,"grp":"$grp","v":$v},"old":{$oldFields}}"""
    def append(name: String, lines: Seq[String]): Unit =
      Files.write(java.nio.file.Paths.get(logDir, name),
        (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    def run(): Unit = CdcStream.maintainTableViewsToParquet(
      CdcStream.fileChangelog(spark, logDir), spec,
      Seq(CdcStream.NamedTableView.distinctCount("dc", "grp", "v")),
      root, ckpt).awaitTermination()
    def view(): Map[String, Long] =
      CdcStream.readMultiView(spark, root, "dc").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    // batch 1: a has values {1 (x2 rows), 2}, b has {5}
    append("b1.json", Seq(
      ev("insert", 1, 1, "a", 1), ev("insert", 2, 2, "a", 1),
      ev("insert", 3, 3, "a", 2), ev("insert", 4, 4, "b", 5)))
    run()
    assert(view() == Map("a" -> 2L, "b" -> 1L))
    // batch 2 (restart, same checkpoint, state REREAD from parquet):
    // delete id=3 (a loses value 2); delete id=1 (value 1 still held by
    // id=2 — the count must NOT drop, which needs the persisted pair
    // multiplicities, not just the previous counts)
    append("b2.json", Seq(
      ev("delete", 5, 3, "a", 2), ev("delete", 6, 1, "a", 1)))
    run()
    assert(view() == Map("a" -> 1L, "b" -> 1L))
    // batch 3 (restart): group-moving update id=2 a->b with v 1->5:
    // group a loses its last row (disappears from the view); b's value
    // set stays {5} (id=4 already holds 5) -> count stays 1
    append("b3.json", Seq(upd(7, 2, "b", 5, "\"grp\":\"a\",\"v\":1")))
    run()
    assert(view() == Map("b" -> 1L))
    // the maintained view equals a one-shot fold of the whole log
    val allEvents = CdcStream.changeEvents(
      graft.cdc.Maxwell.parseEnvelopeCol(
        spark.read.schema("value STRING").text(logDir), col("value"))
        .withColumn("seq", lit(0L)), spec)
    val oneShot = graft.cdc.IncrementalAgg
      .distinctCount(allEvents, "grp", "v").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(view() == oneShot)
  }

  test("streaming min/max view: delete of the max promotes across restart") {
    import org.apache.spark.sql.types._
    import graft.cdc.TableSpec
    val logDir = tmpDir("mmlog")
    val root = tmpDir("mmstate")
    val ckpt = tmpDir("mmckpt")
    val spec = TableSpec("d", "t", Seq("id"), StructType(Seq(
      StructField("id", LongType), StructField("grp", StringType),
      StructField("v", DoubleType))))
    def ev(op: String, ts: Long, id: Long, grp: String, v: Double) =
      s"""{"database":"d","table":"t","type":"$op","ts":$ts,"data":{"id":$id,"grp":"$grp","v":$v}}"""
    def append(name: String, lines: Seq[String]): Unit =
      Files.write(java.nio.file.Paths.get(logDir, name),
        (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    def run(): Unit = CdcStream.maintainTableViewsToParquet(
      CdcStream.fileChangelog(spark, logDir), spec,
      Seq(CdcStream.NamedTableView.minMax("mm", "grp", "v")),
      root, ckpt).awaitTermination()
    def view(): Map[String, (Double, Double)] =
      CdcStream.readMultiView(spark, root, "mm").collect()
        .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    append("b1.json", Seq(
      ev("insert", 1, 1, "a", 10.0), ev("insert", 2, 2, "a", 7.0),
      ev("insert", 3, 3, "b", 5.0)))
    run()
    assert(view() == Map("a" -> ((7.0, 10.0)), "b" -> ((5.0, 5.0))))
    // restart: delete a's max — the runner-up must be promoted FROM THE
    // PERSISTED pair state (the previous view alone cannot answer this)
    append("b2.json", Seq(ev("delete", 5, 1, "a", 10.0)))
    run()
    assert(view() == Map("a" -> ((7.0, 7.0)), "b" -> ((5.0, 5.0))))
  }

  test("streaming percentile view: delete of the median shifts it across restart") {
    import org.apache.spark.sql.types._
    import graft.cdc.TableSpec
    val logDir = tmpDir("pctlog")
    val root = tmpDir("pctstate")
    val ckpt = tmpDir("pctckpt")
    val spec = TableSpec("d", "t", Seq("id"), StructType(Seq(
      StructField("id", LongType), StructField("grp", StringType),
      StructField("v", DoubleType))))
    def ev(op: String, ts: Long, id: Long, grp: String, v: Double) =
      s"""{"database":"d","table":"t","type":"$op","ts":$ts,"data":{"id":$id,"grp":"$grp","v":$v}}"""
    def append(name: String, lines: Seq[String]): Unit =
      Files.write(java.nio.file.Paths.get(logDir, name),
        (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    def run(): Unit = CdcStream.maintainTableViewsToParquet(
      CdcStream.fileChangelog(spark, logDir), spec,
      Seq(CdcStream.NamedTableView.percentiles("pct", "grp", "v",
                                               ps = Seq(0.5, 0.75))),
      root, ckpt).awaitTermination()
    def view(): Map[String, (Double, Double)] =
      CdcStream.readMultiView(spark, root, "pct").collect()
        .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    append("b1.json", Seq(
      ev("insert", 1, 1, "a", 10.0), ev("insert", 2, 2, "a", 20.0),
      ev("insert", 3, 3, "a", 30.0), ev("insert", 4, 4, "a", 40.0),
      ev("insert", 5, 5, "a", 50.0), ev("insert", 6, 6, "b", 7.0)))
    run()
    assert(view() == Map("a" -> ((30.0, 40.0)), "b" -> ((7.0, 7.0))))
    // restart: delete a's current median — the new p50 must come FROM
    // THE PERSISTED pair state (the previous view alone cannot answer
    // this; a: {10,20,40,50} -> p50 = 20, p75 = 40)
    append("b2.json", Seq(ev("delete", 7, 3, "a", 30.0)))
    run()
    assert(view() == Map("a" -> ((20.0, 40.0)), "b" -> ((7.0, 7.0))))
  }

  test("crash-replayed batch is not double-folded (applied-batch marker)") {
    import org.apache.spark.sql.types._
    import graft.cdc.TableSpec
    import scala.sys.process._
    val logDir = tmpDir("cridlog")
    val root = tmpDir("cridstate")
    val ckpt = tmpDir("cridckpt")
    val ckptBak = tmpDir("cridckptbak")
    val spec = TableSpec("d", "t", Seq("id"), StructType(Seq(
      StructField("id", LongType), StructField("grp", StringType),
      StructField("v", DoubleType))))
    def ev(op: String, ts: Long, id: Long, grp: String, v: Double) =
      s"""{"database":"d","table":"t","type":"$op","ts":$ts,"data":{"id":$id,"grp":"$grp","v":$v}}"""
    def append(name: String, lines: Seq[String]): Unit =
      Files.write(java.nio.file.Paths.get(logDir, name),
        (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    def run(): Unit = CdcStream.maintainTableViewsToParquet(
      CdcStream.fileChangelog(spark, logDir), spec,
      Seq(CdcStream.NamedTableView.moments("mom", "grp", "v",
                                           _.cast("decimal(18,8)"))),
      root, ckpt).awaitTermination()
    def sums(): Map[String, (Double, Long)] =
      CdcStream.readMultiView(spark, root, "mom").collect()
        .map(r => r.getString(0) ->
          ((r.getDecimal(1).doubleValue, r.getLong(3)))).toMap
    append("b1.json", Seq(
      ev("insert", 1, 1, "a", 10.0), ev("insert", 2, 2, "a", 20.0)))
    run()
    assert(sums() == Map("a" -> ((30.0, 2L))))
    // checkpoint snapshot BEFORE batch 1's commit…
    Seq("cp", "-r", ckpt, ckptBak + "/c").!!
    append("b2.json", Seq(ev("insert", 3, 3, "a", 30.0)))
    run()
    assert(sums() == Map("a" -> ((60.0, 3L))))
    // …then restore it: this is EXACTLY the crash window [generation
    // swapped, checkpoint not committed] — the restarted stream replays
    // b2 with the SAME batchId against the already-folded state. Without
    // the applied-batch marker the fold re-applies and the sum drifts to
    // 90.
    Seq("rm", "-rf", ckpt).!!
    Seq("cp", "-r", ckptBak + "/c", ckpt).!!
    run()
    assert(sums() == Map("a" -> ((60.0, 3L))),
      "replayed batch must be skipped, not re-folded")
  }

  test("maintained view emits its own changelog (CDC OUT)") {
    import org.apache.spark.sql.types._
    import graft.cdc.TableSpec
    val logDir = tmpDir("colog")
    val root = tmpDir("costate")
    val ckpt = tmpDir("cockpt")
    val spec = TableSpec("d", "t", Seq("id"), StructType(Seq(
      StructField("id", LongType), StructField("grp", StringType),
      StructField("v", LongType))))
    def ev(op: String, ts: Long, id: Long, grp: String, v: Long) =
      s"""{"database":"d","table":"t","type":"$op","ts":$ts,"data":{"id":$id,"grp":"$grp","v":$v}}"""
    def upd(ts: Long, id: Long, grp: String, v: Long, oldFields: String) =
      s"""{"database":"d","table":"t","type":"update","ts":$ts,"data":{"id":$id,"grp":"$grp","v":$v},"old":{$oldFields}}"""
    def append(name: String, lines: Seq[String]): Unit =
      Files.write(java.nio.file.Paths.get(logDir, name),
        (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    def run(): Unit = CdcStream.maintainTableViewsToParquet(
      CdcStream.fileChangelog(spark, logDir), spec,
      Seq(CdcStream.NamedTableView.distinctCount("dc", "grp", "v")),
      root, ckpt).awaitTermination()
    // batch 0: a has {1 (x2 rows), 2}, b has {5}
    append("b1.json", Seq(
      ev("insert", 1, 1, "a", 1), ev("insert", 2, 2, "a", 1),
      ev("insert", 3, 3, "a", 2), ev("insert", 4, 4, "b", 5)))
    run()
    // batch 1: a loses value 2; value 1 still held twice -> count 2 -> 1
    append("b2.json", Seq(ev("delete", 5, 3, "a", 2)))
    run()
    // batch 2: group-moving update empties a; b's set stays {5} -> b's
    // view row is UNCHANGED and must emit nothing
    append("b3.json", Seq(upd(7, 2, "b", 5, "\"grp\":\"a\",\"v\":1"),
                          ev("delete", 8, 1, "a", 1)))
    run()
    val ch = CdcStream.readViewChanges(spark, s"$root/dc")
      .select(col("batch"), col("op"), col("grp"),
              col("before.n_distinct_v").as("b_n"),
              col("after.n_distinct_v").as("a_n"))
      .collect()
      .map(r => (r.getAs[Number]("batch").longValue, r.getString(1),
                 r.getString(2),
                 Option(r.get(3)).map(_.asInstanceOf[Long]),
                 Option(r.get(4)).map(_.asInstanceOf[Long])))
      .toSet
    assert(ch == Set(
      (0L, "insert", "a", None, Some(2L)),
      (0L, "insert", "b", None, Some(1L)),
      (1L, "update", "a", Some(2L), Some(1L)),
      (2L, "delete", "a", Some(1L), None)),
      s"unexpected view changelog: $ch")
    // time travel over the derived topic: the folded changes reconstruct
    // the view as of every batch — including the final one, which must
    // equal the live view itself
    def at(b: Long): Map[String, Long] =
      CdcStream.viewAsOfBatch(spark, s"$root/dc", b).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(at(0) == Map("a" -> 2L, "b" -> 1L))
    assert(at(1) == Map("a" -> 1L, "b" -> 1L))
    assert(at(2) == Map("b" -> 1L))
    val live = CdcStream.readMultiView(spark, root, "dc").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(at(2) == live, "changes-fold must equal the live view")
    // retention: trim below batch 1 — later history (and the live view)
    // unaffected; the pruned range is gone
    assert(CdcStream.pruneViewChanges(spark, s"$root/dc", 1L) == 1)
    assert(CdcStream.readViewChanges(spark, s"$root/dc")
      .select(min(col("batch"))).collect()(0).getAs[Number](0)
      .longValue == 1L)
    assert(CdcStream.pruneViewChanges(spark, s"$root/dc", 1L) == 0,
      "prune must be idempotent")
  }

  test("streaming avg/variance view: restarts and retractions") {
    import org.apache.spark.sql.types._
    import graft.cdc.TableSpec
    val logDir = tmpDir("momlog")
    val root = tmpDir("momstate")
    val ckpt = tmpDir("momckpt")
    val spec = TableSpec("d", "t", Seq("id"), StructType(Seq(
      StructField("id", LongType), StructField("grp", StringType),
      StructField("v", DoubleType))))
    def ev(op: String, ts: Long, id: Long, grp: String, v: Double) =
      s"""{"database":"d","table":"t","type":"$op","ts":$ts,"data":{"id":$id,"grp":"$grp","v":$v}}"""
    def upd(ts: Long, id: Long, grp: String, v: Double, oldFields: String) =
      s"""{"database":"d","table":"t","type":"update","ts":$ts,"data":{"id":$id,"grp":"$grp","v":$v},"old":{$oldFields}}"""
    def append(name: String, lines: Seq[String]): Unit =
      Files.write(java.nio.file.Paths.get(logDir, name),
        (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    def run(): Unit = CdcStream.maintainTableViewsToParquet(
      CdcStream.fileChangelog(spark, logDir), spec,
      Seq(CdcStream.NamedTableView.moments("mom", "grp", "v",
                                           _.cast("decimal(18,8)"))),
      root, ckpt).awaitTermination()
    def view(): Map[String, (Double, Double, Long)] =
      CdcStream.readMultiView(spark, root, "mom").collect()
        .map(r => r.getString(0) -> ((r.getDecimal(1).doubleValue(),
          r.getDecimal(2).doubleValue(), r.getLong(3)))).toMap
    // batch 1: a = {10, 6}, b = {5}
    append("b1.json", Seq(
      ev("insert", 1, 1, "a", 10.0), ev("insert", 2, 2, "a", 6.0),
      ev("insert", 3, 3, "b", 5.0)))
    run()
    assert(view() == Map("a" -> ((16.0, 136.0, 2L)),
                         "b" -> ((5.0, 25.0, 1L))))
    // batch 2 (restart, same checkpoint, state REREAD from parquet):
    // delete id=1 retracts (10, 100, 1) FROM THE PERSISTED SUMS
    append("b2.json", Seq(ev("delete", 4, 1, "a", 10.0)))
    run()
    assert(view() == Map("a" -> ((6.0, 36.0, 1L)),
                         "b" -> ((5.0, 25.0, 1L))))
    // batch 3 (restart): group-moving update id=2 a->b with v 6->3:
    // a nets to zero counters and disappears; b gains (3, 9, 1)
    append("b3.json", Seq(upd(5, 2, "b", 3.0, "\"grp\":\"a\",\"v\":6")))
    run()
    assert(view() == Map("b" -> ((8.0, 34.0, 2L))))
    // the maintained view equals a one-shot fold of the whole log
    val allEvents = CdcStream.changeEvents(
      graft.cdc.Maxwell.parseEnvelopeCol(
        spark.read.schema("value STRING").text(logDir), col("value"))
        .withColumn("seq", lit(0L)), spec)
    val oneShot = graft.cdc.IncrementalAgg.moments(
      allEvents, "grp", "v", valueCast = _.cast("decimal(18,8)"))
      .collect()
      .map(r => r.getString(0) -> ((r.getDecimal(1).doubleValue(),
        r.getDecimal(2).doubleValue(), r.getLong(3)))).toMap
    assert(view() == oneShot)
  }

  test("session windows group events by inactivity gap") {
    val evDir = tmpDir("eventsess")
    graft.Tables.load(spark, sfDir, "events")
      .write.mode("overwrite").parquet(evDir)
    val stream = spark.readStream
      .schema(spark.read.parquet(evDir).schema).parquet(evDir)
    val sess = CdcStream.sessionCounts(stream, "ts", "10 minutes",
      "5 minutes", "user_id")
    val q = sess.writeStream.outputMode("append")
      .format("memory").queryName("sess")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("sess")
    assert(got.count() > 0)
    // session windows: start <= end, counts positive
    assert(got.filter(col("ws") > col("we")).count() == 0)
    assert(got.filter(col("n") <= 0).count() == 0)
  }

  test("streaming sequential views: sessions split, funnel retracts, transitions re-pair") {
    import org.apache.spark.sql.types._
    import graft.cdc.TableSpec
    val logDir = tmpDir("seqlog")
    val root = tmpDir("seqstate")
    val ckpt = tmpDir("seqckpt")
    val spec = TableSpec("d", "events", Seq("event_id"), StructType(Seq(
      StructField("event_id", LongType), StructField("ts_us", LongType),
      StructField("user_id", LongType),
      StructField("event_type", StringType))))
    def ev(op: String, ts: Long, id: Long, us: Long, user: Long,
           typ: String) =
      s"""{"database":"d","table":"events","type":"$op","ts":$ts,""" +
        s""""data":{"event_id":$id,"ts_us":$us,"user_id":$user,""" +
        s""""event_type":"$typ"}}"""
    def append(name: String, lines: Seq[String]): Unit =
      Files.write(java.nio.file.Paths.get(logDir, name),
        (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    val gap = 1800L * 1000000L
    val t0 = 1000L * 1000000L
    val views = Seq(
      CdcStream.NamedTableView.sessions("sess", gap),
      CdcStream.NamedTableView.funnel("fun",
        Seq("view", "click", "purchase")),
      CdcStream.NamedTableView.transitions("trans"),
      CdcStream.NamedTableView.retention("ret"),
      CdcStream.NamedTableView.anomaly("anom"),
      CdcStream.NamedTableView.profile("prof",
        Seq("user_id", "event_type")))
    def run(): Unit = CdcStream.maintainTableViewsToParquet(
      CdcStream.fileChangelog(spark, logDir), spec, views, root, ckpt)
      .awaitTermination()
    def sess(): Set[(Long, Int, Long)] =
      CdcStream.readMultiView(spark, root, "sess").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Int]("sess_id"),
                   r.getAs[Long]("n_events"))).toSet
    def fun(): Set[(Int, String, Long)] =
      CdcStream.readMultiView(spark, root, "fun").collect()
        .map(r => (r.getAs[Int]("stage"), r.getAs[String]("step"),
                   r.getAs[Long]("n_users"))).toSet
    def trans(): Set[(String, String, Long)] =
      CdcStream.readMultiView(spark, root, "trans").collect()
        .map(r => (r.getAs[String]("from_type"), r.getAs[String]("to_type"),
                   r.getAs[Long]("n"))).toSet
    // batch 1: user 1 walks the funnel with the click BRIDGING two
    // session windows; user 2 only views
    append("b1.json", Seq(
      ev("insert", 1, 1, t0, 1, "view"),
      ev("insert", 2, 2, t0 + gap - 1, 1, "click"),
      ev("insert", 3, 3, t0 + 2 * gap - 2, 1, "purchase"),
      ev("insert", 4, 4, t0, 2, "view")))
    run()
    assert(sess() == Set((1L, 1, 3L), (2L, 1, 1L)), s"b1 sess: ${sess()}")
    assert(fun() == Set((1, "view", 2L), (2, "click", 1L),
                        (3, "purchase", 1L)), s"b1 fun: ${fun()}")
    assert(trans() == Set(("view", "click", 1L),
                          ("click", "purchase", 1L)), s"b1 trans: ${trans()}")
    // batch 2 (restart): delete the bridging click -> the session
    // SPLITS, funnel stages 2+3 net to zero and drop, and the
    // transition re-pairs view->purchase
    append("b2.json", Seq(ev("delete", 11, 2, t0 + gap - 1, 1, "click")))
    run()
    assert(sess() == Set((1L, 1, 1L), (1L, 2, 1L), (2L, 1, 1L)),
      s"split-on-delete sessions: ${sess()}")
    assert(fun() == Set((1, "view", 2L)), s"retracted funnel: ${fun()}")
    assert(trans() == Set(("view", "purchase", 1L)),
      s"re-paired transitions: ${trans()}")
    // retention: both users' cohorts share one week-0 cell throughout
    val ret = CdcStream.readMultiView(spark, root, "ret").collect()
      .map(r => (r.getAs[Int]("k"), r.getAs[Long]("n_active"))).toSet
    assert(ret == Set((0, 2L)), s"retention cells: $ret")
    // anomaly: one daily row per live (day, type); the click's day row
    // retracted with its only event
    val anom = CdcStream.readMultiView(spark, root, "anom").collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("n")))
    assert(anom.toSet == Set(("view", 2L), ("purchase", 1L)),
      s"anomaly daily rows: ${anom.mkString(", ")}")
    // maintained profile: live counts after the delete (3 rows, no
    // nulls, distinct users 2 / types 2)
    val prof = CdcStream.readMultiView(spark, root, "prof").collect()
      .map(r => (r.getAs[String]("col_name"), r.getAs[Long]("n_rows"),
                 r.getAs[Long]("n_nulls"), r.getAs[Long]("n_distinct")))
      .toSet
    assert(prof == Set(("user_id", 3L, 0L, 2L),
                       ("event_type", 3L, 0L, 2L)),
      s"maintained profile after delete: $prof")
    // every view's changelog folds to its face; replay is a no-op
    Seq("sess", "fun", "trans", "ret", "anom", "prof").foreach { n =>
      val folded = CdcStream.viewAsOfBatch(spark, s"$root/$n", Long.MaxValue)
      val face = CdcStream.readMultiView(spark, root, n)
      assert(folded.collect().map(_.toString).toSet ==
               face.collect().map(_.toString).toSet,
        s"changelog fold != face for view '$n'")
    }
    run()
    assert(fun() == Set((1, "view", 2L)))
  }

  test("pre-v3 dedup-index generation refuses loudly on restart, then rebuilds") {
    // The STATE FORMAT v3 guard, driven end-to-end through the streaming
    // face: v3 both added the patch-time-verified `pair_scores` file AND
    // changed the signature scheme, so resuming a pre-v3 generation
    // would not crash — it would SILENTLY lose recall (old band hashes
    // never collide with new signatures). The readViewFiles file-set
    // check must therefore fire BEFORE any fold; this case proves the
    // restart dies with the explicit rebuild message (delete the guard
    // and the stream happily resumes — the test goes red), and that the
    // prescribed recovery (drop state+checkpoint, rebuild from the
    // changelog) lands on the right face.
    import org.apache.spark.sql.types._
    import graft.cdc.TableSpec
    val logDir = tmpDir("v3log")
    val root = tmpDir("v3state")
    val ckpt = tmpDir("v3ckpt")
    val spec = TableSpec("d", "docs", Seq("doc_id"), StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType))))
    def ev(op: String, ts: Long, id: Long, text: String) =
      s"""{"database":"d","table":"docs","type":"$op","ts":$ts,"data":{"doc_id":$id,"text":"$text"}}"""
    def append(name: String, lines: Seq[String]): Unit =
      Files.write(java.nio.file.Paths.get(logDir, name),
        (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    val wolf = "the quick brown fox jumps over the lazy dog and then " +
      "runs far away into the deep dark forest tonight"
    val wolf2 = "a quick brown fox jumps over the lazy dog and then " +
      "runs far away into the deep dark forest tonight"
    def views = Seq(
      CdcStream.NamedTableView.dedupIndex("nearidx", "doc_id", "text",
        b = 4, r = 2, nGram = 3))
    def run(): Unit = CdcStream.maintainTableViewsToParquet(
      CdcStream.fileChangelog(spark, logDir), spec, views, root, ckpt)
      .awaitTermination()
    append("b1.json", Seq(ev("insert", 1, 1, wolf),
                          ev("insert", 2, 2, wolf2)))
    run()
    // demote the live generation to a v2 SHAPE: drop `pair_scores`, so
    // the file set reads [bucket_pairs, index] — exactly what a v2
    // writer left behind
    val scoresDir =
      new java.io.File(s"$root/current/nearidx__pair_scores")
    assert(scoresDir.exists(), s"expected v3 layout under $scoresDir")
    def rmRf(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmRf)); f.delete(); ()
    }
    rmRf(scoresDir)
    // restart over a new batch: the guard must fire with the explicit
    // format message, not an opaque parquet error, and not a silent fold
    append("b2.json", Seq(ev("insert", 11, 3, wolf2)))
    val thrown = intercept[Exception] { run() }
    val msg = Iterator.iterate(thrown: Throwable)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    assert(msg.contains("state format changed") && msg.contains("REBUILD"),
      s"expected the loud v3 refusal, got: $msg")
    // prescribed recovery: drop state + checkpoint, rebuild from the
    // (retained) changelog — the face comes back complete
    rmRf(new java.io.File(root)); rmRf(new java.io.File(ckpt))
    run()
    val pairs = CdcStream.readMultiView(spark, root, "nearidx").collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs == Set((1L, 2L), (1L, 3L), (2L, 3L)),
      s"rebuilt face incomplete: $pairs")
  }

  test("IVF retrain-and-swap through the generation seam") {
    // the cdc_ann_drift refresh path END-TO-END on the persisted index:
    // a stream built on a stale codebook drifts; retrainAnnIvf promotes
    // a fresh (codebook, assignment, face) as ONE atomic generation;
    // the changelog folds to the retrained face; and the NEXT stream
    // run — constructed from readAnnCodebook, the v2 contract — assigns
    // new vectors with the retrained quantizer.
    import org.apache.spark.sql.types._
    import graft.cdc.TableSpec
    import graft.similarity.{AnnIndexView, Similarity}
    val logDir = tmpDir("rtalog")
    val root = tmpDir("rtastate")
    val ckpt = tmpDir("rtackpt")
    val spec = TableSpec("d", "vecs", Seq("vec_id"), StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)))))
    def ev(op: String, ts: Long, id: Long, v: Seq[Double]) =
      s"""{"database":"d","table":"vecs","type":"$op","ts":$ts,"data":{"vec_id":$id,"embedding":[${v.mkString(",")}]}}"""
    def append(name: String, lines: Seq[String]): Unit =
      Files.write(java.nio.file.Paths.get(logDir, name),
        (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    val stale = Seq((0L, Seq(10f, 0f, 0f, 0f)), (1L, Seq(0f, 10f, 0f, 0f)))
    def run(book: Seq[(Long, Seq[Float])]): Unit =
      CdcStream.maintainTableViewsToParquet(
        CdcStream.fileChangelog(spark, logDir), spec,
        Seq(CdcStream.NamedTableView.annIvf("ivf", "vec_id", "embedding",
                                            book)),
        root, ckpt).awaitTermination()
    def face(): Map[Long, Long] =
      CdcStream.readMultiView(spark, root, "ivf").collect()
        .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("centroid_id"))
        .toMap
    // b1: two axis clusters, b2: the drifted diagonal cluster — all
    // under the stale two-centroid codebook
    append("b1.json", (1L to 4L).map(i =>
      ev("insert", 1, i, Seq(10 + 0.01 * i, 0, 0, 0))) ++
      (11L to 14L).map(i => ev("insert", 2, i, Seq(0, 10 + 0.01 * i, 0, 0))))
    run(stale)
    append("b2.json", (21L to 26L).map(i =>
      ev("insert", 11, i, Seq(5 + 0.01 * i, 5 - 0.01 * i, 0, 0))))
    run(stale)
    assert(CdcStream.readAnnCodebook(spark, root, "ivf")
             .map(_.toSet) == Some(stale.map(c => (c._1, c._2)).toSet),
      "v2 generation must carry the live codebook")
    // retrain: the swap must promote codebook+assignment+face together
    val newBook = CdcStream.retrainAnnIvf(spark, root, "ivf",
      "vec_id", "embedding", k = 3, seed = 7L)
    assert(newBook.size == 3)
    assert(CdcStream.readAnnCodebook(spark, root, "ivf")
             .map(_.toSet) == Some(newBook.toSet),
      "retrained codebook must be the generation's live codebook")
    val live = graft.cdc.Materializer.liveView(
        spark.read.parquet(s"$root/current/state"))
      .select(col("vec_id"), col("embedding"))
    val expect = Similarity.ivfAssign(live,
        AnnIndexView.centroidDf(spark, newBook)).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("centroid_id"))
      .toMap
    assert(face() == expect,
      "retrained face != one-pass ivfAssign over the live corpus")
    // the drifted cluster owns a centroid of its own again
    assert((21L to 26L).map(face()).toSet.size == 1 &&
             !(1L to 4L).map(face()).toSet.contains(face()(21L)),
      s"drifted cluster must get its own inverted list: ${face()}")
    // changelog continuity: the fold equals the retrained face
    val folded = CdcStream.viewAsOfBatch(spark, s"$root/ivf",
                                         Long.MaxValue)
      .collect().map(r => r.getAs[Long]("vec_id") ->
                            r.getAs[Long]("centroid_id")).toMap
    assert(folded == face(), "changelog fold != retrained face")
    // next run resumes FROM the retrained codebook (readAnnCodebook):
    // a fresh diagonal vector must land in the retrained centroid's
    // list, not a stale axis list
    append("b3.json", Seq(ev("insert", 21, 30, Seq(5.0, 5.0, 0, 0))))
    run(CdcStream.readAnnCodebook(spark, root, "ivf").getOrElse(stale))
    assert(face()(30L) == face()(21L),
      s"post-retrain stream must assign with the new codebook: ${face()}")
    val folded2 = CdcStream.viewAsOfBatch(spark, s"$root/ivf",
                                          Long.MaxValue)
      .collect().map(r => r.getAs[Long]("vec_id") ->
                            r.getAs[Long]("centroid_id")).toMap
    assert(folded2 == face(), "fold != face after the post-retrain batch")

    // STALE-CODEBOOK RESTART REFUSAL (the enforced v2 contract): a
    // runner restarted with the pre-retrain constructor centroids must
    // refuse LOUDLY at restore — silently proceeding would assign new
    // deltas with the old quantizer and overwrite the retrained
    // codebook file with the stale one on the next generation write
    append("b4.json", Seq(ev("insert", 31, 31, Seq(0.0, 9.9, 0, 0))))
    val staleEx = intercept[Exception] { run(stale) }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(staleEx).exists(_.contains("readAnnCodebook")),
      s"stale-codebook restart must name the readAnnCodebook recovery: " +
        s"${msgs(staleEx)}")
    // and the prescribed construction succeeds over the same backlog
    run(CdcStream.readAnnCodebook(spark, root, "ivf").getOrElse(stale))
    assert(face().contains(31L))
  }

  test("from-empty bootstrap folds as one window: faces == stepwise run") {
    // the bootstrap fast path: a from-empty backlog ignores
    // maxEventsPerBatch and folds as ONE window (a bootstrap is a
    // one-shot build); every face must still equal the true stepwise
    // run's, and the SECOND batch (root exists) must fold
    // incrementally on top with cuts re-engaged
    import org.apache.spark.sql.types._
    import graft.cdc.TableSpec
    val spec = TableSpec("d", "t", Seq("id"), StructType(Seq(
      StructField("id", LongType), StructField("grp", StringType),
      StructField("v", LongType))))
    def ev(op: String, ts: Long, id: Long, grp: String, v: Long) =
      s"""{"database":"d","table":"t","type":"$op","ts":$ts,"data":{"id":$id,"grp":"$grp","v":$v}}"""
    val chunk1 = Seq(
      ev("insert", 1, 1, "a", 10), ev("insert", 2, 2, "a", 20),
      ev("insert", 3, 3, "b", 5))
    val chunk2 = Seq(
      ev("insert", 11, 4, "b", 7),
      """{"database":"d","table":"t","type":"update","ts":12,"data":{"id":2,"grp":"a","v":25},"old":{"v":20}}""",
      ev("delete", 13, 3, "b", 5))
    val chunk3 = Seq(
      ev("insert", 21, 5, "c", 1), ev("delete", 22, 1, "a", 10))
    def views() = Seq(
      CdcStream.NamedTableView.topK("v_topk", "grp", "v", k = 2),
      CdcStream.NamedTableView.distinctCount("v_dist", "grp", "v"))
    def faces(root: String): Map[String, Set[String]] =
      Seq("v_topk", "v_dist").map(n =>
        n -> CdcStream.readMultiView(spark, root, n).collect()
          .map(_.toString).toSet).toMap
    // A: the WHOLE backlog from empty, maxEventsPerBatch tiny — the
    // fast path must fold it as one window (and stay correct)
    val logA = tmpDir("bfa"); val rootA = tmpDir("bfar")
    val ckA = tmpDir("bfac")
    Files.write(java.nio.file.Paths.get(logA, "all.json"),
      ((chunk1 ++ chunk2 ++ chunk3).mkString("\n") + "\n").getBytes("UTF-8"))
    CdcStream.maintainTableViewsToParquet(
      CdcStream.fileChangelog(spark, logA), spec, views(), rootA,
      ckA, maxEventsPerBatch = Some(2)).awaitTermination()
    // B: true stepwise — three separate stream batches
    val logB = tmpDir("bfb"); val rootB = tmpDir("bfbr")
    val ckB = tmpDir("bfbc")
    Seq(chunk1, chunk2, chunk3).zipWithIndex.foreach { case (c, i) =>
      Files.write(java.nio.file.Paths.get(logB, s"b$i.json"),
        (c.mkString("\n") + "\n").getBytes("UTF-8"))
      CdcStream.maintainTableViewsToParquet(
        CdcStream.fileChangelog(spark, logB), spec, views(), rootB,
        ckB).awaitTermination()
    }
    assert(faces(rootA) == faces(rootB),
      s"bootstrap one-window faces diverge from stepwise:\n" +
        s"${faces(rootA)}\nvs\n${faces(rootB)}")
    // second batch on A folds incrementally (cuts re-engage; semantics
    // unchanged either way)
    Files.write(java.nio.file.Paths.get(logA, "more.json"),
      (Seq(ev("insert", 31, 6, "a", 99), ev("delete", 32, 5, "c", 1))
        .mkString("\n") + "\n").getBytes("UTF-8"))
    CdcStream.maintainTableViewsToParquet(
      CdcStream.fileChangelog(spark, logA), spec, views(), rootA,
      ckA, maxEventsPerBatch = Some(2)).awaitTermination()
    val distA = CdcStream.readMultiView(spark, rootA, "v_dist").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(distA == Map("a" -> 2L, "b" -> 1L),
      s"post-bootstrap incremental fold wrong: $distA")
  }

  test("retrain crash window: pending marker heals before anything folds") {
    import org.apache.spark.sql.types._
    import graft.cdc.TableSpec
    val logDir = tmpDir("rtclog")
    val root = tmpDir("rtcstate")
    val ckpt = tmpDir("rtcckpt")
    val spec = TableSpec("d", "vecs", Seq("vec_id"), StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)))))
    def ev(op: String, ts: Long, id: Long, v: Seq[Double]) =
      s"""{"database":"d","table":"vecs","type":"$op","ts":$ts,"data":{"vec_id":$id,"embedding":[${v.mkString(",")}]}}"""
    def append(name: String, lines: Seq[String]): Unit =
      Files.write(java.nio.file.Paths.get(logDir, name),
        (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    val stale = Seq((0L, Seq(10f, 0f)), (1L, Seq(0f, 10f)))
    def run(book: Seq[(Long, Seq[Float])]): Unit =
      CdcStream.maintainTableViewsToParquet(
        CdcStream.fileChangelog(spark, logDir), spec,
        Seq(CdcStream.NamedTableView.annIvf("ivf", "vec_id", "embedding",
                                            book)),
        root, ckpt).awaitTermination()
    append("b1.json", (1L to 4L).map(i =>
      ev("insert", 1, i, Seq(10 + 0.01 * i, 0))) ++
      (11L to 14L).map(i => ev("insert", 1, i, Seq(5 + 0.01 * i, 5))))
    run(stale)
    // die in the EXACT window the protocol exists for: generation
    // swapped (serving the retrained face) but the changelog horizon
    // still holds the old-epoch delta — through the real code path
    intercept[IllegalStateException] {
      CdcStream.retrainAnnIvfImpl(spark, root, "ivf", "vec_id",
        "embedding", k = 3, seed = 7L, driftName = None,
        failBeforeFinish = true)
    }
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    def pendingMarkers(): Seq[String] =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/current"))
        .toSeq.map(_.getPath.getName)
        .filter(_.contains("__retrain_pending_"))
    def face(): Map[Long, Long] =
      CdcStream.readMultiView(spark, root, "ivf").collect()
        .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("centroid_id"))
        .toMap
    def folded(): Map[Long, Long] =
      CdcStream.viewAsOfBatch(spark, s"$root/ivf", Long.MaxValue)
        .collect().map(r => r.getAs[Long]("vec_id") ->
                              r.getAs[Long]("centroid_id")).toMap
    assert(pendingMarkers().nonEmpty,
      "the crash window must leave the retrain-pending marker behind " +
        "(red if the marker write is deleted)")
    // the window is REAL: the changelog horizon still holds the
    // old-epoch DELTA (no snapshot marker) while the generation serves
    // the retrained face
    val horizon = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$root/ivf/changes"))
      .map(_.getPath.getName).filter(_.startsWith("batch="))
      .map(_.stripPrefix("batch=").toLong).max
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
        s"$root/ivf/changes/batch=$horizon/_snapshot")),
      "precondition: the horizon batch is still the old-epoch delta")
    // COMPACTION is a consumer too — run it straight into the crash
    // window (the operator-compaction scenario): it must heal FIRST,
    // never bake the old-epoch delta into a snapshot that would
    // permanently shadow the retrained face
    CdcStream.compactViewChanges(spark, s"$root/ivf", horizon)
    assert(pendingMarkers().isEmpty,
      "compaction must install the pending retrain snapshot, not fold " +
        "over it")
    assert(folded() == face(),
      "post-compaction fold must equal the retrained face")
    // second epoch: grow the corpus, crash another retrain in the same
    // window, and let the FOLD surface heal it (viewAsOfBatch)
    append("b2.json", Seq(ev("insert", 11, 21, Seq(0.0, 9.9))))
    run(CdcStream.readAnnCodebook(spark, root, "ivf").getOrElse(stale))
    intercept[IllegalStateException] {
      CdcStream.retrainAnnIvfImpl(spark, root, "ivf", "vec_id",
        "embedding", k = 3, seed = 8L, driftName = None,
        failBeforeFinish = true)
    }
    assert(pendingMarkers().nonEmpty)
    val healedFold = folded() // the read self-heals before folding
    assert(pendingMarkers().isEmpty,
      "viewAsOfBatch must heal the pending retrain before folding")
    assert(healedFold == face(),
      "healed changelog fold must equal the retrained face")
    assert(healedFold.contains(21L))
    // and the stream continues cleanly on top of the healed log
    append("b3.json", Seq(ev("insert", 21, 22, Seq(9.9, 0.1))))
    run(CdcStream.readAnnCodebook(spark, root, "ivf").getOrElse(stale))
    assert(folded() == face(), "fold != face after the post-heal batch")
  }

  test("a stale generation tmp never leaks files into the next swap") {
    // a writer that dies MID-writeTmp leaves current.tmp behind; the
    // next swap must clear it — stale files (an old applied marker, a
    // crashed retrain's pending marker) must not ride into the
    // promoted generation (red if swapGeneration's stale-tmp delete is
    // removed)
    import org.apache.spark.sql.types._
    import graft.cdc.TableSpec
    val logDir = tmpDir("stlog")
    val root = tmpDir("ststate")
    val ckpt = tmpDir("stckpt")
    val spec = TableSpec("d", "t", Seq("id"), StructType(Seq(
      StructField("id", LongType), StructField("v", LongType))))
    def ev(ts: Long, id: Long, v: Long) =
      s"""{"database":"d","table":"t","type":"insert","ts":$ts,"data":{"id":$id,"v":$v}}"""
    def append(name: String, lines: Seq[String]): Unit =
      Files.write(java.nio.file.Paths.get(logDir, name),
        (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    def run(): Unit = CdcStream.maintainTableViewsToParquet(
      CdcStream.fileChangelog(spark, logDir), spec,
      Seq(CdcStream.NamedTableView.distinctCount("v_d", "id", "v")),
      root, ckpt).awaitTermination()
    append("b1.json", Seq(ev(1, 1, 10)))
    run()
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val phantom = new org.apache.hadoop.fs.Path(
      s"$root/current.tmp/v_d__retrain_pending_99")
    fs.mkdirs(phantom.getParent)
    fs.create(phantom, true).close()
    append("b2.json", Seq(ev(2, 2, 20)))
    run()
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
        s"$root/current/v_d__retrain_pending_99")),
      "stale tmp contents leaked into the promoted generation")
    assert(CdcStream.readMultiView(spark, root, "v_d").count() == 2)
  }

  test("drift-gated retrain policy + single-writer guard") {
    import org.apache.spark.sql.types._
    import graft.cdc.TableSpec
    val logDir = tmpDir("rtplog")
    val root = tmpDir("rtpstate")
    val ckpt = tmpDir("rtpckpt")
    val spec = TableSpec("d", "vecs", Seq("vec_id"), StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)))))
    def ev(op: String, ts: Long, id: Long, v: Seq[Double]) =
      s"""{"database":"d","table":"vecs","type":"$op","ts":$ts,"data":{"vec_id":$id,"embedding":[${v.mkString(",")}]}}"""
    def append(name: String, lines: Seq[String]): Unit =
      Files.write(java.nio.file.Paths.get(logDir, name),
        (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    val stale = Seq((0L, Seq(10f, 0f, 0f, 0f)), (1L, Seq(0f, 10f, 0f, 0f)))
    def run(book: Seq[(Long, Seq[Float])]): Unit =
      CdcStream.maintainTableViewsToParquet(
        CdcStream.fileChangelog(spark, logDir), spec,
        Seq(CdcStream.NamedTableView.annIvf("ivf", "vec_id", "embedding",
                                            book),
            CdcStream.NamedTableView.annDrift("ivf_drift", "vec_id",
                                              "embedding", book)),
        root, ckpt).awaitTermination()
    // two tight axis clusters near the stale centroids (healthy) plus a
    // PLANTED far diagonal cluster (drift): mean assignment distance
    // over the corpus is dominated by the drifted vectors
    append("b1.json", (1L to 4L).map(i =>
      ev("insert", 1, i, Seq(10 + 0.01 * i, 0, 0, 0))) ++
      (11L to 14L).map(i => ev("insert", 1, i, Seq(0, 10 + 0.01 * i, 0, 0))) ++
      (21L to 26L).map(i => ev("insert", 1, i, Seq(5 + 0.01 * i, 5 - 0.01 * i, 0, 0))))
    run(stale)
    def driftFace(): Map[Long, (Long, Double)] =
      CdcStream.readMultiView(spark, root, "ivf_drift").collect()
        .map(r => r.getAs[Long]("centroid_id") ->
               (r.getAs[Long]("n_vecs"),
                r.getAs[Double]("avg_dist"))).toMap
    assert(driftFace().values.map(_._1).sum == 14,
      s"drift face must cover the live corpus: ${driftFace()}")
    // a threshold ABOVE the planted drift: healthy, nothing happens
    assert(CdcStream.retrainAnnIvfIfDrifted(spark, root, "ivf",
      "ivf_drift", "vec_id", "embedding", k = 3,
      maxAvgDist = 100.0).isEmpty,
      "a healthy monitor must not trigger a retrain")
    // SINGLE-WRITER GUARD, stream side: a mid-flight batch marker makes
    // the retrain refuse (red if the guard check is deleted)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val batchMarker = new org.apache.hadoop.fs.Path(
      root, "_batch_inprogress")
    fs.create(batchMarker, true).close()
    val exB = intercept[IllegalStateException] {
      CdcStream.retrainAnnIvf(spark, root, "ivf", "vec_id", "embedding",
                              k = 3)
    }
    assert(exB.getMessage.contains("_batch_inprogress"))
    fs.delete(batchMarker, false)
    // SINGLE-WRITER GUARD, retrain side: while the retrain lock exists
    // a stream batch must fail loudly instead of racing the swap
    val retrainLock = new org.apache.hadoop.fs.Path(
      root, "_retrain_inprogress")
    fs.create(retrainLock, false).close()
    append("b2.json", Seq(ev("insert", 2, 31, Seq(9.9, 0.1, 0, 0))))
    val exS = intercept[Exception] { run(stale) }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(exS).exists(_.contains("_retrain_inprogress")),
      s"stream batch must refuse while a retrain holds the lock: " +
        s"${msgs(exS)}")
    // a second retrain also refuses on the held lock
    val exR = intercept[IllegalStateException] {
      CdcStream.retrainAnnIvf(spark, root, "ivf", "vec_id", "embedding",
                              k = 3)
    }
    assert(exR.getMessage.contains("_retrain_inprogress"))
    fs.delete(retrainLock, false)
    run(stale) // drain the failed batch cleanly before the policy runs
    // the POLICY: planted drift trips the threshold, the retrain swaps
    // a fresh epoch AND rebuilds the drift monitor against it
    val newBook = CdcStream.retrainAnnIvfIfDrifted(spark, root, "ivf",
      "ivf_drift", "vec_id", "embedding", k = 3, maxAvgDist = 0.5,
      seed = 7L)
    assert(newBook.isDefined, "planted drift must trigger the retrain")
    assert(CdcStream.readAnnCodebook(spark, root, "ivf")
             .map(_.toSet) == newBook.map(_.toSet))
    // drifted cluster owns its own list again, and the REBUILT monitor
    // reads epoch-coherent (small distances under the fresh quantizer)
    val face = CdcStream.readMultiView(spark, root, "ivf").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("centroid_id"))
      .toMap
    assert((21L to 26L).map(face).toSet.size == 1 &&
             !(1L to 4L).map(face).toSet.contains(face(21L)))
    val rebuilt = driftFace()
    assert(rebuilt.values.map(_._1).sum == 15,
      s"rebuilt drift face must cover the live corpus: $rebuilt")
    assert(rebuilt.values.forall(_._2 < 0.5),
      s"the rebuilt monitor must read the NEW epoch's distances: $rebuilt")
    // re-read through the policy: healthy now — the loop is closed
    assert(CdcStream.retrainAnnIvfIfDrifted(spark, root, "ivf",
      "ivf_drift", "vec_id", "embedding", k = 3,
      maxAvgDist = 0.5).isEmpty,
      "post-retrain the monitor must read healthy again")
    // a restart with the STALE constructor centroids must refuse for
    // the DRIFT monitor too (it persists its own codebook now): folding
    // new deltas measured against old centroids into the rebuilt
    // moments would silently epoch-mix the monitor
    append("b3.json", Seq(ev("insert", 21, 41, Seq(5.0, 5.0, 0, 0))))
    val exD = intercept[Exception] {
      CdcStream.maintainTableViewsToParquet(
        CdcStream.fileChangelog(spark, logDir), spec,
        Seq(CdcStream.NamedTableView.annDrift("ivf_drift", "vec_id",
                                              "embedding", stale)),
        root, ckpt).awaitTermination()
    }
    assert(msgs(exD).exists(m => m.contains("readAnnCodebook") &&
                                 m.contains("drift")),
      s"stale-codebook drift restart must refuse: ${msgs(exD)}")
    // next stream batch: BOTH views constructed from the live codebook
    // advance; a fresh diagonal vector lands in the retrained list and
    // the drift face folds it coherently
    run(CdcStream.readAnnCodebook(spark, root, "ivf").getOrElse(stale))
    val face2 = CdcStream.readMultiView(spark, root, "ivf").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("centroid_id"))
      .toMap
    assert(face2(41L) == face2(21L),
      s"post-retrain stream must assign with the new codebook: $face2")
    assert(driftFace().values.map(_._1).sum == 16,
      "the rebuilt drift monitor must keep folding new deltas")
  }

  test("join-family paths refuse an upstream ALTER loudly with the " +
       "rebuild recipe") {
    import org.apache.spark.sql.types._
    import graft.cdc.TableSpec
    val logDir = tmpDir("jalog"); val root = tmpDir("jastate")
    val ckpt = tmpDir("jackpt")
    def lSpec(extra: Boolean) = TableSpec("d", "fact", Seq("k"),
      StructType(Seq(StructField("k", LongType),
                     StructField("fk", LongType),
                     StructField("price", DoubleType)) ++
        (if (extra) Seq(StructField("qty", LongType)) else Nil)))
    val rSpec = TableSpec("d", "dim", Seq("ck"), StructType(Seq(
      StructField("ck", LongType), StructField("name", StringType))))
    Files.write(java.nio.file.Paths.get(logDir, "b1.json"),
      (Seq(
        """{"database":"d","table":"fact","type":"insert","ts":1,"data":{"k":1,"fk":10,"price":5.0}}""",
        """{"database":"d","table":"dim","type":"insert","ts":2,"data":{"ck":10,"name":"c10"}}""")
        .mkString("\n") + "\n").getBytes("UTF-8"))
    def run(ls: TableSpec): Unit = CdcStream.maintainMultiViewToParquet(
      CdcStream.fileChangelog(spark, logDir), ls, rSpec,
      lJoinCols = Seq("fk"),
      Seq(CdcStream.NamedView.joinView("jv",
        Seq("k", "fk", "price", "ck", "name"), Seq("k"))),
      root, ckpt).awaitTermination()
    run(lSpec(extra = false))
    Files.write(java.nio.file.Paths.get(logDir, "b2.json"),
      ("""{"database":"d","table":"fact","type":"insert","ts":3,"data":{"k":2,"fk":10,"price":6.0,"qty":4}}""" +
        "\n").getBytes("UTF-8"))
    val ex = intercept[Exception] { run(lSpec(extra = true)) }
    def rootMsg(e: Throwable): String = {
      var c: Throwable = e
      while (c.getCause != null) c = c.getCause
      c.getMessage
    }
    assert(rootMsg(ex).contains("maintainMultiViewToParquet") &&
             rootMsg(ex).contains("added qty") &&
             rootMsg(ex).contains("Rebuild"),
      s"join path must refuse an ALTER loudly naming the recipe: " +
        s"${rootMsg(ex)}")
  }

  test("snapshot-seeded bootstrap: seed + overlapping binlog suffix " +
       "== full replay, for aggregate AND index faces") {
    import org.apache.spark.sql.types._
    import graft.cdc.TableSpec
    val spec = TableSpec("d", "t", Seq("id"), StructType(Seq(
      StructField("id", LongType), StructField("grp", StringType),
      StructField("v", LongType), StructField("txt", StringType),
      StructField("emb", ArrayType(FloatType)))))
    def ev(op: String, ts: Long, id: Long, grp: String, v: Long,
           txt: String, emb: Seq[Double], old: String = "") = {
      val oldPart = if (old.isEmpty) "" else s""","old":$old"""
      s"""{"database":"d","table":"t","type":"$op","ts":$ts,"data":{"id":$id,"grp":"$grp","v":$v,"txt":"$txt","emb":[${emb.mkString(",")}]}$oldPart}"""
    }
    val t1 = "alpha beta gamma delta epsilon zeta"
    val t2 = "one two three four five six seven"
    val t3 = "red green blue cyan magenta yellow"
    // prefix (reflected in the snapshot, ts <= 5) + suffix (ts > 5);
    // id5's text duplicates id3's -> a planted near-dup pair that spans
    // the seed boundary (snapshot-era doc + binlog-era doc)
    val prefix = Seq(
      ev("insert", 1, 1, "a", 10, t1, Seq(10, 0)),
      ev("insert", 2, 2, "a", 20, t2, Seq(0, 10)),
      ev("insert", 3, 3, "b", 5, t3, Seq(10, 0.1)),
      ev("update", 4, 1, "a", 11, t1 + " eta", Seq(9.9, 0),
         s"""{"v":10,"txt":"$t1","emb":[10,0]}"""),
      ev("delete", 5, 2, "a", 20, t2, Seq(0, 10)))
    val suffix = Seq(
      ev("insert", 6, 4, "b", 7, t2, Seq(0, 9.9)),
      ev("update", 7, 3, "b", 6, t3, Seq(10, 0.2),
         """{"v":5,"emb":[10,0.1]}"""),
      ev("insert", 8, 5, "a", 9, t3, Seq(9.8, 0.1)),
      ev("delete", 9, 1, "a", 11, t1 + " eta", Seq(9.9, 0)))
    val initial = Seq((0L, Seq(10f, 0f)), (1L, Seq(0f, 10f)))
    def views() = Seq(
      CdcStream.NamedTableView.distinctCount("dc", "grp", "v"),
      CdcStream.NamedTableView.moments("mm", "grp", "v"),
      CdcStream.NamedTableView.dedupIndex("di", "id", "txt", nGram = 3),
      CdcStream.NamedTableView.annIvfFollowing("ivf", "id", "emb",
                                               initial))
    def runLog(root: String, ckpt: String, logDir: String): Unit =
      CdcStream.maintainTableViewsToParquet(
        CdcStream.fileChangelog(spark, logDir), spec, views(), root,
        ckpt).awaitTermination()
    def faces(root: String): Map[String, Set[String]] =
      Seq("dc", "mm", "di", "ivf").map(n =>
        n -> CdcStream.readMultiView(spark, root, n).collect()
          .map(_.toString).toSet).toMap
    // FULL replay: the whole changelog from empty
    val logF = tmpDir("sdfl"); val rootF = tmpDir("sdfr")
    Files.write(java.nio.file.Paths.get(logF, "all.json"),
      ((prefix ++ suffix).mkString("\n") + "\n").getBytes("UTF-8"))
    runLog(rootF, tmpDir("sdfc"), logF)
    // SEEDED: snapshot (= live state as of ts0 = 5) + the OVERLAPPING
    // log (prefix included — the fold must drop it, not re-count it)
    val rootS = tmpDir("sdsr")
    val snapshot = spark.createDataFrame(Seq(
        (1L, "a", 11L, t1 + " eta", Seq(9.9f, 0f)),
        (3L, "b", 5L, t3, Seq(10f, 0.1f))))
      .toDF("id", "grp", "v", "txt", "emb")
    CdcStream.seedTableViewsToParquet(spark, snapshot, spec, views(),
                                      rootS, ts0 = 5L)
    // seeded faces BEFORE the suffix == the snapshot's own state
    assert(CdcStream.readMultiView(spark, rootS, "dc").collect()
             .map(r => r.getString(0) -> r.getLong(1)).toMap ==
           Map("a" -> 1L, "b" -> 1L))
    val logS = tmpDir("sdsl"); val ckS = tmpDir("sdsc")
    Files.write(java.nio.file.Paths.get(logS, "all.json"),
      ((prefix ++ suffix).mkString("\n") + "\n").getBytes("UTF-8"))
    runLog(rootS, ckS, logS)
    assert(faces(rootS) == faces(rootF),
      s"seeded faces diverge from full replay:\n${faces(rootS)}\nvs\n" +
        s"${faces(rootF)}")
    // the planted cross-boundary dup pair survived the handoff
    assert(faces(rootS)("di").exists(r => r.contains("3") &&
                                          r.contains("5")),
      s"cross-boundary dup pair missing: ${faces(rootS)("di")}")
    // live table state equal (modulo meta cols: seed stamps ts0)
    def live(root: String): Set[String] =
      graft.cdc.Materializer.liveView(
        spark.read.parquet(s"$root/current/state"))
        .collect().map(_.toString).toSet
    assert(live(rootS) == live(rootF))
    // the changelog fold works from the seed snapshot (batch = -1)
    // through the suffix batches — time travel on a seeded root
    val folded = CdcStream.viewAsOfBatch(spark, s"$rootS/dc",
                                         Long.MaxValue)
      .collect().map(_.toString).toSet
    assert(folded == CdcStream.readMultiView(spark, rootS, "dc")
             .collect().map(_.toString).toSet,
      "seeded changelog fold must equal the face")
    // COMPOSITION with the ALTER contract: a seeded root is an ordinary
    // generation — an upstream ADD COLUMN after the handoff absorbs
    // under allowEvolution exactly like a replay-bootstrapped root
    val specW = TableSpec("d", "t", Seq("id"), StructType(
      spec.schema.fields.toSeq :+ StructField("w", LongType)))
    Files.write(java.nio.file.Paths.get(logS, "b2.json"),
      (s"""{"database":"d","table":"t","type":"insert","ts":10,"data":{"id":6,"grp":"c","v":2,"txt":"$t1","emb":[10,0],"w":5}}""" +
        "\n").getBytes("UTF-8"))
    CdcStream.maintainTableViewsToParquet(
      CdcStream.fileChangelog(spark, logS), specW, views(), rootS,
      ckS, allowEvolution = true).awaitTermination()
    val stW = spark.read.parquet(s"$rootS/current/state")
    assert(stW.columns.contains("w") &&
             stW.filter(col("id") === 6).head().getAs[Long]("w") == 5L,
      "a seeded root must absorb a post-handoff ADD COLUMN")
    // a torn seed (marker without generation) refuses loudly
    val rootT = tmpDir("sdtr")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(rootT))
    fs.create(new org.apache.hadoop.fs.Path(rootT, "_seed_horizon_5"),
              true).close()
    val exTorn = intercept[Exception] {
      runLog(rootT, tmpDir("sdtc"), logS) }
    def rootMsg(e: Throwable): String = {
      var c: Throwable = e
      while (c.getCause != null) c = c.getCause
      c.getMessage
    }
    assert(rootMsg(exTorn).contains("torn") ||
             rootMsg(exTorn).contains("re-run the seed"),
      s"torn seed must refuse loudly: ${rootMsg(exTorn)}")
  }

  test("drift policy retrains MID-RUN; following views pick up the " +
       "new codebook at the next batch with no external call") {
    import org.apache.spark.sql.types._
    import graft.cdc.TableSpec
    val logDir = tmpDir("dplog"); val root = tmpDir("dpstate")
    val ckpt = tmpDir("dpckpt")
    val spec = TableSpec("d", "vecs", Seq("vec_id"), StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)))))
    def ev(ts: Long, id: Long, v: Seq[Double]) =
      s"""{"database":"d","table":"vecs","type":"insert","ts":$ts,"data":{"vec_id":$id,"embedding":[${v.mkString(",")}]}}"""
    def append(name: String, lines: Seq[String]): Unit =
      Files.write(java.nio.file.Paths.get(logDir, name),
        (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    val initial = Seq((0L, Seq(10f, 0f)), (1L, Seq(0f, 10f)))
    def views() = Seq(
      CdcStream.NamedTableView.annIvfFollowing(
        "ivf", "vec_id", "embedding", initial),
      CdcStream.NamedTableView.annDriftFollowing(
        "ivfd", "vec_id", "embedding", initial))
    val policy = CdcStream.AnnDriftPolicy(
      "ivf", "ivfd", "vec_id", "embedding", k = 3, maxAvgDist = 1.0,
      seed = 7L)
    // a policy naming views this run does not maintain is a
    // registration bug and refuses at start, not at first trigger
    val exReg = intercept[IllegalArgumentException] {
      CdcStream.maintainTableViewsToParquet(
        CdcStream.fileChangelog(spark, logDir), spec,
        Seq(CdcStream.NamedTableView.distinctCount("other", "vec_id",
                                                   "vec_id")),
        root, ckpt, driftPolicy = Some(policy))
    }
    assert(exReg.getMessage.contains("driftPolicy"))
    def run(maxFilesPerTrigger: Option[Int]): Unit = {
      val lines = maxFilesPerTrigger
        .foldLeft(spark.readStream.schema("value STRING").format("text")) {
          (r, m) => r.option("maxFilesPerTrigger", m.toString) }
        .load(logDir)
      val env = graft.cdc.Maxwell.parseEnvelopeCol(lines, col("value"))
      CdcStream.maintainTableViewsToParquet(env, spec, views(), root,
        ckpt, driftPolicy = Some(policy)).awaitTermination()
    }
    def codebook(): Seq[(Long, Seq[Float])] =
      CdcStream.readAnnCodebook(spark, root, "ivf").get.sortBy(_._1)
    def face(): Map[Long, Long] =
      CdcStream.readMultiView(spark, root, "ivf").collect()
        .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("centroid_id"))
        .toMap
    def meanDrift(): Double =
      CdcStream.readMultiView(spark, root, "ivfd")
        .agg((sum(col("n_vecs") * col("avg_dist")) / sum(col("n_vecs")))
          .as("m")).head().getDouble(0)
    // run 1: healthy corpus near the seeded centroids — the policy
    // evaluates after the batch and must NOT retrain
    append("b1.json", (1L to 4L).map(i =>
      ev(1, i, Seq(10 + 0.01 * i, 0))) ++
      (11L to 14L).map(i => ev(1, i, Seq(0, 10 + 0.01 * i))))
    run(None)
    assert(codebook() == initial.map { case (i, v) => (i, v.toSeq) },
      "a healthy face must not trigger the policy")
    assert(meanDrift() < 0.1)
    // run 2, ONE run, two batches (maxFilesPerTrigger=1): batch A
    // plants drift far from every centroid; the post-commit policy
    // must retrain BETWEEN batches, and batch B (same run, no external
    // call, no restart) must fold with the NEW codebook
    append("b2.json", (21L to 32L).map(i =>
      ev(2, i, Seq(5 + 0.01 * (i - 21), 5))))
    append("b3.json", Seq(ev(3, 41, Seq(5.05, 5.0))))
    run(Some(1))
    val book2 = codebook()
    assert(book2.size == 3 &&
             book2 != initial.map { case (i, v) => (i, v.toSeq) },
      s"the policy must have retrained mid-run: $book2")
    assert(meanDrift() < 1.0,
      s"the retrain must rebuild the drift face in-epoch: ${meanDrift()}")
    val f = face()
    assert(f.contains(41L), "batch B must fold after the mid-run retrain")
    // batch B's vector sits in the planted-drift cloud: it must assign
    // to the same (new) centroid as the cloud, which no initial
    // centroid could produce
    assert(f(41L) == f(21L),
      s"post-retrain batch must assign with the NEW codebook: $f")
    assert(CdcStream.viewAsOfBatch(spark, s"$root/ivf", Long.MaxValue)
             .count() == face().size,
      "changelog fold must track the face across the mid-run retrain")
  }

  test("ALTER mid-stream: maintained faces absorb ADD + widening, " +
       "refuse narrowing and drops/renames of read columns") {
    import org.apache.spark.sql.types._
    import graft.cdc.TableSpec
    val logDir = tmpDir("evlog"); val root = tmpDir("evstate")
    val ckpt = tmpDir("evckpt")
    def spec(vType: DataType, withW: Boolean, txtName: Option[String],
             renamed: Map[String, String] = Map.empty) =
      TableSpec("d", "t", Seq("id"), StructType(
        Seq(StructField("id", LongType), StructField("grp", StringType),
            StructField("v", vType)) ++
          (if (withW) Seq(StructField("w", LongType)) else Nil) ++
          txtName.map(n => StructField(n, StringType)).toSeq),
        renamedColumns = renamed)
    val v1 = spec(IntegerType, withW = false, Some("txt"))
    def ev(ts: Long, id: Long, grp: String, v: Long, extra: String = "") =
      s"""{"database":"d","table":"t","type":"insert","ts":$ts,"data":{"id":$id,"grp":"$grp","v":$v$extra}}"""
    def append(name: String, lines: Seq[String]): Unit =
      Files.write(java.nio.file.Paths.get(logDir, name),
        (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    def views() = Seq(
      CdcStream.NamedTableView.moments("m", "grp", "v"),
      CdcStream.NamedTableView.distinctCount("dc", "grp", "v"),
      CdcStream.NamedTableView.tokenFreq("tf", "txt"))
    def run(s: TableSpec, vs: Seq[CdcStream.NamedTableView[_]],
            evolve: Boolean) =
      CdcStream.maintainTableViewsToParquet(
        CdcStream.fileChangelog(spark, logDir), s, vs, root, ckpt,
        allowEvolution = evolve).awaitTermination()
    def rootMsg(e: Throwable): String = {
      var c: Throwable = e
      while (c.getCause != null) c = c.getCause
      c.getMessage
    }
    append("b1.json", Seq(ev(1, 1, "a", 10, ""","txt":"x y""""),
                          ev(2, 2, "a", 20, ""","txt":"y z"""")))
    run(v1, views(), evolve = false)
    // 1. ADD COLUMN without allowEvolution: loud refusal naming the
    // drift and the flag — never a silent absorb
    val v2 = spec(IntegerType, withW = true, Some("txt"))
    append("b2.json", Seq(
      ev(3, 3, "b", 5, ""","w":7,"txt":"x q""""),
      ev(4, 4, "b", 6, ""","w":8,"txt":"q q"""")))
    val exAdd = intercept[Exception] { run(v2, views(), evolve = false) }
    assert(rootMsg(exAdd).contains("allowEvolution") &&
             rootMsg(exAdd).contains("added w"),
      s"ADD refusal must name the drift: ${rootMsg(exAdd)}")
    // 2. ADD COLUMN with allowEvolution: absorbs — pre-ALTER rows
    // report NULL for w (the source database's own answer), faces keep
    // folding
    run(v2, views(), evolve = true)
    val st2 = spark.read.parquet(s"$root/current/state")
    assert(st2.columns.contains("w"))
    val wById = st2.collect()
      .map(r => r.getAs[Long]("id") ->
        Option(r.getAs[Any]("w"))).toMap
    assert(wById(1L).isEmpty && wById(2L).isEmpty &&
             wById(3L).contains(7L) && wById(4L).contains(8L),
      s"pre-ALTER rows must read NULL for the added column: $wById")
    def momentsFace(): Map[String, (Long, Double)] =
      CdcStream.readMultiView(spark, root, "m")
        .select(col("grp"), col("n_rows"),
                (col("sum_v").cast("double") / col("n_rows")).as("avg"))
        .collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(momentsFace() == Map("a" -> (2L, 15.0), "b" -> (2L, 5.5)),
      s"faces must keep folding across the ADD: ${momentsFace()}")
    // 3. WIDENING MODIFY (v INT -> BIGINT) with allowEvolution: the
    // moments-backed face absorbs; the state reads back widened
    val v3 = spec(LongType, withW = true, Some("txt"))
    append("b3.json", Seq(
      ev(5, 5, "a", 3000000000L, ""","w":9,"txt":"z z"""")))
    run(v3, views(), evolve = true)
    assert(spark.read.parquet(s"$root/current/state")
             .schema("v").dataType == LongType,
      "state must read back in the widened type")
    assert(momentsFace()("a") == (3L, 1000000010.0),
      s"moments must absorb the widened column: ${momentsFace()}")
    // the PAIR-STATE family absorbs too: its persisted value column
    // (old narrow type) coerces up through the fold union
    val dc3 = CdcStream.readMultiView(spark, root, "dc").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dc3 == Map("a" -> 3L, "b" -> 2L),
      s"pair state must absorb the widened column: $dc3")
    // 4. RENAME of a column a view reads: the AFFECTED view refuses
    // loudly with the rebuild recipe; unaffected siblings absorb and
    // renamed history is preserved (pre-ALTER values non-NULL)
    val v4 = spec(LongType, withW = true, Some("body"),
                  renamed = Map("txt" -> "body"))
    append("b4.json", Seq(
      ev(6, 6, "b", 7, ""","w":1,"body":"m n"""")))
    val tfRenamed = CdcStream.NamedTableView.tokenFreq("tf", "body")
    val exRen = intercept[Exception] {
      run(v4, views().init :+ tfRenamed, evolve = true) }
    assert(rootMsg(exRen).contains("'tf'") &&
             rootMsg(exRen).contains("Rebuild"),
      s"rename refusal must name the view and recipe: ${rootMsg(exRen)}")
    run(v4, views().init, evolve = true) // without the affected view
    val body = spark.read.parquet(s"$root/current/state").collect()
      .map(r => r.getAs[Long]("id") ->
        Option(r.getAs[String]("body"))).toMap
    assert(body(1L).contains("x y") && body(6L).contains("m n"),
      s"renamed history must be preserved, not NULLed: $body")
    // 5. an UNDECLARED-sourceCols view cannot prove it survives a
    // drop/rename: conservative loud refusal
    val v5 = spec(LongType, withW = false, Some("body"))
    append("b5.json", Seq(ev(7, 7, "c", 1, ""","body":"k"""")))
    val undeclared = CdcStream.NamedTableView.moments("m", "grp", "v")
      .copy(sourceCols = None)
    val exUndecl = intercept[Exception] {
      run(v5, Seq(undeclared,
                  CdcStream.NamedTableView.distinctCount("dc", "grp", "v")),
          evolve = true) }
    assert(rootMsg(exUndecl).contains("sourceCols"),
      s"undeclared view must refuse on drop: ${rootMsg(exUndecl)}")
    // 6. DROP COLUMN (w): views not reading it absorb; the state
    // narrows with the source
    run(v5, views().init, evolve = true)
    assert(!spark.read.parquet(s"$root/current/state")
              .columns.contains("w"),
      "the merged generation must narrow with the source")
    assert(momentsFace()("c") == (1L, 1.0))
    // 7. NARROWING MODIFY always refuses, evolution or not
    val v6 = spec(IntegerType, withW = false, Some("body"))
    append("b6.json", Seq(ev(8, 8, "c", 2, ""","body":"k"""")))
    val exNarrow = intercept[Exception] {
      run(v6, views().init, evolve = true) }
    assert(rootMsg(exNarrow).toLowerCase.contains("narrow"),
      s"narrowing must refuse: ${rootMsg(exNarrow)}")
  }

  test("concurrent heals serialize under the heal lock; malformed " +
       "markers fail loudly") {
    import org.apache.spark.sql.types._
    import graft.cdc.TableSpec
    val logDir = tmpDir("hllog"); val root = tmpDir("hlstate")
    val ckpt = tmpDir("hlckpt")
    val spec = TableSpec("d", "t", Seq("id"), StructType(Seq(
      StructField("id", LongType), StructField("v", LongType))))
    Files.write(java.nio.file.Paths.get(logDir, "b1.json"),
      ("""{"database":"d","table":"t","type":"insert","ts":1,"data":{"id":1,"v":10}}""" +
        "\n").getBytes("UTF-8"))
    CdcStream.maintainTableViewsToParquet(
      CdcStream.fileChangelog(spark, logDir), spec,
      Seq(CdcStream.NamedTableView.distinctCount("v_d", "id", "v")),
      root, ckpt).awaitTermination()
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val cur = new org.apache.hadoop.fs.Path(s"$root/current")
    val lock = new org.apache.hadoop.fs.Path(cur, "_heal_inprogress")
    def marker(n: String) = new org.apache.hadoop.fs.Path(cur, n)
    // 1. no pending markers: the hot path takes NO lock — a stale
    // heal lock left by a dead process does not block consumers that
    // have nothing to heal
    fs.create(lock, true).close()
    assert(CdcStream.healRetrainPending(spark, root) == 0)
    assert(fs.exists(lock), "no-marker path must not touch the lock")
    // 2. pending marker + held lock: bounded wait, then a loud
    // failure naming the lock file (red if the serialization is
    // deleted)
    fs.create(marker("v_d__retrain_pending_7"), true).close()
    val exLock = intercept[IllegalStateException] {
      CdcStream.healRetrainPending(spark, root, lockWaitMs = 300)
    }
    assert(exLock.getMessage.contains("_heal_inprogress"),
      s"lock timeout must name the file: ${exLock.getMessage}")
    fs.delete(lock, false)
    fs.delete(marker("v_d__retrain_pending_7"), false)
    // 3. a foreign/malformed marker-looking file fails loudly NAMING
    // it instead of an opaque MatchError (empty horizon suffix)
    fs.create(marker("junk__retrain_pending_"), true).close()
    val exBad = intercept[IllegalArgumentException] {
      CdcStream.healRetrainPending(spark, root)
    }
    assert(exBad.getMessage.contains("junk__retrain_pending_") &&
             exBad.getMessage.contains("malformed"),
      s"malformed marker must be named: ${exBad.getMessage}")
    assert(!fs.exists(lock), "heal must release its lock on failure")
    fs.delete(marker("junk__retrain_pending_"), false)
    // 4. two CONCURRENT healers on the same committed side copy: the
    // lock serializes them — exactly one installs, the other re-lists
    // under the lock and finds nothing; the installed horizon batch
    // SURVIVES (the destroyed-batch interleave this lock exists for)
    val side = new org.apache.hadoop.fs.Path(
      s"$root/v_d/changes/retrain_tmp_42")
    fs.mkdirs(side)
    fs.create(new org.apache.hadoop.fs.Path(side, "_SUCCESS"), true)
      .close()
    fs.create(new org.apache.hadoop.fs.Path(side, "part-0"), true).close()
    fs.create(marker("v_d__retrain_pending_42"), true).close()
    import java.util.concurrent.{Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(2)
    val healed = (0 until 2).map { _ =>
      pool.submit(new java.util.concurrent.Callable[Int] {
        def call(): Int = CdcStream.healRetrainPending(spark, root)
      })
    }
    pool.shutdown(); pool.awaitTermination(60, TimeUnit.SECONDS)
    assert(healed.map(_.get()).sum == 1,
      "exactly one concurrent healer must install the snapshot")
    val dst = new org.apache.hadoop.fs.Path(
      s"$root/v_d/changes/batch=42")
    assert(fs.exists(new org.apache.hadoop.fs.Path(dst, "_snapshot")) &&
             fs.exists(new org.apache.hadoop.fs.Path(dst, "part-0")),
      "the installed horizon batch must survive concurrent heals")
    assert(!fs.exists(side) && !fs.exists(lock) &&
             !fs.exists(marker("v_d__retrain_pending_42")))
    fs.delete(dst, true) // leave the maintained root as the stream left it
  }

  // ---- registration and layout refusals (cheap: one tiny batch at most)

  private def rootCause(e: Throwable): String = {
    var c: Throwable = e
    while (c.getCause != null) c = c.getCause
    c.getMessage
  }

  /** A two-topic fact(k, fk, grp, price) / dim(ck, name) changelog with
    * one batch, plus the specs. */
  private def tinyJoinLog(tag: String) = {
    import org.apache.spark.sql.types._
    import graft.cdc.TableSpec
    val logDir = tmpDir(s"${tag}log")
    Files.write(java.nio.file.Paths.get(logDir, "b1.json"), (Seq(
      """{"database":"d","table":"fact","type":"insert","ts":1,"data":{"k":1,"fk":10,"grp":"a","price":5.0}}""",
      """{"database":"d","table":"dim","type":"insert","ts":2,"data":{"ck":10,"name":"c10"}}""")
      .mkString("\n") + "\n").getBytes("UTF-8"))
    val lSpec = TableSpec("d", "fact", Seq("k"), StructType(Seq(
      StructField("k", LongType), StructField("fk", LongType),
      StructField("grp", StringType), StructField("price", DoubleType))))
    val rSpec = TableSpec("d", "dim", Seq("ck"), StructType(Seq(
      StructField("ck", LongType), StructField("name", StringType))))
    (logDir, lSpec, rSpec)
  }

  /** Run the multi-view runner over [[tinyJoinLog]] with `view` and
    * return the refusal's root message; nothing may be committed. */
  private def refusedJoinView(tag: String,
                              view: CdcStream.NamedView[_]): String = {
    val (logDir, lSpec, rSpec) = tinyJoinLog(tag)
    val root = tmpDir(s"${tag}state")
    val ex = intercept[Exception] {
      CdcStream.maintainMultiViewToParquet(
        CdcStream.fileChangelog(spark, logDir), lSpec, rSpec,
        lJoinCols = Seq("fk"), Seq(view), root, tmpDir(s"${tag}ckpt"))
        .awaitTermination()
    }
    assert(!Files.exists(java.nio.file.Paths.get(root, "current")),
      "a refused registration must commit no generation")
    rootCause(ex)
  }

  test("multi-view runner refuses a mismatched join shape before the stream starts") {
    import org.apache.spark.sql.types._
    import graft.cdc.TableSpec
    val (logDir, lSpec, rSpec) = tinyJoinLog("shape")
    val views = Seq(CdcStream.NamedView.joinView("jv",
      Seq("k", "fk", "price", "ck", "name"), Seq("k")))
    def start(ls: TableSpec, rs: TableSpec, fk: Seq[String]) =
      CdcStream.maintainMultiViewToParquet(
        CdcStream.fileChangelog(spark, logDir), ls, rs, fk, views,
        tmpDir("shapestate"), tmpDir("shapeckpt"))
    // arity: two join columns against a one-column primary key
    val arity = intercept[IllegalArgumentException] {
      start(lSpec, rSpec, Seq("fk", "price"))
    }
    assert(arity.getMessage.contains("positionally"), arity.getMessage)
    // overlap: the dimension's key is named like the fact's join column
    val rFk = TableSpec("d", "dim", Seq("fk"), StructType(Seq(
      StructField("fk", LongType), StructField("name", StringType))))
    val overlap = intercept[IllegalArgumentException] {
      start(lSpec, rFk, Seq("fk"))
    }
    assert(overlap.getMessage.contains("must not share column names"),
      overlap.getMessage)
  }

  test("joinView registration without the fact's primary key is refused, naming it") {
    val msg = refusedJoinView("jvpk", CdcStream.NamedView.joinView("jv",
      Seq("fk", "price", "ck", "name"), Seq("k")))
    assert(msg.contains("viewCols") && msg.contains("missing k"), msg)
  }

  test("leftJoinView registration without the join column is refused, naming it") {
    val msg = refusedJoinView("ljfk", CdcStream.NamedView.leftJoinView("lj",
      Seq("k", "price", "name"), Seq("k")))
    assert(msg.contains("viewCols") && msg.contains("missing fk"), msg)
  }

  test("joinTopK registration without the join column is refused at bootstrap, naming it") {
    val msg = refusedJoinView("jtkfk", CdcStream.NamedView.joinTopK("jtk",
      Seq("k", "grp", "price"), "grp", "price", 2))
    assert(msg.contains("viewCols") && msg.contains("missing fk"), msg)
  }

  /** A generation laid out as a removed single-view face left it. */
  private def plantFaceGeneration(root: String, entries: Seq[String]): Unit =
    entries.foreach(e => spark.range(1).write.parquet(s"$root/current/$e"))

  test("table runner refuses a root written by a removed single-view face") {
    import org.apache.spark.sql.types._
    import graft.cdc.TableSpec
    val logDir = tmpDir("oldtlog")
    val root = tmpDir("oldtstate")
    Files.write(java.nio.file.Paths.get(logDir, "b1.json"),
      ("""{"database":"d","table":"t","type":"insert","ts":1,"data":{"id":1,"grp":"a","v":1.0}}""" +
        "\n").getBytes("UTF-8"))
    val spec = TableSpec("d", "t", Seq("id"), StructType(Seq(
      StructField("id", LongType), StructField("grp", StringType),
      StructField("v", DoubleType))))
    // the moments face persisted its per-group frame as `state` — the
    // name the table runner reads as the TABLE state
    plantFaceGeneration(root, Seq("state", "view"))
    val ex = intercept[Exception] {
      CdcStream.maintainTableViewsToParquet(
        CdcStream.fileChangelog(spark, logDir), spec,
        Seq(CdcStream.NamedTableView.moments("mom", "grp", "v")),
        root, tmpDir("oldtckpt")).awaitTermination()
    }
    val msg = rootCause(ex)
    assert(msg.contains("maintainTableViewsToParquet") &&
             msg.contains("[view]") && msg.contains("Rebuild") &&
             msg.contains("checkpoint"), msg)
  }

  test("multi-view runner refuses a root written by a removed single-view face") {
    val (logDir, lSpec, rSpec) = tinyJoinLog("oldm")
    val root = tmpDir("oldmstate")
    plantFaceGeneration(root, Seq("left", "right", "agg"))
    val ex = intercept[Exception] {
      CdcStream.maintainMultiViewToParquet(
        CdcStream.fileChangelog(spark, logDir), lSpec, rSpec, Seq("fk"),
        Seq(CdcStream.NamedView.joinAgg("ja", Seq("name"),
          Seq(("price", "price", identity)))),
        root, tmpDir("oldmckpt")).awaitTermination()
    }
    val msg = rootCause(ex)
    assert(msg.contains("maintainMultiViewToParquet") &&
             msg.contains("[agg]") && msg.contains("Rebuild") &&
             msg.contains("checkpoint"), msg)
  }

  test("viewStats refuses a view file that is not a runner face") {
    val ex = intercept[IllegalArgumentException] {
      CdcStream.viewStats(spark, tmpDir("vsroot"), "view")
    }
    assert(ex.getMessage.contains("'view'") &&
             ex.getMessage.contains("<name>__view"), ex.getMessage)
  }
}
