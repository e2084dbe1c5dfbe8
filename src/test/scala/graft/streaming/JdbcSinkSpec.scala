package graft.streaming

import graft.SparkSpec
import graft.cdc.ChangelogGen
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** CDC -> embedded-Derby JDBC sink E2E (BASELINE.json spark_approach). */
class JdbcSinkSpec extends SparkSpec {

  test("streaming replay materializes into a JDBC table") {
    val dbDir = Files.createTempDirectory("derby").toString
    val url = s"jdbc:derby:$dbDir/graftdb;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver")

    val logDir = Files.createTempDirectory("jdbclog").toString
    val ckpt = Files.createTempDirectory("jdbcckpt").toString
    ChangelogGen.ordersChangelog(spark, sfDir).select("value")
      .coalesce(1).write.mode("overwrite").text(logDir)

    val envelope = CdcStream.fileChangelog(spark, logDir)
      .withColumn("seq", lit(0L))
    CdcStream.materializeToJdbc(envelope, ChangelogGen.ordersSpec,
      url, "orders_state", ckpt, props).awaitTermination()

    val got = graft.cdc.Materializer.liveView(
      spark.read.jdbc(url, "orders_state", props))
    val want = ChangelogGen.ordersState(spark, sfDir)
    assert(got.count() == want.count())
    // Derby TIMESTAMP round-trips at micros; compare on a stable subset
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    assert(got.select(cols.map(col): _*)
      .exceptAll(want.select(cols.map(col): _*)).count() == 0)
  }

  test("incremental JDBC view serving: |delta| DML, catch-up, exactly-once marker") {
    import org.apache.spark.sql.types._
    import graft.cdc.TableSpec
    val dbDir = Files.createTempDirectory("derbyv").toString
    val url = s"jdbc:derby:$dbDir/graftdb;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver")
    val logDir = Files.createTempDirectory("jvslog").toString
    val stateRoot = Files.createTempDirectory("jvsroot").toString
    // the table runner's root; the view's own changelog lives under it
    val root = s"$stateRoot/topk"
    val ckpt = Files.createTempDirectory("jvsckpt").toString
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
      Seq(CdcStream.NamedTableView.topK("topk", "grp", "v", 2)),
      stateRoot, ckpt).awaitTermination()
    def served(): Set[(String, Int, Long, Double)] =
      spark.read.jdbc(url, "topk_view", props)
        .select(col("grp"), col("rk"), col("id"), col("v")).collect()
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2),
                   r.getDouble(3))).toSet
    def viewNow(): Set[(String, Int, Long, Double)] =
      CdcStream.readMultiView(spark, stateRoot, "topk")
        .select(col("grp"), col("rk"), col("id"), col("v")).collect()
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2),
                   r.getDouble(3))).toSet
    def apply(): Long = CdcStream.applyViewChangesToJdbc(spark, root,
      Seq("grp", "rk"), url, "topk_view", props)
    // batch 0: ranks fill; first apply creates the table and seeds it
    append("b1.json", Seq(
      ev("insert", 1, 1, "a", 9.0), ev("insert", 2, 2, "a", 5.0),
      ev("insert", 3, 3, "a", 1.0)))
    run()
    assert(apply() > 0)
    assert(served() == viewNow())
    // idempotence: nothing new -> zero DML (the progress marker holds)
    assert(apply() == 0L)
    // batches 1+2 accumulate BEFORE serving: catch-up applies the LAST
    // change per rank slot only (promote-on-delete lands as updates)
    append("b2.json", Seq(ev("delete", 5, 1, "a", 9.0)))
    run()
    append("b3.json", Seq(ev("insert", 7, 4, "b", 4.0)))
    run()
    val applied = apply()
    assert(applied == 3L,
      s"catch-up must compact to one DML per touched slot (a1, a2, b1), got $applied")
    assert(served() == viewNow())
    assert(apply() == 0L)
    // retention pruned PAST this consumer: the catch-up must fail loudly
    // (a silent partial fold would corrupt the serving table). Progress
    // is at batch 2; generate batch 3 and 4, then prune everything below
    // 4 — batch 3 is lost to this consumer.
    append("b4.json", Seq(ev("insert", 9, 5, "b", 6.0)))
    run()
    append("b5.json", Seq(ev("insert", 11, 6, "b", 8.0)))
    run()
    assert(CdcStream.pruneViewChanges(spark, root, keepFrom = 4L) > 0)
    val e = intercept[IllegalArgumentException] { apply() }
    assert(e.getMessage.contains("changelog gap"), e.getMessage)
  }

  test("concurrent producer: a torn (uncommitted) batch dir is invisible") {
    import org.apache.spark.sql.types.{StructType, StructField, StringType,
                                       IntegerType, DoubleType}
    val dbDir = Files.createTempDirectory("derbyt").toString
    val url = s"jdbc:derby:$dbDir/graftdb;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver")
    val root = Files.createTempDirectory("tornroot").toString
    val imgType = StructType(Seq(
      StructField("grp", StringType), StructField("rk", IntegerType),
      StructField("v", DoubleType)))
    def writeBatch(id: Long, rows: Seq[(String, Int, Double, String)]): Unit = {
      import spark.implicits._
      rows.toDF("grp", "rk", "v", "opc")
        .select(col("grp"), col("rk"), col("opc").as("op"),
                lit(null).cast(imgType).as("before"),
                struct(col("grp"), col("rk"), col("v")).as("after"))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$root/changes/batch=$id")
    }
    def served(): Set[(String, Int, Double)] =
      spark.read.jdbc(url, "torn_view", props)
        .select(col("grp"), col("rk"), col("v")).collect()
        .map(r => (r.getString(0), r.getInt(1), r.getDouble(2))).toSet
    def apply(): Long = CdcStream.applyViewChangesToJdbc(spark, root,
      Seq("grp", "rk"), url, "torn_view", props)

    writeBatch(0, Seq(("a", 1, 9.0, "insert"), ("a", 2, 5.0, "insert")))
    assert(apply() == 2L)
    assert(served() == Set(("a", 1, 9.0), ("a", 2, 5.0)))
    // a concurrent producer mid-writing batch=1: parquet bytes half
    // flushed, NO _SUCCESS marker yet. The consumer must neither apply
    // it nor advance the progress marker past it — and the garbage file
    // must never even be footer-read.
    val torn = java.nio.file.Paths.get(root, "changes", "batch=1")
    Files.createDirectories(torn)
    Files.write(torn.resolve("part-00000.parquet"),
                "not a parquet file".getBytes("UTF-8"))
    assert(apply() == 0L, "torn batch must be invisible to the consumer")
    assert(served() == Set(("a", 1, 9.0), ("a", 2, 5.0)))
    // the producer finishes (overwrite lands real files + _SUCCESS):
    // the SAME batch must now be drained — the earlier call cannot have
    // recorded it as applied
    writeBatch(1, Seq(("a", 1, 9.5, "update")))
    assert(apply() == 1L,
      "the committed batch must drain after the torn window closes")
    assert(served() == Set(("a", 1, 9.5), ("a", 2, 5.0)))
  }

  test("viewAsOfBatch refuses a pruned prefix; tolerates a torn tail") {
    import org.apache.spark.sql.types.{StructType, StructField, StringType,
                                       IntegerType, DoubleType}
    val root = Files.createTempDirectory("asofroot").toString
    val imgType = StructType(Seq(
      StructField("grp", StringType), StructField("rk", IntegerType),
      StructField("v", DoubleType)))
    def writeBatch(id: Long, rows: Seq[(String, Int, Double, String)]): Unit = {
      import spark.implicits._
      rows.toDF("grp", "rk", "v", "opc")
        .select(col("grp"), col("rk"), col("opc").as("op"),
                lit(null).cast(imgType).as("before"),
                struct(col("grp"), col("rk"), col("v")).as("after"))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$root/changes/batch=$id")
    }
    writeBatch(0, Seq(("a", 1, 9.0, "insert")))
    writeBatch(1, Seq(("a", 1, 9.5, "update")))
    def asOf(b: Long): Set[(String, Int, Double)] =
      CdcStream.viewAsOfBatch(spark, root, b)
        .select(col("grp"), col("rk"), col("v")).collect()
        .map(r => (r.getString(0), r.getInt(1), r.getDouble(2))).toSet
    assert(asOf(0) == Set(("a", 1, 9.0)))
    assert(asOf(1) == Set(("a", 1, 9.5)))
    // torn tail: an uncommitted batch=2 must not poison reconstruction
    val torn = java.nio.file.Paths.get(root, "changes", "batch=2")
    Files.createDirectories(torn)
    Files.write(torn.resolve("part-00000.parquet"),
                "garbage".getBytes("UTF-8"))
    assert(asOf(2) == Set(("a", 1, 9.5)),
      "uncommitted tail batch must be invisible to time travel")
    // pruned prefix: reconstruction folds from empty and needs batch 0 —
    // after retention drops it, as-of must fail loudly, not silently
    // miss the keys whose last change was pruned
    assert(CdcStream.pruneViewChanges(spark, root, keepFrom = 1L) == 1)
    val e = intercept[IllegalArgumentException] { asOf(1) }
    assert(e.getMessage.contains("prefix pruned"), e.getMessage)
  }

  test("a multi-view face serves into JDBC off its own changelog") {
    import org.apache.spark.sql.types._
    import graft.cdc.TableSpec
    val dbDir = Files.createTempDirectory("derbymv").toString
    val url = s"jdbc:derby:$dbDir/graftdb;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver")
    val logDir = Files.createTempDirectory("mvjlog").toString
    val root = Files.createTempDirectory("mvjroot").toString
    val ckpt = Files.createTempDirectory("mvjckpt").toString
    val spec = TableSpec("d", "t", Seq("id"), StructType(Seq(
      StructField("id", LongType), StructField("grp", StringType),
      StructField("v", DoubleType))))
    def ev(op: String, ts: Long, id: Long, grp: String, v: Double) =
      s"""{"database":"d","table":"t","type":"$op","ts":$ts,"data":{"id":$id,"grp":"$grp","v":$v}}"""
    def append(name: String, lines: Seq[String]): Unit =
      Files.write(java.nio.file.Paths.get(logDir, name),
        (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    val views = Seq(CdcStream.NamedTableView.distinctCount("nids", "grp", "id"))
    def run(): Unit = CdcStream.maintainTableViewsToParquet(
      CdcStream.fileChangelog(spark, logDir), spec, views, root, ckpt)
      .awaitTermination()
    // the per-view changelog root is <root>/<name> — the SAME layout the
    // JDBC server drains, so dashboard serving composes with no glue
    def applyJ(): Long = CdcStream.applyViewChangesToJdbc(spark,
      s"$root/nids", Seq("grp"), url, "nids_view", props)
    def served(): Set[(String, Long)] =
      spark.read.jdbc(url, "nids_view", props).collect()
        .map(r => (r.getAs[String]("grp"),
                   r.getAs[Long]("n_distinct_id"))).toSet
    append("b1.json", Seq(
      ev("insert", 1, 1, "a", 9.0), ev("insert", 2, 2, "a", 5.0),
      ev("insert", 3, 3, "b", 1.0)))
    run()
    assert(applyJ() > 0)
    assert(served() == Set(("a", 2L), ("b", 1L)))
    assert(applyJ() == 0L)
    append("b2.json", Seq(ev("delete", 5, 2, "a", 5.0)))
    run()
    assert(applyJ() == 1L, "only the touched group pays DML")
    assert(served() == Set(("a", 1L), ("b", 1L)))
  }

  test("table identifiers are validated before reaching SQL text") {
    val root = Files.createTempDirectory("idroot").toString
    val props = new java.util.Properties()
    val e = intercept[IllegalArgumentException] {
      CdcStream.applyViewChangesToJdbc(spark, root, Seq("k"),
        "jdbc:derby:memory:unused", "v; DROP TABLE users", props)
    }
    assert(e.getMessage.contains("illegal SQL table identifier"),
           e.getMessage)
  }
}
