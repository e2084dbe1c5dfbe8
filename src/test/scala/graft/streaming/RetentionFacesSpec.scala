package graft.streaming

import graft.SparkSpec
import graft.cdc.TableSpec
import java.nio.file.Files

/** Round-14: the retention policy (`compactIfNeeded` after every swap)
  * is wired into EVERY changelog-emitting producer face, not just the
  * pair-state trio. One case per newly-wired face family — table-views
  * (single topic, per-view logs), multi-view (two topics), snowflake
  * (three topics), and a single-root join face — each asserting the
  * CompactionSpec contract: the log stays bounded while the producer
  * runs, the fold over the compacted log still equals the live face,
  * and time travel behind the compaction horizon is refused loudly. */
class RetentionFacesSpec extends SparkSpec {

  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"graft_$tag").toString

  private val fs = () => new org.apache.hadoop.fs.Path("/tmp")
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def committedDirs(root: String): Seq[String] = {
    val d = new org.apache.hadoop.fs.Path(s"$root/changes")
    val f = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(d)) Seq.empty
    else f.listStatus(d).map(_.getPath.getName)
      .filter(_.startsWith("batch=")).toSeq.sorted
  }

  private def foldEqualsFace(changesRoot: String,
                             face: org.apache.spark.sql.DataFrame,
                             tag: String): Unit = {
    val folded = CdcStream.viewAsOfBatch(spark, changesRoot, Long.MaxValue)
    assert(folded.collect().map(_.toString).toSet ==
             face.collect().map(_.toString).toSet,
      s"compacted-changelog fold != face for $tag")
  }

  private def refusesBehindHorizon(changesRoot: String): Unit = {
    val e = intercept[IllegalArgumentException](
      CdcStream.viewAsOfBatch(spark, changesRoot, 0L).collect())
    assert(e.getMessage.contains("snapshot") ||
             e.getMessage.contains("pruned"), e.getMessage)
  }

  test("table-views face with retention: per-view logs bounded, fold exact") {
    import org.apache.spark.sql.types._
    val logDir = tmpDir("rtvlog")
    val root = tmpDir("rtvstate")
    val ckpt = tmpDir("rtvckpt")
    val spec = TableSpec("d", "docs", Seq("doc_id"), StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType))))
    def ev(op: String, ts: Long, id: Long, text: String) =
      s"""{"database":"d","table":"docs","type":"$op","ts":$ts,"data":{"doc_id":$id,"text":"$text"}}"""
    def append(name: String, lines: Seq[String]): Unit =
      Files.write(java.nio.file.Paths.get(logDir, name),
        (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    val views = Seq(
      CdcStream.NamedTableView.dupGroups("exact", "doc_id", "text"),
      CdcStream.NamedTableView.tokenFreq("tokfreq", "text"))
    def run(): Unit = CdcStream.maintainTableViewsToParquet(
      CdcStream.fileChangelog(spark, logDir), spec, views, root, ckpt,
      retention = Some((1, 3))).awaitTermination()

    (1 to 6).foreach { i =>
      append(s"b$i.json",
        Seq(ev("insert", i * 10L, i.toLong, s"alpha beta tok$i")))
      run()
      views.foreach { v =>
        assert(committedDirs(s"$root/${v.name}").size <= 4,
          s"${v.name} log grew past the bound: " +
            committedDirs(s"$root/${v.name}"))
      }
    }
    // one dup pair so the exact view is non-trivial, then a delete
    append("b7.json", Seq(ev("insert", 70, 7, "alpha beta tok1")))
    run()
    append("b8.json", Seq(ev("delete", 80, 4, "alpha beta tok4")))
    run()
    views.foreach { v =>
      foldEqualsFace(s"$root/${v.name}",
        CdcStream.readMultiView(spark, root, v.name), v.name)
      refusesBehindHorizon(s"$root/${v.name}")
    }
  }

  test("multi-view face with retention: per-view logs bounded, fold exact") {
    import org.apache.spark.sql.types._
    val logDir = tmpDir("rmvlog")
    val root = tmpDir("rmvstate")
    val ckpt = tmpDir("rmvckpt")
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
        Seq(("price", "price", dec))))
    def run(): Unit = CdcStream.maintainMultiViewToParquet(
      CdcStream.fileChangelog(spark, logDir), lSpec, rSpec, Seq("fk"),
      views, root, ckpt, retention = Some((1, 3))).awaitTermination()

    append("b1.json", Seq(dim("insert", 1, 10, "a"), dim("insert", 1, 20, "b")))
    run()
    (2 to 7).foreach { i =>
      append(s"b$i.json",
        Seq(fact("insert", i * 10L, i.toLong, if (i % 2 == 0) 10 else 20,
                 i.toDouble)))
      run()
      views.foreach { v =>
        assert(committedDirs(s"$root/${v.name}").size <= 4,
          s"${v.name} log grew past the bound: " +
            committedDirs(s"$root/${v.name}"))
      }
    }
    append("b8.json", Seq(fact("delete", 80, 3, 20, 3.0)))
    run()
    views.foreach { v =>
      foldEqualsFace(s"$root/${v.name}",
        CdcStream.readMultiView(spark, root, v.name), v.name)
      refusesBehindHorizon(s"$root/${v.name}")
    }
  }

  test("snowflake face with retention: per-view logs bounded, fold exact") {
    import org.apache.spark.sql.types._
    val logDir = tmpDir("rsflog")
    val root = tmpDir("rsfstate")
    val ckpt = tmpDir("rsfckpt")
    val lSpec = TableSpec("d", "fact", Seq("k"), StructType(Seq(
      StructField("k", LongType), StructField("fk", LongType),
      StructField("price", DoubleType))))
    val mSpec = TableSpec("d", "dim", Seq("ck"), StructType(Seq(
      StructField("ck", LongType), StructField("name", StringType),
      StructField("nk", LongType))))
    val dSpec = TableSpec("d", "dim2", Seq("nk2"), StructType(Seq(
      StructField("nk2", LongType), StructField("region", StringType))))
    def fact(op: String, ts: Long, k: Long, fk: Long, p: Double) =
      s"""{"database":"d","table":"fact","type":"$op","ts":$ts,"data":{"k":$k,"fk":$fk,"price":$p}}"""
    def dim(op: String, ts: Long, ck: Long, name: String, nk: Long) =
      s"""{"database":"d","table":"dim","type":"$op","ts":$ts,"data":{"ck":$ck,"name":"$name","nk":$nk}}"""
    def dim2(op: String, ts: Long, nk2: Long, region: String) =
      s"""{"database":"d","table":"dim2","type":"$op","ts":$ts,"data":{"nk2":$nk2,"region":"$region"}}"""
    def append(name: String, lines: Seq[String]): Unit =
      Files.write(java.nio.file.Paths.get(logDir, name),
        (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    val views = Seq(CdcStream.NamedView.joinView("snow",
      Seq("k", "fk", "price", "name", "nk", "region"), Seq("k")))
    def run(): Unit = CdcStream.maintainSnowflakeViewToParquet(
      CdcStream.fileChangelog(spark, logDir), Seq(lSpec, mSpec, dSpec),
      fks = Seq(Seq("fk"), Seq("nk")), views, root, ckpt,
      retention = Some((1, 3))).awaitTermination()

    append("b1.json", Seq(
      dim("insert", 1, 10, "a", 100), dim("insert", 1, 20, "b", 200),
      dim2("insert", 1, 100, "EU"), dim2("insert", 1, 200, "AS")))
    run()
    (2 to 7).foreach { i =>
      append(s"b$i.json",
        Seq(fact("insert", i * 10L, i.toLong, if (i % 2 == 0) 10 else 20,
                 i.toDouble)))
      run()
      assert(committedDirs(s"$root/snow").size <= 4,
        s"snow log grew past the bound: ${committedDirs(s"$root/snow")}")
    }
    append("b8.json", Seq(dim2("delete", 80, 200, "AS")))
    run()
    foldEqualsFace(s"$root/snow",
      CdcStream.readMultiView(spark, root, "snow"), "snow")
    refusesBehindHorizon(s"$root/snow")
  }

  test("join face with retention: single-root log bounded, fold exact") {
    import org.apache.spark.sql.types._
    val logDir = tmpDir("rjvlog")
    val stateRoot = tmpDir("rjvstate")
    // the multi-view runner's root; the view's own changelog lives under it
    val root = s"$stateRoot/jv"
    val ckpt = tmpDir("rjvckpt")
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
      CdcStream.fileChangelog(spark, logDir), lSpec, rSpec, Seq("fk"),
      Seq(CdcStream.NamedView.joinView("jv",
        Seq("k", "fk", "price", "ck", "grp"), Seq("k"))),
      stateRoot, ckpt, retention = Some((1, 3))).awaitTermination()

    append("b1.json", Seq(dim("insert", 1, 10, "a")))
    run()
    (2 to 7).foreach { i =>
      append(s"b$i.json", Seq(fact("insert", i * 10L, i.toLong, 10,
                                   i.toDouble)))
      run()
      assert(committedDirs(root).size <= 4,
        s"join log grew past the bound: ${committedDirs(root)}")
    }
    append("b8.json", Seq(fact("delete", 80, 3, 10, 3.0)))
    run()
    foldEqualsFace(root, CdcStream.readMultiView(spark, stateRoot, "jv"),
                   "join view")
    refusesBehindHorizon(root)
  }

  test("vector face (ANN) with retention: float arrays bit-exact through the snapshot") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.functions._
    val logDir = tmpDir("rvflog")
    val root = tmpDir("rvfstate")
    val ckpt = tmpDir("rvfckpt")
    val spec = TableSpec("d", "emb", Seq("vec_id"), StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)))))
    // two axis-aligned coarse centroids; vectors near one or the other.
    // Components carry full float mantissas (1/3, 2/7 …) so the
    // snapshot round-trip is a real bit-exactness probe, not just
    // round numbers surviving a decimal print.
    val cents = Seq((0L, Seq(1f, 0f, 0f, 0f)), (1L, Seq(0f, 1f, 0f, 0f)))
    def vec(id: Long): Seq[Float] = {
      val lead = if (id % 2 == 0) 0 else 1
      (0 until 4).map(j =>
        (if (j == lead) 1f else 0f) + (1f / (3f + id + j)))
    }
    def ev(op: String, ts: Long, id: Long) =
      s"""{"database":"d","table":"emb","type":"$op","ts":$ts,"data":{"vec_id":$id,"embedding":[${vec(id).mkString(",")}]}}"""
    def append(name: String, lines: Seq[String]): Unit =
      Files.write(java.nio.file.Paths.get(logDir, name),
        (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    val views = Seq(
      CdcStream.NamedTableView.annIvf("ann", "vec_id", "embedding", cents))
    def run(): Unit = CdcStream.maintainTableViewsToParquet(
      CdcStream.fileChangelog(spark, logDir), spec, views, root, ckpt,
      retention = Some((1, 3))).awaitTermination()

    (1 to 7).foreach { i =>
      append(s"b$i.json", Seq(ev("insert", i * 10L, i.toLong)))
      run()
      assert(committedDirs(s"$root/ann").size <= 4,
        s"ann log grew past the bound: ${committedDirs(s"$root/ann")}")
    }
    append("b8.json", Seq(ev("delete", 80, 4)))
    run()
    // the retained log contains a snapshot (the policy compacted) and
    // the fold reconstructs the assignment face with BIT-exact floats
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Seq[Int])] =
      df.select(col("vec_id"), col("centroid_id"), col("embedding"))
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getSeq[Float](2).map(java.lang.Float.floatToRawIntBits)
            .toSeq)).toSet
    val face = rows(CdcStream.readMultiView(spark, root, "ann"))
    val folded = rows(
      CdcStream.viewAsOfBatch(spark, s"$root/ann", Long.MaxValue))
    assert(face == folded,
      "vector-face fold diverged bit-wise from the live assignment")
    assert(face.map(_._1) == (1L to 7L).toSet - 4L)
    // odd ids lead on axis 1, even on axis 0 — assignment is semantic
    assert(face.forall { case (id, c, _) => c == (if (id % 2 == 0) 0 else 1) })
    refusesBehindHorizon(s"$root/ann")
  }
}
