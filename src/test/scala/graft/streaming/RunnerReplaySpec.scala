package graft.streaming

import graft.SparkSpec
import graft.cdc.{Maxwell, MultiView, SnowflakeView, TableSpec, TableViews}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths}

/** Runner == replay, once per state shape: a runner fed three small
  * Maxwell files one at a time (one streaming batch each, restoring
  * from its persisted generation between them) ends in the same table
  * states and the same faces as the matching replay over the same
  * events, cut at the batch ends. Both fold in the shape's one kernel
  * (`TableViews.fold`, `SnowflakeView.fold`); this holds them there.
  * The pair and chain runners auto-cut each restored batch into
  * one-event windows, so their kernel also prefetches the next window's
  * keys while it steps over the runner's lazily pinned deltas. */
class RunnerReplaySpec extends SparkSpec {

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Rows as a multiset, columns in name order. */
  private def bag(df: DataFrame): Map[String, Int] =
    df.select(df.columns.sorted.map(col).toIndexedSeq: _*).collect()
      .map(_.toString).groupBy(identity).map { case (k, v) => (k, v.length) }

  private def assertSame(what: String, runner: DataFrame,
                         replay: DataFrame): Unit = {
    val (a, b) = (bag(runner), bag(replay))
    assert(a == b, s"$what: runner $a != replay $b")
  }

  /** Lands each batch as its own file and runs `run` after each; returns
    * the whole log decoded per spec, and the cuts at the batch ends. */
  private def landEach(batches: Seq[Seq[(Long, String)]],
                       specs: Seq[TableSpec])(run: String => Unit)
      : (Seq[DataFrame], Seq[Long]) = {
    val logDir = tmpDir("rrlog")
    batches.zipWithIndex.foreach { case (b, i) =>
      Files.write(Paths.get(logDir, s"b$i.json"),
        (b.map(_._2).mkString("\n") + "\n").getBytes("UTF-8"))
      run(logDir)
    }
    val env = Maxwell.parseEnvelopeCol(
      spark.read.schema("value STRING").text(logDir), col("value"))
    (specs.map(CdcStream.changeEvents(env, _)),
     batches.init.map(_.map(_._1).max))
  }

  /** One Maxwell line with its `ts`; `old` carries an update's changed
    * columns' prior values. */
  private def ev(table: String, op: String, ts: Long, data: String,
                 old: String = "") = (ts,
    s"""{"database":"d","table":"$table","type":"$op","ts":$ts,"data":{$data}""" +
      (if (old.isEmpty) "}" else s""","old":{$old}}"""))
  private def fact(op: String, ts: Long, k: Long, fk: Long, p: Double,
                   old: String = "") =
    ev("fact", op, ts, s""""k":$k,"fk":$fk,"price":$p""", old)
  private def dim(op: String, ts: Long, ck: Long, grp: String, nk: Long) =
    ev("dim", op, ts, s""""ck":$ck,"grp":"$grp","nk":$nk""")
  private def dim2(op: String, ts: Long, nkey: Long, region: String) =
    ev("dim2", op, ts, s""""nkey":$nkey,"region":"$region"""")

  private val factSpec = TableSpec("d", "fact", Seq("k"), StructType(Seq(
    StructField("k", LongType), StructField("fk", LongType),
    StructField("price", DoubleType))))
  private val dimSpec = TableSpec("d", "dim", Seq("ck"), StructType(Seq(
    StructField("ck", LongType), StructField("grp", StringType),
    StructField("nk", LongType))))
  private val dim2Spec = TableSpec("d", "dim2", Seq("nkey"), StructType(Seq(
    StructField("nkey", LongType), StructField("region", StringType))))

  /** Three batches over fact → dim → dim2: inserts, a late dimension, a
    * fact update that moves groups, a fact delete and a deep delete. */
  private val chainBatches = Seq(
    Seq(fact("insert", 1, 1, 10, 5.0), fact("insert", 1, 2, 10, 7.0),
        fact("insert", 2, 3, 20, 2.0), dim("insert", 2, 10, "a", 100),
        dim2("insert", 0, 100, "EU"), dim2("insert", 0, 200, "AS")),
    Seq(dim("insert", 4, 20, "b", 200), fact("update", 5, 2, 20, 7.5, """"fk":10,"price":7.0"""),
        fact("insert", 5, 4, 10, 3.0)),
    Seq(fact("delete", 8, 1, 10, 5.0), dim2("delete", 9, 200, "AS"),
        fact("insert", 9, 5, 20, 4.0)))

  private val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(25,10)")

  test("table runner == TableViews.replay over the same batches") {
    val spec = TableSpec("d", "t", Seq("id"), StructType(Seq(
      StructField("id", LongType), StructField("grp", StringType),
      StructField("v", DoubleType))))
    def t(op: String, ts: Long, id: Long, grp: String, v: Double,
          old: String = "") =
      ev("t", op, ts, s""""id":$id,"grp":"$grp","v":$v""", old)
    val batches = Seq(
      Seq(t("insert", 1, 1, "a", 9.0), t("insert", 2, 2, "a", 5.0),
          t("insert", 3, 3, "a", 1.0), t("insert", 4, 4, "b", 4.0)),
      Seq(t("delete", 6, 1, "a", 9.0), t("update", 7, 3, "b", 6.0, """"grp":"a","v":1.0""")),
      Seq(t("insert", 9, 5, "a", 8.0), t("update", 10, 4, "b", 2.0, """"v":4.0""")))
    val views = Seq(
      CdcStream.NamedTableView.topK("top", "grp", "v", k = 2),
      CdcStream.NamedTableView.moments("mom", "grp", "v"))
    val root = tmpDir("rrtable")
    val ckpt = tmpDir("rrtableckpt")
    val (Seq(events), cuts) = landEach(batches, Seq(spec)) { logDir =>
      CdcStream.maintainTableViewsToParquet(
        CdcStream.fileChangelog(spark, logDir), spec, views, root, ckpt)
        .awaitTermination()
    }
    val res = TableViews.replay(events, cuts, spec.primaryKey,
                                views.map(_.maintainer))
    assertSame("table state", spark.read.parquet(s"$root/current/state"),
               res.state)
    views.map(_.asInstanceOf[CdcStream.NamedTableView[Any]]).foreach { v =>
      assertSame(s"face ${v.name}",
        CdcStream.readMultiView(spark, root, v.name),
        v.face(res(v.maintainer)))
    }
  }

  /** The join views' faces: the runner's persisted face against the
    * factory's face over the replay's maintainer state. */
  private def assertFaces(root: String, views: Seq[CdcStream.NamedView[_]])
                         (state: MultiView.Maintainer[Any] => Any): Unit =
    views.map(_.asInstanceOf[CdcStream.NamedView[Any]]).foreach { v =>
      assertSame(s"face ${v.name}",
        CdcStream.readMultiView(spark, root, v.name),
        v.face(state(v.maintainer)))
    }

  test("pair runner == MultiView.replay over the same batches") {
    val pairBatches = chainBatches.map(_.filterNot(_._2.contains("dim2")))
    val views = Seq(
      CdcStream.NamedView.joinAgg("rev", Seq("grp"),
        Seq(("price", "price", dec))),
      CdcStream.NamedView.joinDistinct("nfacts", "grp", "k"))
    val root = tmpDir("rrpair")
    val ckpt = tmpDir("rrpairckpt")
    val (Seq(l, r), cuts) = landEach(pairBatches, Seq(factSpec, dimSpec)) {
      logDir =>
        CdcStream.maintainMultiViewToParquet(
          CdcStream.fileChangelog(spark, logDir), factSpec, dimSpec,
          lJoinCols = Seq("fk"), views, root, ckpt,
          maxEventsPerBatch = Some(1)).awaitTermination()
    }
    val res = MultiView.replay(l, r, cuts, Seq("k"), Seq("ck"), Seq("fk"),
                               views.map(_.maintainer))
    assertSame("left state", spark.read.parquet(s"$root/current/left"),
               res.left)
    assertSame("right state", spark.read.parquet(s"$root/current/right"),
               res.right)
    assertFaces(root, views)(res(_))
  }

  test("chain runner == SnowflakeView.replay over the same batches") {
    val specs = Seq(factSpec, dimSpec, dim2Spec)
    val fks = Seq(Seq("fk"), Seq("nk"))
    val views = Seq(CdcStream.NamedView.joinAgg("rev", Seq("region"),
      Seq(("price", "price", dec))))
    val root = tmpDir("rrchain")
    val ckpt = tmpDir("rrchainckpt")
    val (events, cuts) = landEach(chainBatches, specs) { logDir =>
      CdcStream.maintainSnowflakeViewToParquet(
        CdcStream.fileChangelog(spark, logDir), specs, fks, views, root,
        ckpt, maxEventsPerBatch = Some(1)).awaitTermination()
    }
    val res = SnowflakeView.replay(events, specs.map(_.primaryKey), fks,
                                   cuts, views.map(_.maintainer))
    res.tables.zipWithIndex.foreach { case (st, t) =>
      assertSame(s"table $t state",
        spark.read.parquet(s"$root/current/table_$t"), st)
    }
    assertFaces(root, views)(res(_))
  }
}
