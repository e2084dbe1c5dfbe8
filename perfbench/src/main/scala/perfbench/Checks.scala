package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, sum}

import graft.streaming.CdcStream

/** Output checks for the ingest workloads that never call a maintainer:
  * the expected table images come from the generator's plan (last event
  * per key up to the last landed batch, deletes dropped) and every
  * expected face is plain Spark SQL over those images. */
object Checks {
  private val pks = Map(
    "orders" -> Seq("o_orderkey"), "customer" -> Seq("c_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_linenumber"))

  /** Register `o`, `c`, `l` (expected images after batch `upTo`) and the
    * join views the expected faces read. */
  def registerImages(spark: SparkSession, inputs: String, upTo: Int): Unit = {
    Seq("orders" -> "o", "customer" -> "c", "lineitem" -> "l").foreach {
      case (t, v) =>
        spark.read.parquet(s"$inputs/plan/$t.parquet")
          .createOrReplaceTempView(s"plan_$v")
        val keys = pks(t).mkString(", ")
        spark.sql(
          s"""SELECT * EXCEPT (__op, __ts, __batch, __r) FROM (
             |  SELECT *, row_number() OVER (PARTITION BY $keys
             |                               ORDER BY __ts DESC) AS __r
             |  FROM plan_$v WHERE __batch <= $upTo)
             |WHERE __r = 1 AND __op <> 'delete'""".stripMargin)
          .localCheckpoint().createOrReplaceTempView(v)
    }
    spark.sql("SELECT * FROM o JOIN c ON o.o_custkey = c.c_custkey")
      .createOrReplaceTempView("oc")
  }

  private val dec = "decimal(25,10)"

  /** (face, runner, expected SQL). Columns the SQL names are compared;
    * the face may carry more. */
  val faces: Seq[(String, String, String)] = Seq(
    ("status_topk", "table",
     """SELECT o_orderstatus, rk, o_orderkey, o_totalprice FROM (
       |  SELECT *, row_number() OVER (PARTITION BY o_orderstatus
       |                               ORDER BY o_totalprice DESC) AS rk
       |  FROM o) WHERE rk <= 3""".stripMargin),
    ("status_customers", "table",
     """SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_distinct_o_custkey
       |FROM o GROUP BY o_orderstatus""".stripMargin),
    ("status_price", "table",
     """SELECT o_orderstatus, min(o_totalprice) AS min_o_totalprice,
       |       max(o_totalprice) AS max_o_totalprice
       |FROM o GROUP BY o_orderstatus""".stripMargin),
    ("status_moments", "table",
     """SELECT o_orderstatus, count(*) AS n_rows,
       |  sum(CAST(o_totalprice AS decimal(18,8))) AS sum_o_totalprice,
       |  sum(CAST(o_totalprice AS decimal(18,8)) *
       |      CAST(o_totalprice AS decimal(18,8))) AS sumsq_o_totalprice
       |FROM o GROUP BY o_orderstatus""".stripMargin),
    ("nation_topk", "multi",
     """SELECT c_nationkey, rk, o_orderkey, o_totalprice FROM (
       |  SELECT *, row_number() OVER (PARTITION BY c_nationkey
       |                               ORDER BY o_totalprice DESC) AS rk
       |  FROM oc) WHERE rk <= 3""".stripMargin),
    ("orders_left", "multi",
     """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, c_name,
       |       c_acctbal
       |FROM o LEFT JOIN c ON o.o_custkey = c.c_custkey""".stripMargin),
    ("nation_agg", "multi",
     s"""SELECT c_nationkey, count(*) AS n_rows,
        |  sum(CAST(o_totalprice AS $dec)) AS sum_o_totalprice,
        |  sum(CAST(c_acctbal AS $dec)) AS sum_c_acctbal,
        |  sum(CAST(o_totalprice AS decimal(12,3)) *
        |      CAST(o_totalprice AS decimal(12,3))) AS sum_price_sq
        |FROM oc GROUP BY c_nationkey""".stripMargin),
    ("nation_customers", "multi",
     """SELECT c_nationkey, count(DISTINCT o_custkey) AS n_distinct_o_custkey
       |FROM oc GROUP BY c_nationkey""".stripMargin),
    ("nation_prices", "multi",
     """SELECT c_nationkey,
       |       count(DISTINCT o_totalprice) AS n_distinct_o_totalprice
       |FROM oc GROUP BY c_nationkey""".stripMargin),
    ("customer_revenue", "multi", revenueByCustomer),
    ("nation_revenue", "snowflake", revenueByNation))

  def revenueByCustomer: String =
    s"""SELECT o_custkey, count(*) AS n_rows,
       |  sum(CAST(o_totalprice AS $dec)) AS sum_revenue
       |FROM oc GROUP BY o_custkey""".stripMargin
  def revenueByNation: String =
    s"""SELECT c_nationkey, count(*) AS n_rows,
       |  sum(CAST(l_extendedprice * (1.0 - l_discount) AS $dec))
       |    AS sum_revenue
       |FROM l JOIN oc ON l.l_orderkey = oc.o_orderkey
       |GROUP BY c_nationkey""".stripMargin

  /** Table states per runner: (runner, generation file, image). */
  val states: Seq[(String, String, String)] = Seq(
    ("table", "state", "o"),
    ("multi", "left", "o"), ("multi", "right", "c"),
    ("snowflake", "table_0", "l"), ("snowflake", "table_1", "o"),
    ("snowflake", "table_2", "c"))

  /** Compare `actual` with `expected` on the expected columns (cast to
    * the expected types); None when equal as multisets. */
  def diff(expected: DataFrame, actual: DataFrame): Option[String] = {
    val missing = expected.columns.filterNot(actual.columns.contains)
    if (missing.nonEmpty)
      return Some(s"missing columns ${missing.mkString(",")} " +
        s"(has ${actual.columns.mkString(",")})")
    // one job: rows tagged +1 (actual) / -1 (expected) must cancel
    val cols = expected.columns.toSeq
    val a = actual.select(expected.schema.fields.toSeq.map(f =>
      col(f.name).cast(f.dataType).as(f.name)) :+ lit(1L).as("__n"): _*)
    val e = expected.select(cols.map(col) :+ lit(-1L).as("__n"): _*)
    val off = a.unionByName(e).groupBy(cols.map(col): _*)
      .agg(sum(col("__n")).as("__n")).filter(col("__n") =!= 0)
      .limit(4).collect()
    if (off.isEmpty) None
    else Some("rows off by count (+actual/-expected): " + off.mkString(" "))
  }

  /** Check every table state, face and mirror table of `es` against the
    * plan after batch `upTo`; failures go to `rec`. */
  def ingest(spark: SparkSession, inputs: String, es: Estate, upTo: Int,
             rec: Recorder): Unit = {
    registerImages(spark, inputs, upTo)
    type Check = (String, () => DataFrame, () => DataFrame)
    val checks: Seq[Check] =
      states.map { case (r, file, img) =>
        (s"$r state $file",
         () => CdcStream.readCurrentState(spark,
                 s"${es.root(r)}/current/$file"),
         () => spark.table(img))
      } ++ faces.map { case (face, r, sql) =>
        (s"$r face $face",
         () => CdcStream.readMultiView(spark, es.root(r), face),
         () => spark.sql(sql))
      } ++ Views.mirrors.map { case (_, view, _, table) =>
        val sql = if (view == "nation_revenue") revenueByNation
                  else revenueByCustomer
        (s"mirror $table",
         () => spark.read.jdbc(es.url, es.jdbcTable(table),
                               new java.util.Properties()),
         () => spark.sql(sql))
      }
    // independent jobs: run them a few at a time
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      checks.map { case (what, actual, expected) =>
        pool.submit(new Runnable {
          def run(): Unit = {
            rec.attempt()
            try diff(expected(), actual()).foreach(d =>
              rec.fail(s"check $what: $d"))
            catch { case e: Throwable => rec.fail(s"check $what: $e") }
          }
        })
      }.foreach(_.get())
    } finally pool.shutdown()
  }
}
