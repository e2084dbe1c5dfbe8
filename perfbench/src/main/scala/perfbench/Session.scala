package perfbench

import org.apache.spark.sql.SparkSession

/** The one Spark application a benchmark run uses, configured like
  * `graft.Bench` so serve queries plan the same way, plus the box record
  * (core count, local width, heap, engine-only sentinel). */
object Session {
  def build(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .appName("graft-perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
              "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
              "64m")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
              "1048576")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Engine-only sentinel: a fixed CPU-bound job touching no graft code.
    * Its drift between the start and the end of a run marks a box whose
    * load changed under the measurement. */
  def sentinel(spark: SparkSession, rows: Long = 50000000L): Double = {
    val (_, s) = Util.timed(
      spark.range(rows).selectExpr("sum(id * 2 + 1) AS s").collect())
    s
  }

  /** End of set-up: collect the set-up garbage, then wait (at most 10 s)
    * until the JIT has compiled nothing for 300 ms, so compiler threads do
    * not compete with the first timed operations. */
  def quiesce(): Unit = {
    System.gc()
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    val deadline = Util.now() + 10
    var last = jit.getTotalCompilationTime
    var quiet = false
    while (!quiet && Util.now() < deadline) {
      Thread.sleep(300)
      val t = jit.getTotalCompilationTime
      quiet = t - last < 10
      last = t
    }
  }

  /** CPU time stolen by the hypervisor, in seconds summed over all CPUs
    * (Linux /proc/stat; 0 elsewhere). A share of steal in a run's wall
    * time marks neighbours competing for the box. */
  def stealS(): Double = scala.util.Try {
    val line = scala.io.Source.fromFile("/proc/stat").getLines().next()
    line.trim.split("\\s+")(8).toDouble / 100.0
  }.getOrElse(0.0)

  def box(spark: SparkSession, cores: Int): Map[String, Any] = Map(
    "nproc" -> Runtime.getRuntime.availableProcessors(),
    "local_width" -> cores,
    "default_parallelism" -> spark.sparkContext.defaultParallelism,
    "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
    "spark_version" -> spark.version,
    "java_version" -> System.getProperty("java.version"))
}
