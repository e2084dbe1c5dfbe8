package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's collector: one SparkListener, one
  * StreamingQueryListener and one QueryExecutionListener, plus Hadoop
  * FileSystem statistics snapshots per cycle.
  *
  * Every benchmark step runs inside a span; the span id rides on the
  * thread's Spark local properties, so every job a step submits (a
  * streaming query's jobs too: its thread inherits them at start) carries
  * it. Jobs are then attributed to a layer by the graft source file of
  * their call site. Everything stays in memory until [[report]]. */
final class SpanTracer(spark: SparkSession) extends Tracer {
  import SpanTracer._

  private val sc = spark.sparkContext
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  val progress = new ConcurrentLinkedQueue[Progress]()
  val planning = new ConcurrentLinkedQueue[(Double, Double)]()
  val fsCycles = new ConcurrentLinkedQueue[(Int, Map[String, Long])]()
  private val fsAtStart = new java.util.concurrent.ConcurrentHashMap[Int, Map[String, Long]]()
  private val cycleSpans =
    new java.util.concurrent.ConcurrentHashMap[Int, (Double, Double)]()
  private val current = new ThreadLocal[Option[Span]] {
    override def initialValue(): Option[Span] = None
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      val site = e.stageInfos.sortBy(_.stageId).lastOption
        .map(s => s.name + "\n" + s.details).getOrElse("")
      jobs.put(e.jobId, Job(e.jobId, e.time / 1e3, Double.NaN,
        prop(SpanKey).map(_.toLong), prop("sql.streaming.queryId"),
        prop("streaming.sql.batchId").map(_.toLong), layerOf(site)))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time / 1e3)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      Option(stageJob.get(info.stageId)).flatMap(j => Option(jobs.get(j)))
        .foreach { j =>
          val m = info.taskMetrics
          j.synchronized {
            j.stages += 1
            j.tasks += info.numTasks
            if (m != null) {
              j.taskS += m.executorRunTime / 1e3
              j.gcS += m.jvmGCTime / 1e3
              j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
            }
          }
        }
    }
  }

  private val streamListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue / 1e3 }
      progress.add(Progress(p.id.toString, p.batchId, p.numInputRows,
        d.toMap))
    }
  }

  private val qeListener = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    // the callback carries no span: it is matched to the span open on
    // the serial serve client when it arrives
    private def record(qe: QueryExecution): Unit =
      planning.add((Util.wallS(),
                    qe.tracker.phases.values.map(_.durationMs).sum / 1e3))
  }

  /** Stack sampler: every [[SampleMs]] it reads the stacks of the
    * threads working for an open span (the span's own thread, and the
    * execution thread of a streaming query bound to it) and charges the
    * sample to the layer of the innermost graft frame. Lazy plans make a
    * job's call site name only the action that forced it; the stack of
    * the thread blocked on a job names the graft code that waits on it. */
  private val spanThreads =
    new java.util.concurrent.ConcurrentHashMap[Thread, java.lang.Long]()
  private val querySpans =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  val samples = new ConcurrentLinkedQueue[(Double, Long, String)]()
  @volatile private var sampling = true
  private val sampler = new Thread("perfbench-sampler") {
    setDaemon(true)
    override def run(): Unit = while (sampling) {
      val t = Util.wallS()
      samples.add((t, -1L, "tick"))
      spanThreads.asScala.foreach { case (th, sp) =>
        samples.add((t, sp.longValue, stackLayer(th.getStackTrace)))
      }
      if (!querySpans.isEmpty) streamThreads().foreach { case (th, sp) =>
        samples.add((t, sp, stackLayer(th.getStackTrace)))
      }
      Thread.sleep(SampleMs)
    }
  }
  /** Live streaming execution threads of bound queries, with their span. */
  private def streamThreads(): Seq[(Thread, Long)] = {
    var g = Thread.currentThread.getThreadGroup
    while (g.getParent != null) g = g.getParent
    val all = new Array[Thread](g.activeCount() * 2 + 16)
    val n = g.enumerate(all, true)
    all.take(n).toSeq.flatMap { th =>
      val name = th.getName
      if (!name.startsWith("stream execution thread for")) None
      else querySpans.asScala.collectFirst {
        case (q, sp) if name.contains(q) => (th, sp.longValue)
      }
    }
  }
  sampler.start()

  /** Charge a streaming query's execution thread to the open span. */
  def bindQuery(id: String): Unit =
    Option(sc.getLocalProperty(SpanKey)).foreach { sp =>
      querySpans.put(id, sp.toLong)
      // the calling thread only waits for the query from here on
      spanThreads.remove(Thread.currentThread)
    }

  sc.addSparkListener(sparkListener)
  spark.streams.addListener(streamListener)
  spark.listenerManager.register(qeListener)

  def span[T](name: String, cycle: Int)(f: => T): T = {
    val parent = current.get()
    val s = Span(ids.incrementAndGet(), name, cycle,
                 parent.map(_.id), Util.wallS(), Double.NaN)
    spans.add(s)
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, s.id.toString)
    current.set(Some(s))
    val th = Thread.currentThread
    val prevSpan = spanThreads.put(th, s.id)
    try f
    finally {
      if (prevSpan == null) spanThreads.remove(th)
      else spanThreads.put(th, prevSpan)
      s.end = Util.wallS()
      sc.setLocalProperty(SpanKey, prev)
      current.set(parent)
    }
  }

  def beginCycle(cycle: Int): Unit = {
    fsAtStart.put(cycle, fsStats())
    cycleSpans.put(cycle, (Util.wallS(), Double.NaN))
  }
  def endCycle(cycle: Int): Unit =
    Option(fsAtStart.get(cycle)).foreach { s0 =>
      cycleSpans.put(cycle, (cycleSpans.get(cycle)._1, Util.wallS()))
      val s1 = fsStats()
      fsCycles.add(cycle -> s1.map { case (k, v) => k -> (v - s0.getOrElse(k, 0L)) })
    }

  /** Wait until the listener buses have delivered what the run posted
    * (they are asynchronous), then detach. */
  def close(): Unit = {
    sampling = false
    sampler.join(1000)
    sc.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
  }

  def settle(): Unit = {
    // the buses deliver asynchronously; jobs end before their event lands
    val deadline = Util.now() + 5
    while (Util.now() < deadline &&
           jobs.values.asScala.exists(_.end.isNaN)) Thread.sleep(50)
    Thread.sleep(300)
  }

  /** Everything collected, as record entries: spans, jobs with their
    * stage totals, stack samples, streaming progress, planning time per
    * SQL execution and file-system byte counters per cycle. */
  def report(): Map[String, Any] = {
    settle()
    Map(
      "spans" -> spans.asScala.toSeq.map(s => Map(
        "id" -> s.id, "name" -> s.name, "cycle" -> s.cycle,
        "parent" -> s.parent, "start" -> s.start, "end" -> s.end)),
      "jobs" -> jobs.values.asScala.toSeq.sortBy(_.id).map(j => Map(
        "id" -> j.id, "start" -> j.start, "end" -> j.end, "span" -> j.span,
        "query" -> j.query, "batch" -> j.batch, "layer" -> j.layer,
        "stages" -> j.stages, "tasks" -> j.tasks,
        "task_s" -> j.taskS, "gc_s" -> j.gcS,
        "shuffle_bytes" -> j.shuffleBytes)),
      "samples" -> samples.asScala.toSeq.map { case (t, sp, l) =>
        Seq(t, sp, l) },
      "progress" -> progress.asScala.toSeq.map(p => Map(
        "query" -> p.query, "batch" -> p.batch, "rows" -> p.rows,
        "durations_s" -> p.durations)),
      "planning" -> planning.asScala.toSeq,
      "fs_cycles" -> fsCycles.asScala.toSeq.map { case (c, m) =>
        Map("cycle" -> c, "start" -> cycleSpans.get(c)._1,
            "end" -> cycleSpans.get(c)._2) ++ m })
  }
}

object SpanTracer {
  val SpanKey = "perfbench.span"
  val SampleMs = 25L

  /** Layer of the innermost graft frame of a stack; `bench` for the
    * benchmark's own code, `spark` when no graft frame is on it. */
  def stackLayer(st: Array[StackTraceElement]): String =
    st.find(e => e.getClassName.startsWith("graft.") ||
                 e.getClassName.startsWith("perfbench.")) match {
      case Some(e) if e.getClassName.startsWith("perfbench.") => "bench"
      case Some(e) =>
        val pkg = e.getClassName.split('.')(1)
        fileLayer(Option(e.getFileName).getOrElse("").stripSuffix(".scala"),
                  pkg) + (if (planningOn(st)) "+plan" else "")
      case None => "spark"
    }

  /** True when the thread is in Catalyst analysis, optimization or
    * physical planning rather than waiting on a job. */
  private def planningOn(st: Array[StackTraceElement]): Boolean = {
    val i = st.indexWhere(e =>
      e.getClassName.endsWith("QueryPlanningTracker") &&
        e.getMethodName == "measurePhase")
    i >= 0 && !st.take(i).exists(e =>
      e.getClassName.startsWith("org.apache.spark.scheduler."))
  }

  final case class Span(id: Long, name: String, cycle: Int,
                        parent: Option[Long], start: Double,
                        var end: Double)

  final case class Job(id: Int, start: Double, var end: Double,
                       span: Option[Long], query: Option[String],
                       batch: Option[Long], layer: String) {
    var stages = 0
    var tasks = 0L
    var taskS = 0.0
    var gcS = 0.0
    var shuffleBytes = 0L
  }

  final case class Progress(query: String, batch: Long, rows: Long,
                            durations: Map[String, Double])

  /** Layer of a job from the graft file named in its call site: the
    * short form names the first frame outside Spark, the long form
    * (stage details) the frames under it. */
  private val graftFrame = """graft\.([a-z]+)\.[A-Za-z$]+.*\(([A-Za-z]+)\.scala""".r
  def layerOf(site: String): String = {
    val files = site.split("\n").toSeq.flatMap { line =>
      graftFrame.findFirstMatchIn(line).map(_.group(2))
    }
    files.headOption.map(fileLayer(_, "")).getOrElse {
      if (site.contains("perfbench.")) "bench" else "spark"
    }
  }
  def fileLayer(file: String, pkg: String): String = file match {
    case "Maxwell" | "Sources" => "sources.parse"
    case "RowDecoder" => "cdc.decode"
    case "Materializer" => "cdc.merge"
    case "MultiView" | "TableViews" | "SnowflakeView" => "cdc.ctx"
    case "CdcStream" => "streaming.write"
    case "ChangelogGen" => "serve.lib"
    case f if f.endsWith("Queries") => "serve.ops"
    case _ if pkg == "cdc" => "cdc.fold" // the view maintainers
    case _ => "serve.lib"
  }

  def fsStats(): Map[String, Long] = {
    val st = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    Map("bytes_written" -> st.map(_.getBytesWritten).sum,
        "bytes_read" -> st.map(_.getBytesRead).sum)
  }
}
