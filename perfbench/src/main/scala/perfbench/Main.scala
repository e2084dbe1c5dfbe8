package perfbench

/** Entry point of one benchmark run inside the JVM. `run.py` generates
  * the inputs, starts this main, and turns the record it writes into the
  * benchmark's result line.
  *
  * Arguments (all `--name value`): `workload`, `inputs` (generated input
  * set), `work` (scratch root for state, checkpoints and the mirror DB),
  * `out` (result record path), `seconds`, `trace` (0|1), `cores`,
  * `t0-ms` (wall clock when the run's process started). */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = a("workload")
    val seconds = a("seconds").toDouble
    val cores = a("cores").toInt
    val traced = a.getOrElse("trace", "0") == "1"
    val t0Ms = a("t0-ms").toLong
    val work = a("work")
    val rec = new Recorder
    val (spark, sessionS) = Util.timed(Session.build(cores, work))
    val tracer: Tracer =
      if (traced) new SpanTracer(spark) else Tracer.Off
    val out = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "box" -> Session.box(spark, cores),
      "session_s" -> sessionS, "traced" -> traced)
    try {
      out ++= (workload match {
        case "serve" =>
          new Serve(spark, a("inputs"), work, rec, tracer)
            .run(seconds, t0Ms, a.get("queries"))
        case "ingest_steady" =>
          Workloads.steady(spark, a("inputs"), work, rec, tracer, seconds,
                           t0Ms)
        case "ingest_rebuild" =>
          Workloads.rebuild(spark, a("inputs"), work, rec, tracer, seconds,
                            t0Ms)
        case other => throw new IllegalArgumentException(
          s"unknown workload '$other'")
      })
      tracer match {
        case t: SpanTracer => out("trace") = t.report()
        case _ =>
      }
    } catch {
      case e: Throwable =>
        rec.fail(s"run aborted: $e")
        e.printStackTrace()
    } finally {
      out("attempted") = rec.attempted
      out("failed") = rec.failed
      out("failures") = rec.failures.take(20).toSeq
      out("setup_phases") = rec.setupPhases
      out("samples") = rec.samples.map { case (k, v) => k -> v.toSeq }
      out("sums") = rec.sums
      Util.writeText(a("out"), Util.json(out) + "\n")
      tracer match {
        case t: SpanTracer => t.close()
        case _ =>
      }
      spark.stop()
    }
  }
}
