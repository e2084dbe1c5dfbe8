package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable

/** Small helpers shared by the workloads: a clock, order statistics, a
  * minimal JSON writer and file moves. */
object Util {
  def now(): Double = System.nanoTime() / 1e9
  def wallMs(): Long = System.currentTimeMillis()
  def wallS(): Double = System.currentTimeMillis() / 1e3

  def timed[T](f: => T): (T, Double) = {
    val t0 = now()
    val r = f
    (r, now() - t0)
  }

  /** Linear-interpolated percentile (q in [0, 1]) of a non-empty sample. */
  def pct(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** Harrell-Davis estimate of the q quantile: the mean of all order
    * statistics weighted by the Beta(q(n+1), (1-q)(n+1)) mass over
    * ((i-1)/n, i/n]. On a small sample it moves far less from run to run
    * than [[pct]], which reads one or two order statistics. Falls back to
    * [[pct]] where that density is unbounded (samples under 1/(1-q)). */
  def hdQuantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val n = s.size
    val a = q * (n + 1)
    val b = (1 - q) * (n + 1)
    if (a < 1 || b < 1) pct(xs, q)
    else {
      // midpoint rule, 1000 steps per order statistic
      val steps = 1000 * n
      val w = new Array[Double](n)
      for (k <- 0 until steps) {
        val t = (k + 0.5) / steps
        w(k / 1000) += math.exp((a - 1) * math.log(t) + (b - 1) * math.log1p(-t))
      }
      val total = w.sum
      s.indices.map(i => s(i) * w(i) / total).sum
    }
  }

  /** The highest percentile (whole percent, at least p50) that leaves at
    * least `minBeyond` samples above it, or the maximum (p100) when the
    * sample is too small for that; with the percentile and sample count. */
  def tail(xs: Seq[Double], minBeyond: Int = 10): (Double, Int, Int) = {
    val n = xs.size
    (99 to 50 by -1).find(p => n - math.ceil(n * p / 100.0).toInt
                                 >= minBeyond) match {
      case Some(p) => (pct(xs, p / 100.0), p, n)
      case None => (xs.max, 100, n)
    }
  }

  /** JSON value rendering for Scala maps, sequences, strings, numbers
    * and booleans (enough for the result records). */
  def json(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case o: Option[_] => o.map(json).getOrElse("null")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + json(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case p: Product if p.productArity == 2 =>
      json(Seq(p.productElement(0), p.productElement(1)))
    case other => quote(other.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def writeText(path: String, text: String): Unit = {
    val p = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.write(p, text.getBytes(UTF_8))
  }

  /** Land a file in a watched directory atomically: copy next to it
    * under a dot name (file sources skip hidden files), then rename. */
  def land(src: String, dir: String): Unit = {
    val s = Paths.get(src)
    val tmp = Paths.get(dir, "." + s.getFileName + ".tmp")
    Files.copy(s, tmp, StandardCopyOption.REPLACE_EXISTING)
    Files.move(tmp, Paths.get(dir, s.getFileName.toString),
      StandardCopyOption.ATOMIC_MOVE)
  }

  def listFiles(dir: String): Seq[Path] = {
    val st = Files.list(Paths.get(dir))
    try {
      val b = mutable.ArrayBuffer.empty[Path]
      st.forEach(p => b += p)
      b.sortBy(_.getFileName.toString).toSeq
    } finally st.close()
  }

  /** Bytes under a directory tree (0 when it does not exist). */
  def treeBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try {
        var n = 0L
        st.forEach(f => if (Files.isRegularFile(f)) n += Files.size(f))
        n
      } finally st.close()
    }
  }

  /** Regular files under a directory tree modified at or after `ms`. */
  def filesSince(dir: String, ms: Long): Double = {
    val st = Files.walk(Paths.get(dir))
    try {
      var n = 0
      st.forEach(f => if (Files.isRegularFile(f) &&
        Files.getLastModifiedTime(f).toMillis >= ms) n += 1)
      n.toDouble
    } finally st.close()
  }

}
