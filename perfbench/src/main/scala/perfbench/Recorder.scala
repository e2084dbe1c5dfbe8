package perfbench

import scala.collection.mutable

/** What a run measured: timed samples, summed counters, set-up phases,
  * and every attempted operation with the ones that failed. */
final class Recorder {
  val samples: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] =
    mutable.LinkedHashMap.empty
  val sums: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  val setupPhases: mutable.LinkedHashMap[String, Double] =
    mutable.LinkedHashMap.empty
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  private var attempts = 0L

  def sample(name: String, v: Double): Unit = synchronized {
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  }
  def add(name: String, v: Double): Unit = synchronized {
    sums(name) = sums.getOrElse(name, 0.0) + v
  }
  def setup(name: String, v: Double): Unit = synchronized {
    setupPhases(name) = v
  }
  def attempt(): Unit = synchronized { attempts += 1 }
  def fail(msg: String): Unit = synchronized {
    failures += msg
    System.err.println(s"perfbench FAILED: $msg")
  }
  def attempted: Long = synchronized { attempts }
  def failed: Long = synchronized { failures.size.toLong }
  def get(name: String): Seq[Double] = synchronized {
    samples.get(name).map(_.toSeq).getOrElse(Seq.empty)
  }
}
