package perfbench

/** Span hooks the workloads call around each step; the untraced run uses
  * [[Tracer.Off]], which records nothing. */
trait Tracer {
  def span[T](name: String, cycle: Int)(f: => T): T
  def beginCycle(cycle: Int): Unit
  def endCycle(cycle: Int): Unit
  /** Charge a started streaming query's work to the open span. */
  def bindQuery(id: String): Unit
}

object Tracer {
  object Off extends Tracer {
    def span[T](name: String, cycle: Int)(f: => T): T = f
    def beginCycle(cycle: Int): Unit = ()
    def endCycle(cycle: Int): Unit = ()
    def bindQuery(id: String): Unit = ()
  }
}
