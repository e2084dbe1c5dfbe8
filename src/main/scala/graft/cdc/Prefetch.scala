package graft.cdc

/** Dedicated look-ahead executor for the chain fold kernel's next-window
  * driver-collect prefetch (changed keys / touched groups). These
  * futures used to run on `ExecutionContext.Implicits.global` and were
  * joined with `Await.result(_, Duration.Inf)` — on a starved global
  * pool (library users share it) a replay could hang indefinitely, and
  * an unbounded wait hides a wedged collect job forever. Each fold
  * now owns a small daemon pool (a thread per table, at most four: the
  * collects of the single look-ahead window — look-ahead is bounded to
  * one window by design, see SnowflakeView.fold) and joins with a
  * generous but FINITE timeout that fails loudly instead of wedging.
  */
private[cdc] final class Prefetch(threads: Int = 2) {
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(threads,
    (r: Runnable) => {
      val t = new Thread(r, "graft-replay-prefetch")
      t.setDaemon(true)
      t
    })
  private implicit val ec: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutor(pool)

  def submit[T](f: => T): scala.concurrent.Future[T] =
    scala.concurrent.Future(f)

  /** Join a prefetched collect. The timeout is far beyond any sane
    * capped key collect (they are `limit(cap+1)` scans over pinned
    * logs); hitting it means the cluster or the pool is wedged — fail
    * loudly rather than hang the replay. */
  def await[T](fut: scala.concurrent.Future[T]): T =
    try scala.concurrent.Await.result(fut, Prefetch.JoinTimeout)
    catch {
      case e: java.util.concurrent.TimeoutException =>
        throw new IllegalStateException(
          s"replay prefetch did not finish within ${Prefetch.JoinTimeout} " +
            "— key-collect job wedged (starved cluster or executor?)", e)
    }

  def shutdown(): Unit = pool.shutdownNow()
}

private[cdc] object Prefetch {
  import scala.concurrent.duration._
  val JoinTimeout: FiniteDuration = 1.hour
}
