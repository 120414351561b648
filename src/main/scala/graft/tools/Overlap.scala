package graft.tools

/** Overlap independent Spark actions from one driver (the guide's §2.6
  * pattern: actions are only sequential because driver code calls them
  * sequentially). The maintenance queries build small DAGs of EAGER
  * `localCheckpoint` materializations; chains that do not depend on each
  * other can run concurrently so one chain's stragglers back-fill with
  * the next chain's tasks — on a cluster this fills idle executors, and
  * at bench scale it collapses the serialized per-job fixed costs
  * (scheduling + broadcast builds) of tiny stages.
  *
  * Scala's global ExecutionContext is deliberately NOT used: these
  * blocks hold Spark jobs (blocking calls), and parking them on the
  * global pool can starve unrelated library code. Each call gets a
  * fresh small pool, torn down in finally. Failures propagate: the
  * first throwable from any branch is rethrown to the caller after the
  * pool drains, so a failed branch can never be silently swallowed.
  */
object Overlap {

  /** Evaluate the thunks concurrently, return results in order. */
  def par[A](thunks: (() => A)*): Seq[A] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(2, thunks.size))
    try {
      import scala.jdk.CollectionConverters._
      val futures = pool.invokeAll(
        thunks.map { t =>
          new java.util.concurrent.Callable[A] { def call(): A = t() }
        }.asJava)
      futures.asScala.map(_.get()).toSeq
    } catch {
      // unwrap so callers see the real failure, not ExecutionException
      case e: java.util.concurrent.ExecutionException => throw e.getCause
    } finally pool.shutdown()
  }

  def par2[A, B](a: => A, b: => B): (A, B) = {
    val r = par(() => a: Any, () => b: Any)
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B])
  }
}
