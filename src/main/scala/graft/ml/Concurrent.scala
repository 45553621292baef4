package graft.ml

import java.util.concurrent.{Callable, ExecutionException, Executors}

/** Driver-side fan-out for independent model fits (CV folds, the
  * out-of-fold Platt folds, Refit's two output chains). Each fit is a
  * chain of small Spark jobs with driver-side planning between them
  * (one per MLlib tree level); running the chains side by side lets one
  * chain's jobs fill the cores while another's driver plans.
  *
  * Every call makes its own pool, sized to its thunks, and the pool's
  * threads are created by the calling thread, so each one inherits the
  * caller's Spark local properties (job group, scheduler pool, any
  * tracing tag): jobs a thunk submits look like the caller's own.
  */
object Concurrent {

  /** Runs `thunks` at the same time and returns their results in input
    * order. Waits for every thunk, then rethrows the first failure (in
    * input order) as the thunk threw it, with later failures attached
    * as suppressed.
    */
  def all[A](thunks: Seq[() => A]): Seq[A] = {
    if (thunks.lengthCompare(1) <= 0) return thunks.map(_())
    val pool = Executors.newFixedThreadPool(thunks.size)
    try {
      val futures = thunks.map(t => pool.submit(new Callable[A] { def call(): A = t() }))
      val results = futures.map { f =>
        try Right(f.get()) catch { case e: ExecutionException => Left(e.getCause) }
      }
      val failures = results.collect { case Left(e) => e }
      failures.headOption.foreach { first =>
        failures.tail.filterNot(_ eq first).foreach(first.addSuppressed)
        throw first
      }
      results.collect { case Right(a) => a }
    } finally pool.shutdownNow()
  }

  /** [[all]] for two thunks of different result types. */
  def both[A, B](a: => A, b: => B): (A, B) = {
    val r = all[Any](Seq(() => a, () => b))
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B])
  }
}
