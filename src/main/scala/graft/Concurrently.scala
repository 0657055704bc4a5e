package graft

import java.util.concurrent.{Callable, ExecutionException, Executors}

/** Runs independent driver-side thunks at once — the fan-out of
  * `Pipeline.run`'s six mart chains, of the daily report's five
  * collects and of a micro-batch's outputs (`MartSink.writeBatches`),
  * whose one-task jobs otherwise wait on each other while the
  * executor cores sit idle.
  *
  * One thread per thunk, at most six, from a pool made for the call
  * and shut down before it returns. The threads are created by the
  * calling thread, so they inherit its Spark local properties (job
  * group, scheduler pool, any caller tags). */
object Concurrently {
  private val MaxThreads = 6

  /** The thunks' results in input order. Every thunk settles before
    * this returns or throws: on failure the first failing thunk's
    * error (in input order) is rethrown, with the later failures
    * attached as suppressed, and no thunk is still running. */
  def all[A](thunks: Seq[() => A]): Seq[A] = {
    val pool = Executors.newFixedThreadPool(math.max(1, math.min(thunks.size, MaxThreads)))
    try {
      val futures = thunks.map(t => pool.submit(new Callable[A] { def call(): A = t() }))
      val settled = futures.map { f =>
        try Right(f.get())
        catch { case e: ExecutionException => Left(e.getCause) }
      }
      settled.collect { case Left(e) => e } match {
        case Seq() => settled.collect { case Right(a) => a }
        case first +: rest =>
          rest.filterNot(_ eq first).foreach(first.addSuppressed)
          throw first
      }
    } finally pool.shutdownNow()
  }
}
