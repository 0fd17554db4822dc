package graft.util

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** The one bounded driver-side parallel map — the reference's
  * `ThreadPoolExecutor(max_workers<=5)` around per-item loops (LLM
  * generation, candidate execution, EX items, task branches). LLM calls
  * are network-bound and each SQL is a distributed Spark job, so the
  * bound caps concurrent requests / jobs, not CPU work.
  */
object Par {

  /** `f` over `items` on at most `parallelism` threads, results in item
    * order. One item or `parallelism <= 1` runs inline on the caller's
    * thread. A failure is rethrown; the pool is shut down either way.
    */
  def mapBounded[A, B](items: Seq[A], parallelism: Int = 5)(f: A => B): Seq[B] = {
    val threads = math.min(parallelism, items.size)
    if (threads <= 1) return items.map(f)
    val pool = Executors.newFixedThreadPool(threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.sequence(items.map(a => Future(f(a)))), Duration.Inf)
    finally pool.shutdown()
  }
}
