package graft.operators

import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.{Executors, ThreadFactory}

import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}

/** Driver-side overlap of INDEPENDENT Spark jobs (guide §2.6): a
  * dedicated bounded daemon pool + await helpers shared by every
  * overlap site (TfIdf / AnnIndex / GraftDml / Upsert's multi-table
  * staging / BatchEtl's constraint counts / the gates' twins). Work
  * enters the pool only through [[CallSites.overlapped]], which runs
  * it under the submitter's Spark local properties.
  *
  * Why not `ExecutionContext.Implicits.global` + `Duration.Inf`: the
  * global fork-join pool couples unrelated builds (one build's blocked
  * awaits steal the parallelism another's writes need), and an
  * unbounded await turns a wedged executor write into a commit thread
  * blocked forever. A named pool keeps thread dumps readable; the
  * generous timeout keeps a cluster-side wedge a loud failure instead
  * of a hang. Jobs submitted here are scheduler-bound (their tasks run
  * on the executors), so a small pool is enough.
  */
object Overlap {

  private val threadCount = new AtomicInteger(0)

  /** Size of the pool. */
  val Threads: Int =
    math.min(16, math.max(4, Runtime.getRuntime.availableProcessors() / 4))

  /** The pool; submit through [[CallSites.overlapped]]. */
  private[operators] val ec: ExecutionContext = ExecutionContext.fromExecutor(
    Executors.newFixedThreadPool(Threads,
      new ThreadFactory {
        override def newThread(r: Runnable): Thread = {
          val t = new Thread(r,
            s"graft-overlap-${threadCount.getAndIncrement()}")
          t.setDaemon(true)
          t
        }
      }))

  /** Generous ceiling on any one overlapped job: far above every local
    * action, far below "forever" on a cluster. */
  val AwaitTimeout: FiniteDuration = 1.hour

  /** Await EVERY future to resolution, then rethrow the first failure
    * (by input order). The resolve-all-first order is the straggler
    * guard: rethrowing on the first failed write while siblings still
    * run would let a same-session retry delete and rebuild the staging
    * dir under a job that can still commit part-files into it
    * (duplicate index rows). No job outlives this call. */
  def awaitAll(futures: Seq[Future[_]]): Unit = {
    futures.foreach(f => Await.ready(f, AwaitTimeout))
    futures.foreach(f => Await.result(f, AwaitTimeout))
  }
}
