package graft.operators

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.concurrent.duration._
import scala.concurrent.{Await, Future}

import graft.SparkSpec

/** [[CallSites.overlapped]]: the jobs an overlapped body issues run
  * under the submitter's Spark local properties, not under those its
  * pool thread was born with. */
class CallSitesSpec extends SparkSpec {

  private val GroupKey = "spark.jobGroup.id"

  /** `f` once on every [[Overlap]] pool thread: each body waits until
    * all have started, so no thread runs two. */
  private def onEveryThread[T](f: => T): Seq[T] = {
    val started = new CountDownLatch(Overlap.Threads)
    val fs = (1 to Overlap.Threads).map(_ => Future {
      started.countDown()
      assert(started.await(60, TimeUnit.SECONDS))
      f
    }(Overlap.ec))
    fs.map(Await.result(_, 60.seconds))
  }

  test("an overlapped body runs under the submitter's job group and " +
      "call site on a pool thread born under another group") {
    val sc = spark.sparkContext
    // occupy every pool thread while group A is set: a thread the pool
    // creates now is born with A's properties
    sc.setJobGroup("group-A", "pool filler")
    try onEveryThread(())
    finally sc.clearJobGroup()

    var inBody = Seq.empty[String]
    val jobs = jobsSeen {
      sc.setJobGroup("group-B", "submitter")
      val f = try CallSites.withCallSite(spark, "spec site") {
          CallSites.overlapped(spark) {
            inBody = Seq(sc.getLocalProperty(GroupKey),
              sc.getLocalProperty("callSite.short"))
            spark.range(10).count()
          }
        }
        // captured at submit: clearing the group now changes nothing
        finally sc.clearJobGroup()
      assert(Await.result(f, 60.seconds) == 10L)
    }
    assert(inBody == Seq("group-B", "spec site"))
    assert(jobs.nonEmpty)
    jobs.foreach { j =>
      assert(j.props.getProperty(GroupKey) == "group-B")
      assert(j.callSite == "spec site")
    }
    // every pool thread has its own properties back
    assert(!onEveryThread(sc.getLocalProperty(GroupKey)).contains("group-B"))
  }
}
