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

  test("a MERGE's pool-submitted probes run under the statement's job " +
      "group") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft_callsites_")
      .toString
    FactVersioned.upsert(spark, s"$wh/t",
      (1 to 30).map(i => (i.toLong, i % 3, i * 10L)).toDF("k", "p", "v"),
      Seq("k"), "p")
    val s = graft.catalog.GraftDml.enable(spark)
    s.conf.set("spark.sql.catalog.g",
      classOf[graft.catalog.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.g.root", wh)
    s.range(0, 5).selectExpr("id * 3 + 3 AS k", "0 AS p", "id AS v",
        "CAST(NULL AS BIGINT) AS vgen")
      .createOrReplaceTempView("cs_src")
    val sc = spark.sparkContext
    // every pool thread is born under (or keeps) group A's properties
    sc.setJobGroup("group-A", "pool filler")
    try onEveryThread(())
    finally sc.clearJobGroup()

    // the MERGE's key-uniqueness probe and its partition-move probe
    // run on the pool while the statement runs under group G
    val jobs = jobsSeen {
      sc.setJobGroup("group-G", "merge")
      try s.sql(
        """MERGE INTO g.t AS t USING cs_src AS s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      finally sc.clearJobGroup()
    }
    assert(FactVersioned.generations(spark, s"$wh/t") == Seq(0L, 1L))
    val groups = jobs.map(j => j.props.getProperty(GroupKey))
    assert(groups.nonEmpty && groups.forall(_ == "group-G"), groups)
  }
}
