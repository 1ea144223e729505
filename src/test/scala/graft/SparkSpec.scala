package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.FactVersioned

/** Shared local SparkSession for specs (one per suite, local[4]). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** Commit `df` as the whole content of the UNPARTITIONED table at
    * `path`: its one partition, the root, is declared touched. */
  def commitWhole(
      df: DataFrame, path: String, retain: Int = 3): FactVersioned.Commit =
    FactVersioned.replacePartitionsBy(df.sparkSession, path, df, Nil,
      Seq(Nil), retain)

  /** Spark jobs `body` starts, counted by a listener. */
  def jobsOf(body: => Unit): Int = jobsSeen(body).size

  /** The Spark jobs `body` starts, in start order, as a listener sees
    * them; a marker job afterwards flushes the listener bus (events
    * arrive in order, and every job `body` waited for has ended). */
  def jobsSeen(body: => Unit): Seq[SparkSpec.SeenJob] = {
    val seen = new java.util.concurrent.ConcurrentHashMap[Int, SparkSpec.SeenJob]
    val marker = new java.util.concurrent.CountDownLatch(1)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.job.description") == "jobsOf-marker"))
          marker.countDown()
        else if (marker.getCount > 0)
          seen.put(e.jobId, SparkSpec.SeenJob(e.properties, e.time, -1L))
      override def onJobEnd(
          e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        seen.computeIfPresent(e.jobId, (_, j) => j.copy(endMs = e.time))
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      spark.sparkContext.setJobDescription("jobsOf-marker")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS))
      import scala.jdk.CollectionConverters._
      seen.values.asScala.toSeq.sortBy(_.startMs)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  override def afterAll(): Unit = () // keep the shared session alive
}

object SparkSpec {
  /** A job seen by [[SparkSpec.jobsSeen]]: its local properties, and
    * its start and end times (epoch ms; end -1 if it never ended). */
  final case class SeenJob(
      props: java.util.Properties, startMs: Long, endMs: Long) {
    def callSite: String = props.getProperty("callSite.short")
    def overlaps(o: SeenJob): Boolean =
      startMs < o.endMs && o.startMs < endMs
  }

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
