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

  /** Spark jobs `body` starts, counted by a listener; a marker job
    * afterwards flushes the listener bus (events arrive in order). */
  def jobsOf(body: => Unit): Int = {
    val starts = new java.util.concurrent.atomic.AtomicInteger(0)
    val marker = new java.util.concurrent.CountDownLatch(1)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.job.description") == "jobsOf-marker"))
          marker.countDown()
        else if (marker.getCount > 0) starts.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      spark.sparkContext.setJobDescription("jobsOf-marker")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS))
      starts.get
    } finally spark.sparkContext.removeSparkListener(l)
  }

  override def afterAll(): Unit = () // keep the shared session alive
}

object SparkSpec {
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
