package graft.operators

import org.apache.spark.GraftLocalProperties
import org.apache.spark.sql.SparkSession

/** Program call sites on Spark jobs. Without one, a job submitted from
  * a pooled thread (an AQE stage, a broadcast, an [[Overlap]] future)
  * carries that thread's stack as its call site, e.g.
  * `CompletableFuture.java:1768`, and cannot be traced to the program
  * phase that issued it. */
private[graft] object CallSites {

  private val ShortForm = "callSite.short"

  /** Spark's own short call-site form, `<method> at <file>:<line>`, of
    * the method that calls this. */
  def callerSite(): String = {
    val f = new Throwable().getStackTrace()(1)
    s"${f.getMethodName} at ${f.getFileName}:${f.getLineNumber}"
  }

  /** Run `body` with `site` as the call site of every Spark job it
    * issues — AQE stage jobs inherit the local property — and restore
    * the caller's value after. */
  def withCallSite[T](spark: SparkSession, site: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(ShortForm)
    sc.setLocalProperty(ShortForm, site)
    try body finally sc.setLocalProperty(ShortForm, prev)
  }

  /** Run `body` with the current call site prefixed by `tag`
    * (`<tag>: <site>`), so a trace tells apart the jobs one call site
    * issues for several tables; unchanged when no call site is set. */
  def tagged[T](spark: SparkSession, tag: String)(body: => T): T =
    Option(spark.sparkContext.getLocalProperty(ShortForm)) match {
      case Some(site) => withCallSite(spark, s"$tag: $site")(body)
      case None => body
    }

  /** `body` as an [[Overlap]] future under the submitting thread's
    * Spark local properties — job group, description, call site, SQL
    * execution id — captured at submit; the pool thread's own are put
    * back after. A pool thread is born with a copy of its creator's
    * properties and keeps them, so without the capture its jobs would
    * run under whatever job group it was born under, and cancelling
    * the submitter's group would miss them. */
  def overlapped[T](spark: SparkSession)(body: => T)
      : scala.concurrent.Future[T] = {
    val sc = spark.sparkContext
    val props = GraftLocalProperties.capture(sc)
    scala.concurrent.Future(
      GraftLocalProperties.withProperties(sc, props)(body))(Overlap.ec)
  }
}
