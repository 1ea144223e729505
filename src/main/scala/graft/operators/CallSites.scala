package graft.operators

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

  /** `body` as an [[Overlap]] future under the submitting thread's call
    * site: pooled threads do not inherit local properties. */
  def overlapped[T](spark: SparkSession)(body: => T)
      : scala.concurrent.Future[T] = {
    val site = spark.sparkContext.getLocalProperty(ShortForm)
    scala.concurrent.Future(withCallSite(spark, site)(body))(Overlap.ec)
  }
}
