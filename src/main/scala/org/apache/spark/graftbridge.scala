package org.apache.spark

import java.util.Properties

/** Bridge to a thread's Spark local properties (job group, job
  * description, call site, SQL execution id, scheduler pool) —
  * `SparkContext.getLocalProperties`/`setLocalProperties` are
  * private[spark]. The capture-and-restore is the one Spark's own
  * broadcast threads use (`SQLExecution.withThreadLocalCaptured`). */
object GraftLocalProperties {

  /** A copy of the calling thread's local properties. */
  def capture(sc: SparkContext): Properties =
    util.Utils.cloneProperties(sc.getLocalProperties)

  /** Run `body` under `props`, then put the thread's own back. */
  def withProperties[T](sc: SparkContext, props: Properties)(body: => T): T = {
    val own = sc.getLocalProperties
    sc.setLocalProperties(props)
    try body finally sc.setLocalProperties(own)
  }
}
