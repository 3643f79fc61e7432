package org.apache.spark.sql.graftbridge

import java.util.Properties
import org.apache.spark.SparkContext
import org.apache.spark.util.Utils

/** Carries a thread's Spark local properties (job description, job group,
  * streaming batch id, SQL execution root id, scheduler pool) onto another
  * thread.
  *
  * Spark keeps them in an `InheritableThreadLocal`, so a pooled thread
  * holds whatever its creator had set when the pool spawned it, and every
  * job it later runs is tagged with those stale values. The whole-set
  * getter and setter are `private[spark]`; this object lives under the
  * `org.apache.spark` namespace solely to re-export them.
  */
object LocalProperties {

  /** A snapshot of the calling thread's local properties. */
  def capture(sc: SparkContext): Properties =
    Utils.cloneProperties(sc.getLocalProperties)

  /** Run `f` on this thread under a private copy of `props` (Spark mutates
    * the installed set while a query runs, so concurrent callers must not
    * share one), then restore the thread's own properties. */
  def withCopy[A](sc: SparkContext, props: Properties)(f: => A): A = {
    val saved = sc.getLocalProperties
    sc.setLocalProperties(Utils.cloneProperties(props))
    try f finally sc.setLocalProperties(saved)
  }
}
