package org.apache.spark.sql.execution

import org.apache.spark.SparkContext

/** Internal-API bridge: waits until every listener of `sc` has been
  * handed every event posted so far ([[org.apache.spark.scheduler.LiveListenerBus]]
  * is `private[spark]`). Throws a `TimeoutException` after Spark's
  * 10 s default.
  */
object GraftListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
