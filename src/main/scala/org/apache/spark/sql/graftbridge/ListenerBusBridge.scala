package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Bridge to Spark's package-private listener bus. Listener events are
  * delivered asynchronously, so an action returning does not mean its
  * task-end (or streaming progress) events have reached the listeners;
  * `drain` blocks until every event posted so far has been delivered.
  * Lives under `org.apache.spark` for access; keep it to this call. */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
