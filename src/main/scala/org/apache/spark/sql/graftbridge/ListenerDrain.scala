package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Listener events arrive asynchronously; before reading what a listener
  * recorded, wait until the bus has delivered everything posted so far.
  * Spark posts a job's stage, task and job-end events before the action
  * returns, so a drain after the action sees all of them. The bus is
  * private to Spark, hence this package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
