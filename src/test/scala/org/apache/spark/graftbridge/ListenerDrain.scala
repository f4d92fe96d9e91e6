package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Blocks until every listener has seen every posted event. The bus is
  * private to Spark, hence this package; a phase boundary calls it so the
  * phase is charged exactly the jobs that ran inside it. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
