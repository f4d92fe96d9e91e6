package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until every listener has seen every posted event. The bus is
  * private to Spark, hence this package; span boundaries call it so a
  * span is charged exactly the jobs and tasks that ran inside it. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
