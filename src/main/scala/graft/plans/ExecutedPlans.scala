package graft.plans

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.graftbridge.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** The physical plans Spark actually executed. Every action and every
  * `Boundary` runs as its own SQL execution, whose start event carries the
  * formatted plan below it; AQE posts each re-planned tree as an update.
  * Together they show every operator that ran, including the ones a
  * boundary hides from a consumer's static plan. */
object ExecutedPlans {

  /** Runs `body` and returns the plan descriptions posted while it ran:
    * execution starts and AQE updates, in posting order. */
  def apply(spark: SparkSession)(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val plans = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => plans.add(s.physicalPlanDescription)
        case u: SparkListenerSQLAdaptiveExecutionUpdate => plans.add(u.physicalPlanDescription)
        case _ =>
      }
    }
    ListenerDrain(sc)
    sc.addSparkListener(listener)
    try {
      body
      ListenerDrain(sc)
    } finally sc.removeSparkListener(listener)
    plans.asScala.toSeq
  }
}
