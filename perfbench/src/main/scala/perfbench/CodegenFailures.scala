package perfbench

import java.util.concurrent.atomic.LongAdder

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property

/** Counts generated-code compile failures: Spark's CodeGenerator logs one
  * ERROR per failed compile, and the plan then falls back off whole-stage
  * codegen. The appender hangs off that logger only, so it sees nothing
  * else and changes no output. */
object CodegenFailures {
  val LoggerName = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  private val failures = new LongAdder
  private lazy val appender = {
    val a = new AbstractAppender("perfbench-codegen-failures", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.ERROR)) failures.increment()
    }
    a.start()
    a
  }

  /** Call after the session starts: Spark (re)initializes logging then,
    * which drops appenders added before. */
  def attach(): Unit = synchronized {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val logger = ctx.getLogger(LoggerName)
    if (!logger.getAppenders.containsKey(appender.getName)) logger.addAppender(appender)
  }

  def count: Long = failures.sum()
}
