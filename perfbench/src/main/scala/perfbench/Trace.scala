package perfbench

import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.ListenerDrain
import org.apache.spark.scheduler._

/** Spark work charged to a span: what the scheduler ran while it was open. */
final case class Work(jobs: Long, stages: Long, tasks: Long, taskMs: Long, gcMs: Long,
                      shuffleBytes: Long) {
  def -(o: Work): Work = Work(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    taskMs - o.taskMs, gcMs - o.gcMs, shuffleBytes - o.shuffleBytes)
  def +(o: Work): Work = Work(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    taskMs + o.taskMs, gcMs + o.gcMs, shuffleBytes + o.shuffleBytes)
}

object Work { val Zero: Work = Work(0, 0, 0, 0, 0, 0) }

/** Counts jobs, completed stages, tasks, executor run time, executor GC time
  * and shuffle bytes written, across the whole session. */
final class WorkListener extends SparkListener {
  private val jobs, stages, tasks, taskMs, gcMs, shuffle = new LongAdder
  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.increment()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.increment()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.increment()
    val m = e.taskMetrics
    if (m != null) {
      taskMs.add(m.executorRunTime)
      gcMs.add(m.jvmGCTime)
      shuffle.add(m.shuffleWriteMetrics.bytesWritten)
    }
  }
  def snap(): Work = Work(jobs.sum(), stages.sum(), tasks.sum(), taskMs.sum(), gcMs.sum(),
    shuffle.sum())
}

final case class Span(id: Int, parent: Int, name: String, runId: String, rep: Int,
                      startNs: Long, endNs: Long, work: Work) {
  def durNs: Long = endNs - startNs
}

/** Spans recorded from the benchmark around each call into a layer, kept in
  * memory and written out when the run ends. Spans run one at a time (one
  * closed-loop client), so the Spark work between a span's start and end
  * belongs to it; the listener bus is drained at both ends. When disabled,
  * `span` only runs its body: no listener, no drain. */
final class Tracer(sc: SparkContext, val runId: String, val enabled: Boolean) {
  private val listener: WorkListener =
    if (enabled) { val l = new WorkListener; sc.addSparkListener(l); l } else null
  private val spans = ArrayBuffer[Span]()
  private var open = List.empty[Int]
  private var nextId = 0
  /** measured rep (or pass) the next spans belong to; 0 = warm-up */
  var rep = 0

  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    ListenerDrain(sc)
    val w0 = listener.snap()
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      ListenerDrain(sc)
      val w1 = listener.snap()
      open = open.tail
      spans += Span(id, parent, name, runId, rep, t0, t1, w1 - w0)
    }
  }

  def recorded: Seq[Span] = spans.toSeq

  /** A span's duration minus the part of it its child spans cover. */
  def selfNs(s: Span): Long = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs max s.startNs, k.endNs min s.endNs))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a >= end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    s.durNs - covered
  }

  /** A span's work minus its children's. */
  def selfWork(s: Span): Work =
    spans.filter(_.parent == s.id).foldLeft(s.work)((w, k) => w - k.work)

  def close(): Unit = if (enabled) sc.removeSparkListener(listener)

  def toJson: String = {
    def one(s: Span): String = {
      val w = selfWork(s)
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","run_id":"${s.runId}",""" +
        s""""rep":${s.rep},"start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""self_ns":${selfNs(s)},"jobs":${w.jobs},"stages":${w.stages},""" +
        s""""tasks":${w.tasks},"task_s":${w.taskMs / 1e3},"gc_s":${w.gcMs / 1e3},""" +
        s""""shuffle_bytes":${w.shuffleBytes}}"""
    }
    spans.map(one).mkString("[\n", ",\n", "\n]")
  }
}
