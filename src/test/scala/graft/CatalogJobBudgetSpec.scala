package graft

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.graftbridge.ListenerDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.GraftQueries

/** Spark jobs per catalog query, with the history of each count.
  *  - Every table a query reads used to cost a one-task schema-inference
  *    job (`spark.read.parquet`); reading the schema from the footer on the
  *    driver removed exactly that job and nothing else.
  *  - A query whose result goes through `Boundary.sorted` runs one job
  *    fewer again: a small result sorts in one task, with no sampling job
  *    and no range-shuffle map stage, at the cost of the boundary's own job.
  * Two passes over the 29 queries run on sf0.001, each result consumed by a
  * noop sink; the second pass is measured. Codegen compiles per query are
  * printed, not asserted (they depend on the codegen cache). */
class CatalogJobBudgetSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val dir = "/root/testdata/sf0.001"

  /** per query: (jobs with schema inference, table reads, jobs now), the
    * first two as measured before driver-side schema resolution */
  val Recorded: Map[String, (Long, Long, Long)] = Map(
    "q1_agg" -> (5L, 1L, 3L), "q_ann_ivf_lists" -> (7L, 1L, 5L),
    "q_ann_ivf_topk" -> (10L, 1L, 8L), "q_ann_lsh_buckets" -> (5L, 1L, 3L),
    "q_ann_lsh_topk" -> (6L, 1L, 4L), "q_ann_topk" -> (6L, 1L, 4L),
    "q_bbox_filter" -> (3L, 1L, 2L), "q_cell_agg" -> (5L, 1L, 3L),
    "q_cell_assign" -> (2L, 1L, 1L), "q_components" -> (11L, 1L, 9L),
    "q_dedup_exact" -> (5L, 1L, 3L), "q_dist_join" -> (6L, 2L, 3L),
    "q_embed_cosine" -> (5L, 1L, 3L), "q_events_window" -> (5L, 1L, 3L),
    "q_fingerprint" -> (4L, 1L, 2L), "q_join_agg" -> (9L, 3L, 5L),
    "q_kring_join" -> (6L, 2L, 3L), "q_lag_lead" -> (3L, 1L, 2L),
    "q_lang_id" -> (2L, 1L, 1L), "q_minhash" -> (4L, 1L, 2L),
    "q_minhash_lsh" -> (7L, 1L, 5L), "q_ngram_jaccard" -> (13L, 1L, 11L),
    "q_running_sum" -> (3L, 1L, 2L), "q_semi_anti" -> (6L, 2L, 4L),
    "q_sessionize" -> (5L, 1L, 3L), "q_simhash" -> (4L, 1L, 2L),
    "q_token_stats" -> (2L, 1L, 1L), "q_way_edges" -> (3L, 1L, 2L),
    "q_window_topk" -> (5L, 1L, 3L))

  private final class JobCounter extends SparkListener {
    val jobs = new LongAdder
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.increment()
  }

  /** (query, jobs, compiles) for one pass in name order */
  private def pass(counter: JobCounter): Seq[(String, Long, Long)] =
    GraftQueries.all.keys.toSeq.sorted.map { name =>
      ListenerDrain(spark.sparkContext)
      val j0 = counter.jobs.sum()
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      GraftQueries.all(name)._1(spark, dir).write.format("noop").mode("overwrite").save()
      ListenerDrain(spark.sparkContext)
      (name, counter.jobs.sum() - j0, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0)
    }

  test("catalog pass: each query runs its recorded jobs") {
    val counter = new JobCounter
    spark.sparkContext.addSparkListener(counter)
    try {
      pass(counter) // warm-up
      val got = pass(counter)
      got.foreach { case (n, j, c) =>
        val (before, reads, now) = Recorded(n)
        println(f"[catalog-jobs] $n%-18s jobs $j%3d (recorded $now%3d; was $before%3d, " +
          f"reads $reads) compiles $c%4d")
      }
      println(s"[catalog-jobs] total jobs ${got.map(_._2).sum} (recorded " +
        s"${Recorded.values.map(_._3).sum}) compiles ${got.map(_._3).sum}")
      assert(got.map(_._1).toSet == Recorded.keySet)
      got.foreach { case (n, j, _) => assert(j == Recorded(n)._3, s"$n ran $j jobs") }
      // the history: 157 jobs less 34 table reads, less one job for each
      // of the 21 sorted results
      val saved = Recorded.values.map { case (before, reads, now) => before - reads - now }
      assert(saved.count(_ == 1) == 21 && saved.count(_ == 0) == 8)
      assert(Recorded.values.map(_._1).sum == 157 && Recorded.values.map(_._2).sum == 34)
      assert(Recorded.values.map(_._3).sum == 102)
    } finally spark.sparkContext.removeSparkListener(counter)
  }
}
