package graft

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.graftbridge.ListenerDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.GraftQueries

/** Spark jobs per catalog query. Every table a query reads used to cost a
  * one-task schema-inference job (`spark.read.parquet`); reading the schema
  * from the footer on the driver removes exactly that job and nothing else.
  * Two passes over the 29 queries run on sf0.001, each result consumed by a
  * noop sink; the second pass is measured. Codegen compiles per query are
  * printed, not asserted (they depend on the codegen cache). */
class CatalogJobBudgetSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val dir = "/root/testdata/sf0.001"

  /** per query: (jobs with schema inference, table reads), as measured in
    * the formulation before driver-side schema resolution */
  val Inferred: Map[String, (Long, Long)] = Map(
    "q1_agg" -> (5L, 1L), "q_ann_ivf_lists" -> (7L, 1L), "q_ann_ivf_topk" -> (10L, 1L),
    "q_ann_lsh_buckets" -> (5L, 1L), "q_ann_lsh_topk" -> (6L, 1L), "q_ann_topk" -> (6L, 1L),
    "q_bbox_filter" -> (3L, 1L), "q_cell_agg" -> (5L, 1L), "q_cell_assign" -> (2L, 1L),
    "q_components" -> (11L, 1L), "q_dedup_exact" -> (5L, 1L), "q_dist_join" -> (6L, 2L),
    "q_embed_cosine" -> (5L, 1L), "q_events_window" -> (5L, 1L), "q_fingerprint" -> (4L, 1L),
    "q_join_agg" -> (9L, 3L), "q_kring_join" -> (6L, 2L), "q_lag_lead" -> (3L, 1L),
    "q_lang_id" -> (2L, 1L), "q_minhash" -> (4L, 1L), "q_minhash_lsh" -> (7L, 1L),
    "q_ngram_jaccard" -> (13L, 1L), "q_running_sum" -> (3L, 1L), "q_semi_anti" -> (6L, 2L),
    "q_sessionize" -> (5L, 1L), "q_simhash" -> (4L, 1L), "q_token_stats" -> (2L, 1L),
    "q_way_edges" -> (3L, 1L), "q_window_topk" -> (5L, 1L))

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

  test("catalog pass: each query runs its jobs less one per table read") {
    val counter = new JobCounter
    spark.sparkContext.addSparkListener(counter)
    try {
      pass(counter) // warm-up
      val got = pass(counter)
      got.foreach { case (n, j, c) =>
        val (before, reads) = Inferred(n)
        println(f"[catalog-jobs] $n%-18s jobs $j%3d (was $before%3d, reads $reads) compiles $c%4d")
      }
      println(s"[catalog-jobs] total jobs ${got.map(_._2).sum} (was " +
        s"${Inferred.values.map(_._1).sum}, reads ${Inferred.values.map(_._2).sum}) " +
        s"compiles ${got.map(_._3).sum}")
      assert(got.map(_._1).toSet == Inferred.keySet)
      got.foreach { case (n, j, _) =>
        val (before, reads) = Inferred(n)
        assert(j == before - reads, s"$n ran $j jobs")
      }
    } finally spark.sparkContext.removeSparkListener(counter)
  }
}
