package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FormattedMode
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{Boundary, ExecutedPlans}
import graft.queries.GraftQueries

/** The plan shapes the design claims: pushed filters, pruned scans,
  * broadcast joins, and no all-pairs operator on a pair-generating path
  * (the shapes that do not survive 100x). Each query runs on sf0.001 into
  * a noop sink and its patterns are checked against the plans Spark
  * executed, so the subtrees below every `Boundary` are audited as they
  * run. */
class PlanShapeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val dir = "/root/testdata/sf0.001"

  // every pair-generating path must be an equi-join on a bounded key
  // (gram hash, LSH band, sign bucket, cell), never an all-pairs scan
  val allPairs = Seq("CartesianProduct", "BroadcastNestedLoopJoin")

  private def audit(name: String, wanted: Seq[String], banned: Seq[String]): Unit =
    test(s"$name executes ${wanted.mkString(", ")}; no ${banned.mkString(", ")}") {
      val plans = ExecutedPlans(spark) {
        GraftQueries.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
      }.mkString("\n")
      val missing = wanted.filterNot(plans.contains)
      val present = banned.filter(plans.contains)
      assert(missing.isEmpty && present.isEmpty,
        s"missing [${missing.mkString(", ")}] banned [${present.mkString(", ")}]\n" +
          plans.take(4000))
    }

  // pushdown + pruning reach the parquet scan. The allPairs ban is applied
  // uniformly, including paths where the operator cannot appear — harmless
  // there, and a regression that introduces one fails loudly.
  audit("q_bbox_filter", Seq("PushedFilters", "ReadSchema: struct<c_custkey:bigint>"),
    allPairs)
  // broadcast join picked for the k-ring spatial join
  audit("q_kring_join", Seq("BroadcastHashJoin", "gcell"), allPairs)
  // pruned read schema on a projection-only query
  audit("q_cell_assign", Seq("ReadSchema: struct<c_custkey:bigint>"), allPairs)
  // distance join = k-ring cell equi-join (BroadcastHashJoin), NOT a
  // cartesian BroadcastNestedLoopJoin (r1's scale-killer anti-pattern)
  audit("q_dist_join", Seq("BroadcastHashJoin", "kring"), allPairs)
  // window agg stays codegen'd
  audit("q_running_sum", Seq("Window", "Sort"), allPairs)
  // dedup pair generation is JOINLESS since r6: per-key sorted member
  // arrays + chained codegen explodes (Generate) + the (a, b) hash
  // aggregate; an all-pairs operator in the pair path would be a bug.
  // Exception, asserted explicitly: ngramJaccard's hot-gram cut and the
  // IVF paths use a DELIBERATE BroadcastNestedLoopJoin whose build side
  // is bounded by construction (a 1-row count scalar; the
  // ~sqrt(N)-capped anchor table) — an O(N * K) scan, not all-pairs;
  // CartesianProduct (both sides data-sized) stays banned there too.
  audit("q_ngram_jaccard",
    Seq("Generate", "BroadcastHashJoin", "BroadcastNestedLoopJoin"),
    Seq("CartesianProduct"))
  audit("q_minhash_lsh", Seq("minhash_sigs", "Generate", "HashAggregate"), allPairs)
  audit("q_embed_cosine", Seq("Join", "vec_lsh_bucket"), allPairs)
  audit("q_ann_lsh_topk", Seq("Join", "vec_lsh_bucket"), allPairs)
  audit("q_ann_ivf_topk", Seq("Join", "BroadcastNestedLoopJoin"), Seq("CartesianProduct"))
  // exact dedup is one hash aggregate, no join at all
  audit("q_dedup_exact", Seq("HashAggregate"), allPairs :+ "SortMergeJoin")
  // doc-table text ops are scans + projections: no shuffle operators
  audit("q_lang_id", Seq("ReadSchema"), Seq("Exchange") ++ allPairs)
  // in-row signatures, and a small result's presentation sort runs in one
  // task (`Boundary.sorted`): no exchange at all
  audit("q_fingerprint", Seq("gram_fingerprint", "ReadSchema"), Seq("Exchange") ++ allPairs)
  audit("q_simhash", Seq("simhash_bits", "ReadSchema"), Seq("Exchange") ++ allPairs)

  // matched on the Exchange node, not the bare partitioning name: an
  // ExistingRDD scan prints the partitioning its child preserved, which
  // can itself be rangepartitioning
  test("Boundary.sorted: one task below the advisory size, a range sort above it") {
    import spark.implicits._
    val df = spark.range(0, 20000, 1, 8).select(($"id" * 7919 % 20000).as("k"), $"id")
    val expected = df.orderBy($"k", $"id").collect().toSeq
    def sortedRun(): (String, Seq[Row], Int) = {
      var out: DataFrame = null
      var rows: Seq[Row] = null
      val plans = ExecutedPlans(spark) {
        out = Boundary.sorted(df, $"k", $"id")
        rows = out.collect().toSeq
      }.mkString("\n")
      (plans, rows, out.rdd.getNumPartitions)
    }
    val (plans, rows, parts) = sortedRun()
    assert(!plans.contains("Exchange"), plans.take(4000))
    assert(parts == 1)
    assert(rows == expected)
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "4k")
    try {
      val (plans, rows, _) = sortedRun()
      val rangeExchange = """\) Exchange\s+Input [^\n]*\n\s*Arguments: rangepartitioning""".r
      assert(rangeExchange.findFirstIn(plans).isDefined, plans.take(4000))
      assert(rows == expected)
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("an all-pairs operator behind a boundary shows in the executed plans, not the static one") {
    import spark.implicits._
    var df: DataFrame = null
    val plans = ExecutedPlans(spark) {
      df = Boundary.deferred(spark.range(40).crossJoin(spark.range(40).select($"id".as("j"))))
        .orderBy($"id", $"j")
      df.write.format("noop").mode("overwrite").save()
    }.mkString("\n")
    val static = df.queryExecution.explainString(FormattedMode)
    assert(allPairs.exists(plans.contains), plans.take(4000))
    assert(!allPairs.exists(static.contains), static)
  }
}
