package perfbench

/** Every per-layer metric, named `<module>.<span>.<measure>`, with its unit.
  * A traced run reports all of them; a layer a workload does not run
  * reports 0. BENCHMARK.json declares the same list (checked by
  * selftest.py). */
object LayerMetrics {
  val SpanMeasures: Seq[(String, String)] = Seq("s" -> "s", "jobs" -> "count",
    "tasks" -> "count", "task_s" -> "s", "gc_s" -> "s", "shuffle_mb" -> "MB",
    "driver_floor_s" -> "s")

  val Spans: Seq[String] = MatchWorkload.Calls ++ CatalogWorkload.Modules.map(_._1 + ".catalog")

  val Counters: Seq[(String, String)] = Seq(
    "osm.graph_build.edges" -> "count",
    "router.graph_collect.edges" -> "count",
    "router.cands_join.cands_per_stop" -> "ratio",
    "router.viterbi_match.kernel_solves" -> "count",
    "router.viterbi_match.dijkstra_iters" -> "count",
    "router.viterbi_match.hop_hits" -> "count",
    "router.viterbi_match.hop_misses" -> "count",
    "router.viterbi_match.hop_hit_ratio" -> "ratio",
    "router.viterbi_match.kernel_cpu_s" -> "s",
    "overlay.tile_overlay.pairs" -> "count",
    "overlay.tile_verify.rows" -> "count")

  val QueryTimes: Seq[(String, String)] =
    CatalogWorkload.Modules.flatMap { case (m, qs) => qs.map(q => s"$m.$q.s" -> "s") }

  val RunWide: Seq[(String, String)] = Seq("functions.codegen_failures" -> "count",
    "plans.retained_block_mb" -> "MB", "trace.rep.overhead_frac" -> "ratio")

  val withUnits: Seq[(String, String)] =
    Spans.flatMap(sp => SpanMeasures.map { case (k, u) => s"$sp.$k" -> u }) ++ Counters ++
      QueryTimes ++ RunWide

  val all: Seq[String] = withUnits.map(_._1)
  private val units = withUnits.toMap
  def unit(name: String): String = units(name)
}
