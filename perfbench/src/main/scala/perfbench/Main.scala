package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Runs one workload in one local-mode session with one closed-loop client
  * and writes its result object (see run.py) to `--out`.
  *
  * Untraced runs (`--trace 0`) give the end-to-end metrics. Traced runs
  * (`--trace 1`) alternate untraced and traced ops, give the per-layer
  * metrics from the traced ones, and report the tracing overhead as the
  * ratio of the two medians. */
object Main {
  /** Sizes per workload: `bench` is what BENCHMARK.json runs, `tiny` the
    * self-test. */
  val MatchSizes: Map[(String, String), MatchWorkload.Size] = Map(
    ("match_city", "bench") -> MatchWorkload.Size(24, 40, 40),
    ("match_metro", "bench") -> MatchWorkload.Size(64, 128, 900),
    ("match_city", "tiny") -> MatchWorkload.Size(8, 12, 2),
    ("match_metro", "tiny") -> MatchWorkload.Size(8, 12, 6))
  val CatalogSf: Map[String, Double] = Map("bench" -> 0.02, "tiny" -> 0.001)

  /** set-ups per run; setup_s is their median */
  val SetupReps = 3

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        size: String, work: String, out: String, expected: String,
                        record: Boolean)

  /** One closed-loop operation: a pipeline rep or a catalog pass. */
  final case class Op(wallS: Double, attempted: Long, failed: Long,
                      counters: Map[String, Double], exact: Seq[(String, Long)])

  trait Load {
    def op(tr: Tracer): Op
    /** the workload's headline figure for a median op wall time */
    def headline(wallS: Double): String
    /** spans whose per-span measures are reported, by metric prefix */
    def spanGroups(tr: Tracer, rep: Int): Map[String, Seq[Span]]
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    new File(a.work).mkdirs()
    val cpus = Runtime.getRuntime.availableProcessors()
    val log = (s: String) => System.err.println(s"[perfbench] $s")

    if (a.record) { record(cpus, a); return }

    // set-up: session start, input generation and materialization
    val setupS = ArrayBuffer[Double]()
    var spark: SparkSession = null
    var load: Load = null
    for (_ <- 1 to SetupReps) {
      if (spark != null) spark.stop()
      val c0 = CpuTicks.read()
      val t0 = System.nanoTime()
      spark = session(cpus, a.work)
      load = makeLoad(spark, a)
      setupS += (System.nanoTime() - t0) / 1e9 * (1 - CpuTicks.stolenShare(c0, CpuTicks.read()))
    }
    log(f"setup_s ${setupS.map(x => f"$x%.3f").mkString(" ")}")
    val storedAtStart = if (a.trace) storedMb(spark) else 0.0

    val runId = s"${a.workload}-seed${a.seed}-${ProcessHandle.current().pid()}"
    val tr = new Tracer(spark.sparkContext, runId, a.trace)
    val off = new Tracer(spark.sparkContext, runId, enabled = false)
    // (op, traced), with wallS corrected for CPU time stolen by the hypervisor
    val ops = ArrayBuffer[(Op, Boolean)]()
    val rawOps = ArrayBuffer[(Double, Double)]()
    var attempted = 0L
    var failed = 0L
    val exact = ArrayBuffer[(String, Long)]()
    def run(traced: Boolean): Op = {
      val c0 = CodegenFailures.count
      val o = load.op(if (traced) tr else off)
      attempted += o.attempted
      failed += o.failed
      exact ++= o.exact
      o.copy(counters = o.counters + ("functions.codegen_failures" ->
        (CodegenFailures.count - c0).toDouble))
    }
    val warm = run(traced = false)
    log(f"warm-up op ${warm.wallS}%.3f s, failed ${warm.failed}/${warm.attempted}")

    // live heap after warm-up plus one measured op: a fixed point, so the
    // figure does not depend on how many ops fit in the run
    var heapMb = -1.0
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (elapsed < a.seconds || ops.size < (if (a.trace) 2 else 1)) {
      // traced runs alternate: untraced control first, then traced
      val traced = a.trace && ops.size % 2 == 1
      if (traced) tr.rep += 1
      val c0 = CpuTicks.read()
      val o = run(traced)
      val stolen = CpuTicks.stolenShare(c0, CpuTicks.read())
      ops += ((o.copy(wallS = o.wallS * (1 - stolen)), traced))
      rawOps += ((o.wallS, stolen))
      if (heapMb < 0) heapMb = liveHeapMb()
      log(f"op ${ops.size}${if (traced) " (traced)" else ""} ${o.wallS}%.3f s wall, " +
        f"${stolen * 100}%.1f%% stolen, failed ${o.failed}/${o.attempted}")
    }
    val retainedMb = if (a.trace) math.max(0.0, storedMb(spark) - storedAtStart) else 0.0
    tr.close()

    // counters that must repeat exactly across the ops of one run, warm-up too
    val spreads = exact.groupBy(_._1).toSeq.sortBy(_._1).collect {
      case (name, vs) if vs.map(_._2).distinct.size > 1 =>
        val xs = vs.map(_._2)
        log(s"counter $name differs across reps: min ${xs.min} max ${xs.max}")
        s""""$name":{"min":${xs.min},"max":${xs.max}}"""
    }

    val plain = ops.filterNot(_._2).map(_._1).toSeq
    val metrics: Seq[(String, Double, String)] = if (!a.trace) Seq(
      ("rep_s", median(plain.map(_.wallS)), "s"),
      ("setup_s", median(setupS.toSeq), "s"),
      ("heap_live_mb", heapMb, "MB"))
    else {
      val traced = ops.filter(_._2).map(_._1).toSeq
      val overhead = median(traced.map(_.wallS)) / median(plain.map(_.wallS)) - 1.0
      log(f"tracing overhead ${overhead * 100}%.1f%% (traced vs untraced median op)")
      val reps = 1 to tr.rep
      val perSpan = spanMetrics(tr, load, reps, cpus)
      val counters = traced.flatMap(_.counters.keys).distinct.map { k =>
        (k, median(traced.map(_.counters.getOrElse(k, 0.0))), LayerMetrics.unit(k))
      }
      perSpan ++ counters ++ Seq(("plans.retained_block_mb", retainedMb, "MB"),
        ("trace.rep.overhead_frac", overhead, "ratio"))
    }
    val declared = if (a.trace) LayerMetrics.all else Seq("rep_s", "setup_s", "heap_live_mb")
    val got = metrics.map(m => m._1 -> m).toMap
    val unknown = got.keySet -- declared
    require(unknown.isEmpty, s"undeclared metrics ${unknown.toSeq.sorted}")
    val full = declared.map(n => got.getOrElse(n, (n, 0.0, LayerMetrics.unit(n))))

    val n = plain.size
    log(f"${a.workload}: ${load.headline(median(plain.map(_.wallS)))} (median of $n ops; " +
      f"no tail percentile below 11); failed_frac ${failed.toDouble / attempted}%.4f " +
      s"($failed of $attempted)")
    val metricsJson = full.map { case (k, v, u) =>
      s""""$k":{"value":${num(v)},"unit":"$u"}""" }.mkString("{", ",", "}")
    val result = s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":$metricsJson,"info":{"op_wall_s":[${rawOps.map(o => num(o._1)).mkString(",")}],""" +
      s""""op_stolen":[${rawOps.map(o => f"${o._2}%.4f").mkString(",")}],""" +
      s""""setup_s":[${setupS.map(num).mkString(",")}],""" +
      s""""counter_spread":{${spreads.mkString(",")}}}}"""
    Files.write(Paths.get(a.out), result.getBytes(UTF_8))
    if (a.trace) {
      val f = Paths.get(a.work, "trace", s"${a.workload}-seed${a.seed}.json")
      Files.createDirectories(f.getParent)
      Files.write(f, s"""{"run_id":"${tr.runId}","spans":${tr.toJson}}""".getBytes(UTF_8))
      log(s"spans written to $f")
    }
    spark.stop()
  }

  /** Records the catalog digests for the generated tables, and dumps each
    * query's output with its oracle SQL for bin/duck_check.py. */
  private def record(cpus: Int, a: Args): Unit = {
    val spark = session(cpus, a.work)
    val dir = catalogDir(a)
    CatalogData.write(spark, dir, CatalogSf(a.size))
    val names = CatalogWorkload.names
    val got = names.map(q => q -> CatalogWorkload.digest(CatalogWorkload.query(spark, dir, q)))
    Json.writeStringMap(Paths.get(a.expected), a.size, got)
    val oracle = new File(a.work, s"oracle-${a.size}").getAbsolutePath
    names.foreach(q => CatalogWorkload.query(spark, dir, q).write.mode("overwrite")
      .parquet(s"$oracle/$q"))
    val sql = names.map(q => s""""$q":${Json.quote(graft.queries.GraftQueries.all(q)._2)}""")
    Files.write(Paths.get(oracle, "oracle_sql.json"), sql.mkString("{", ",", "}").getBytes(UTF_8))
    System.err.println(s"[perfbench] recorded ${got.size} digests; outputs and SQL in $oracle, " +
      s"tables in $dir")
    spark.stop()
  }

  private def catalogDir(a: Args): String =
    new File(a.work, s"catalog-${a.size}").getAbsolutePath

  private def makeLoad(spark: SparkSession, a: Args): Load = a.workload match {
    case w @ ("match_city" | "match_metro") =>
      val in = MatchWorkload.setup(spark, MatchSizes((w, a.size)), a.seed)
      new Load {
        def op(tr: Tracer): Op = {
          val t0 = System.nanoTime()
          scala.util.Try(MatchWorkload.rep(spark, in, tr)).fold(
            e => {
              System.err.println(s"[perfbench] rep failed: $e")
              val all = in.nTrips + in.nImages
              Op((System.nanoTime() - t0) / 1e9, all, all, Map.empty, Seq.empty)
            },
            r => {
              val c = r.counters
              val hops = c.hopHits + c.hopMisses
              Op(r.wallS, r.attempted, r.failed, Map(
                "osm.graph_build.edges" -> r.graphEdges.toDouble,
                "router.graph_collect.edges" -> r.compactEdges.toDouble,
                "router.cands_join.cands_per_stop" -> r.cands.toDouble / in.nStops,
                "router.viterbi_match.kernel_solves" -> c.kernelSolves.toDouble,
                "router.viterbi_match.dijkstra_iters" -> c.dijkstraIters.toDouble,
                "router.viterbi_match.hop_hits" -> c.hopHits.toDouble,
                "router.viterbi_match.hop_misses" -> c.hopMisses.toDouble,
                "router.viterbi_match.hop_hit_ratio" ->
                  (if (hops == 0) 0.0 else c.hopHits.toDouble / hops),
                "router.viterbi_match.kernel_cpu_s" -> c.kernelCpuNs / 1e9,
                "overlay.tile_overlay.pairs" -> r.pairs.toDouble,
                "overlay.tile_verify.rows" -> r.verifiedRows.toDouble), c.exact)
            })
        }
        def headline(wallS: Double): String = f"trips_per_s ${in.nTrips / wallS}%.2f"
        def spanGroups(tr: Tracer, rep: Int): Map[String, Seq[Span]] =
          MatchWorkload.Calls.map(c => c -> tr.recorded.filter(s => s.rep == rep && s.name == c))
            .toMap
      }
    case "catalog" =>
      val dir = catalogDir(a)
      CatalogData.write(spark, dir, CatalogSf(a.size))
      val names = CatalogWorkload.names
      val expected = Json.stringMap(new String(Files.readAllBytes(Paths.get(a.expected)), UTF_8),
        a.size)
      val rng = new scala.util.Random(a.seed)
      new Load {
        def op(tr: Tracer): Op = {
          val order = rng.shuffle(names)
          val times = ArrayBuffer[(String, Double)]()
          var bad = 0L
          val t0 = System.nanoTime()
          order.foreach { q =>
            val q0 = System.nanoTime()
            val d = scala.util.Try(tr.span(s"${CatalogWorkload.ModuleOf(q)}.$q") {
              CatalogWorkload.digest(CatalogWorkload.query(spark, dir, q))
            }).fold(e => s"error: $e", identity)
            times += q -> (System.nanoTime() - q0) / 1e9
            if (!expected.get(q).contains(d)) {
              bad += 1
              System.err.println(s"[perfbench] $q digest $d, expected ${expected.getOrElse(q, "none")}")
            }
          }
          val wall = (System.nanoTime() - t0) / 1e9
          Op(wall, names.size, bad, times.map { case (q, s) =>
            s"${CatalogWorkload.ModuleOf(q)}.$q.s" -> s }.toMap, Seq.empty)
        }
        def headline(wallS: Double): String = f"catalog_pass_s $wallS%.3f"
        def spanGroups(tr: Tracer, rep: Int): Map[String, Seq[Span]] =
          CatalogWorkload.Modules.map { case (m, qs) =>
            s"$m.catalog" -> tr.recorded.filter(s => s.rep == rep &&
              qs.exists(q => s.name == s"$m.$q"))
          }.toMap
      }
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** The seven measures of every reported span: per traced op, summed over
    * the spans in the group, then the median over ops. */
  private def spanMetrics(tr: Tracer, load: Load, reps: Seq[Int],
                          cpus: Int): Seq[(String, Double, String)] = {
    val perRep = reps.map(r => load.spanGroups(tr, r))
    val groups = perRep.flatMap(_.keys).distinct
    groups.flatMap { g =>
      val rows = perRep.map { m =>
        val ss = m.getOrElse(g, Seq.empty)
        val s = ss.map(tr.selfNs).sum / 1e9
        val w = ss.map(tr.selfWork).foldLeft(Work.Zero)(_ + _)
        Map("s" -> s, "jobs" -> w.jobs.toDouble, "tasks" -> w.tasks.toDouble,
          "task_s" -> w.taskMs / 1e3, "gc_s" -> w.gcMs / 1e3,
          "shuffle_mb" -> w.shuffleBytes / 1048576.0,
          "driver_floor_s" -> (s - w.taskMs / 1e3 / cpus))
      }
      LayerMetrics.SpanMeasures.map { case (k, u) => (s"$g.$k", median(rows.map(_(k))), u) }
    }
  }

  def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.maxPlanStringLength", "1048576")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    CodegenFailures.attach()
    graft.functions.GeoFunctions.register(spark)
    spark
  }

  /** live heap after a full collection */
  private def liveHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    System.gc(); Thread.sleep(200); System.gc()
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** block-manager bytes held by persisted RDDs, after a full collection
    * has let the context cleaner drop unreferenced ones */
  private def storedMb(spark: SparkSession): Double = {
    System.gc(); Thread.sleep(500)
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
  }

  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m.getOrElse("size", "bench"), m("work"), m("out"), m("expected"),
      m.get("record").contains("1"))
  }
}
