package graft.tools

import org.apache.spark.sql.SparkSession

/** Two-parallelism scaling evidence (BASELINE.json north rule): run the
  * identical match+overlay pipeline at local[N] and local[4N] on the same
  * input, report throughput at both plus scaling efficiency
  * (T_N / T_4N) / 4. Writes BENCH/BASELINE.md on the default world
  * (`writesBaseline`).
  *
  * Methodology (r1's was rejected as unusable — superlinear kernel number,
  * job number buried in fixed overhead):
  *  - the world is sized so the measured stages run >= 60 s at local[N],
  *    amortizing Spark's fixed stage overhead;
  *  - N and 4N runs are INTERLEAVED, the first level alternating by rep
  *    (rep 1: N, 4N; rep 2: 4N, N; ...), so neither host-level drift (CPU
  *    steal bursts) nor leftover warm-up lands on one level only;
  *  - one full-size warm-up run precedes measurement (same JVM: JIT stays
  *    hot across Spark sessions); caches (Spark + hop memo) are cleared
  *    before every measured run;
  *  - best-of-reps per level (bursty steal makes the minimum the
  *    uncontended measurement);
  *  - an efficiency above 1.05 is reported as a HARNESS FAILURE, not a
  *    result — superlinear scaling from 4x cores is physically implausible;
  *  - both levels' sessions set spark.default.parallelism to 4N, so the
  *    salt grain, the fixture slicing and every other parallelism-derived
  *    default are the large level's at both: one plan, two core counts.
  */
object ScalingBench {
  /** local-cluster mode: the two "cluster sizes" are REAL executor-process
    * counts (workers x 4 cores, each its own JVM/heap/GC), not thread
    * counts inside one shared heap. local[N] vs local[4N] shares one heap
    * and one collector, so the 4N level pays 4x the allocation rate into
    * the same GC budget — a distortion no real cluster has (4x executors
    * bring 4x heaps). Requires SPARK_HOME and SPARK_SCALA_VERSION in the
    * environment (the worker launcher resolves its classpath from them),
    * and SPARK_LOCAL_DIRS pointed at tmpfs: standalone workers IGNORE
    * spark.local.dir ("overridden by the cluster manager" per SparkConf)
    * and default executor shuffle files onto the single virtual disk —
    * measured as 157 s of shuffle-write + 28 s of fetch-wait time inside
    * ONE match phase at 4 executors. main() fails fast if it is unset. */
  def clusterMode: Boolean = sys.env.contains("SPARK_GRAFT_CLUSTER")
  /** cores per executor JVM. Default 4 mirrors a common cluster shape;
    * override (SPARK_GRAFT_EXEC_CORES) to measure at level pairs the host
    * probe certifies — e.g. 2 lets 1-vs-4 executors (2 vs 8 cores) sit
    * inside the box's measured parallel-capacity envelope, where 8-vs-32
    * is bandwidth-saturated whatever the code does (BENCH/BASELINE.md,
    * CPU/memory probes). */
  val CoresPerExecutor: Int =
    sys.env.getOrElse("SPARK_GRAFT_EXEC_CORES", "4").toInt

  /** display label for a parallelism level in the published tables */
  def levelName(cores: Int): String =
    if (clusterMode) s"${math.max(1, cores / CoresPerExecutor)} executors x $CoresPerExecutor cores"
    else s"local[$cores]"

  /** `parallelism`: spark.default.parallelism, when it must not follow
    * the core count (a scaling comparison pins it at both levels) */
  def session(cores: Int, parallelism: Option[Int] = None): SparkSession = {
    val b = SparkSession.builder()
      .appName(s"graft-scaling-$cores")
      // FIXED partition count at both levels (not =cores): tying it to
      // cores handed the small level 2-partition shuffles whose reduce
      // tasks held half the join state each — a memory hazard (measured:
      // a 6g executor full-GC death spiral at the N level) AND a plan
      // difference between the levels being compared. AQE coalesces the
      // same way at both levels.
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // plan strings are structurally bounded now (lineage checkpoints at
      // the diamond choke points cut the r2-era 45M-char expansions to
      // <~120k); the cap is a backstop against regressions, set above the
      // legitimate maximum so a default run logs zero truncation warnings
      .config("spark.sql.maxPlanStringLength", "1048576")
      // a single driver full-GC pause (tens of seconds at 48g) or host
      // steal burst must not cascade into executor-lost -> checkpoint
      // block loss -> run abort; the generous timeouts trade failure for
      // one slow (screened-out) rep
      .config("spark.executor.heartbeatInterval", "30s")
      .config("spark.network.timeout", "600s")
      // storage budget must sit BELOW the old generation (2/3 of heap for
      // ParallelGC's default NewRatio=2): the 0.6 default ~= old-gen size,
      // so a run whose checkpoint blocks reach budget drives old-gen
      // occupancy to ~100% and ParallelGC into a full-GC spiral. 0.45
      // leaves ~1/5 of the old gen for the memo caches + broadcast graph;
      // overflow blocks spill to (tmpfs) local dirs, like a real
      // cluster's disks.
      .config("spark.memory.fraction", "0.45")
      // tmpfs by default, env-gated with disk fallback + wipe-at-start
      // (see Bench.benchLocalDir)
      .config("spark.local.dir", graft.Bench.benchLocalDir())
    parallelism.foreach(p => b.config("spark.default.parallelism", p.toLong))
    val s = (if (clusterMode) {
      val workers = math.max(1, cores / CoresPerExecutor)
      val memMB = sys.env.getOrElse("SPARK_GRAFT_EXEC_MEM_MB", "6144").toInt
      b.master(s"local-cluster[$workers,$CoresPerExecutor,$memMB]")
        // the memMB in the master string sizes the WORKER's allocatable
        // memory only — without spark.executor.memory the executor JVMs
        // launch at the 1g default (seen as -Xmx1024M in the ExecutorRunner
        // launch command) and pay ~13% of task time in GC at bench sizes
        .config("spark.executor.memory", s"${memMB}m")
        .config("spark.executor.extraClassPath",
          new java.io.File("target/scala-2.13/classes").getAbsolutePath)
        // executor JVMs: parallel collector without adaptive oscillation,
        // and — critically — ActiveProcessorCount pinned to the executor's
        // core share: by default EVERY executor JVM sizes its GC/JIT/netty
        // thread pools for the whole 32-core box (8 executors x ~23
        // ParallelGC threads = thread-storm whenever any JVM collects)
        // NO -Xmn pin here: Spark's unified memory (~0.6 x heap of cached
        // blocks) is long-lived and sits in the OLD gen — pinning a large
        // nursery starved old space below the storage demand and produced
        // a full-GC death spiral (measured: 783 s executor GC in one match
        // phase vs 17 s with the default 1/3 nursery)
        // With -XX:-UseAdaptiveSizePolicy, ParallelGC freezes generations
        // at their INITIAL sizes, so both must be pinned explicitly:
        //  - -Xms == -Xmx, else the executor runs forever in a ~1.5 GB
        //    old gen regardless of Xmx (jstat -gccapacity: OGC 1.47 GB at
        //    -Xmx16g, 96% occupancy, a full-GC-per-eden-fill spiral that
        //    mimicked a hang);
        //  - a SMALL nursery (heap/16), else committing the heap hands a
        //    2-core executor a 5.3 GB eden whose young collections take
        //    ~15 s each with 2 GC threads (jstat: YGCT 104 s / 7 GCs).
        //    Old gen keeps ~15/16 of the heap: Spark's storage budget and
        //    the memo caches are old-gen residents.
        // GC threads get a floor of 2 even for 1-core executors: GC is
        // stop-the-world (the task core is idle during collection), so a
        // second collector thread borrows a neighbor core only while the
        // mutator is paused — exactly what a 1-core executor on a real
        // multi-core host does. Measured without the floor: a 1-core
        // executor spent 131 s of a 218 s match phase in single-threaded
        // collections of a 6g heap, grading the collector, not the engine.
        .config("spark.executor.extraJavaOptions",
          s"-Xms${memMB}m -Xmn${math.max(512, memMB / 16)}m " +
          s"-XX:+UseParallelGC -XX:-UseAdaptiveSizePolicy " +
          s"-XX:ActiveProcessorCount=$CoresPerExecutor " +
          s"-XX:ParallelGCThreads=${math.max(2, CoresPerExecutor)}")
    } else b.master(s"local[$cores]")).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.GeoFunctions.register(s)
    s
  }

  def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum
  }

  /** One measured run's full evidence: per-phase seconds, GC time, solver
    * task(group) count — the per-phase split is what localizes any
    * anti-scaling (r2 reported only the total and the collapse could not be
    * attributed to a stage). */
  case class JobSample(phases: Map[String, Double], trips: Long,
                       gcMs: Long, groups: Long,
                       metrics: Map[String, graft.Bench.PhaseM],
                       hcMiss: Long = 0, hcHit: Long = 0,
                       stealPct: Double = 0.0) {
    def stage: Double =
      phases("cands_join") + phases("viterbi_match") + phases("tile_overlay")
  }

  /** One executor JVM's router counters and live heap, read after a run. */
  case class ExecCounters(hcMiss: Long, hcHit: Long, iters: Long,
                          kernelCpuNs: Long, kernelNs: Long, groups: Long,
                          paramsNs: Long, trieNs: Long, matNs: Long,
                          hcSize: Long, heapMb: Long)

  /** run a closure once on every executor JVM (oversubscribed tiny job;
    * in local mode the single "driver" executor). Used to clear and read
    * the executor-resident memo caches, which driver-side calls cannot
    * reach in cluster mode. */
  def onExecutors[T](spark: SparkSession)(f: () => T): Seq[(String, T)] = {
    val n = math.max(64, spark.sparkContext.defaultParallelism * 8)
    spark.sparkContext.parallelize(1 to n, n).mapPartitions { _ =>
      Iterator((org.apache.spark.SparkEnv.get.executorId, f()))
    }.collect().groupBy(_._1).map { case (id, rows) => (id, rows.head._2) }
      .toSeq.sortBy(_._1)
  }

  /** One measured pipeline run: cold caches, warm JIT. */
  def jobStage(spark: SparkSession, cores: Int, rows: Int, cols: Int,
               tpr: Int): JobSample = {
    spark.catalog.clearCache()
    // clearCache() frees SQL-cached plans only — localCheckpoint blocks
    // live as persistent RDDs until the DRIVER garbage-collects the RDD
    // references and the ContextCleaner broadcasts removal, which a 48g
    // rarely-collecting driver never does mid-bench. Left in place, the
    // warm-up's checkpoint blocks pin executor storage at its budget
    // (~0.6 x heap ~ the whole old gen) and the measured run's blocks on
    // top push old-gen occupancy to ~97%: a full-GC-per-allocation death
    // spiral (jstat: 3-4 full GCs/s, solver threads at 10% of a core).
    spark.sparkContext.getPersistentRDDs.valuesIterator.foreach(_.unpersist(true))
    graft.router.HopCache.clear()
    // cluster mode: the memo caches live in the EXECUTOR JVMs — a
    // driver-side clear() leaves the measured run re-using (or, pre-epoch
    // generations, capacity-starved by) the warm-up's entries. Measured
    // before the executor clear landed: the measured rep ran 66% SLOWER
    // than its own warm-up at 1 executor (dead warm-up entries had
    // exhausted the no-eviction capacity).
    onExecutors(spark)(() => {
      graft.router.HopCache.clear()
      graft.router.Dijkstra.Iters.reset()
      graft.router.MatcherKernel.KernelNanos.reset()
      graft.router.MatcherKernel.KernelCpuNanos.reset()
      graft.router.MatcherKernel.KernelGroups.reset()
      graft.router.MatcherKernel.ParamsNanos.reset()
      graft.router.MatcherKernel.TrieNanos.reset()
      graft.router.MatcherKernel.MatNanos.reset()
      // executor full GC between runs: the prior run's garbage otherwise
      // rides into the measured run as near-threshold old-gen occupancy
      // and its collection cost lands inside the measurement (observed:
      // 277 s of executor GC in a measured phase whose warm-up GC'd 13 s)
      System.gc()
      0
    })
    System.gc()
    val gc0 = gcMillis()
    val g0 = graft.router.MatcherKernel.KernelGroups.sum()
    val k0 = graft.router.MatcherKernel.KernelNanos.sum()
    val kc0 = graft.router.MatcherKernel.KernelCpuNanos.sum()
    val steal0 = graft.Bench.StealMeter.sample()
    val st = graft.Bench.runPipeline(spark, rows, cols, tpr)
    val stealPct = graft.Bench.StealMeter.pct(steal0, graft.Bench.StealMeter.sample())
    val gcMs = gcMillis() - gc0
    // per-executor memo/kernel counters (executor-side adders were reset
    // by the clears above, so these are this run's): total misses across
    // executors is the DUPLICATED-memo evidence — the same ctx entries
    // recomputed once per JVM that touches them. A real cluster pays this
    // CPU on its own cores; on one box it is a measured anti-scaling term.
    val hc = onExecutors(spark)(() => {
      import graft.router.MatcherKernel._
      ExecCounters(graft.router.HopCache.Misses.sum(), graft.router.HopCache.Hits.sum(),
        graft.router.Dijkstra.Iters.sum(), KernelCpuNanos.sum(), KernelNanos.sum(),
        KernelGroups.sum(), ParamsNanos.sum(), TrieNanos.sum(), MatNanos.sum(),
        graft.router.HopCache.size(),
        (Runtime.getRuntime.totalMemory() - Runtime.getRuntime.freeMemory()) >> 20)
    })
    println(s"[exec-heap-mb] " + hc.map { case (id, c) => s"$id=${c.heapMb}" }.mkString(" "))
    def sumOf(f: ExecCounters => Long): Long = hc.map(c => f(c._2)).sum
    val hcMiss = sumOf(_.hcMiss); val hcHit = sumOf(_.hcHit)
    val iters = sumOf(_.iters)
    val groups =
      if (clusterMode) sumOf(_.groups)
      else graft.router.MatcherKernel.KernelGroups.sum() - g0
    val kWall =
      if (clusterMode) sumOf(_.kernelNs) / 1e9
      else (graft.router.MatcherKernel.KernelNanos.sum() - k0) / 1e9
    val kCpu =
      if (clusterMode) sumOf(_.kernelCpuNs) / 1e9
      else (graft.router.MatcherKernel.KernelCpuNanos.sum() - kc0) / 1e9
    println(st.phases.map { case (k, v) => f"$k=$v%.2f" }
      .mkString(s"[phases cores=$cores] ", " ", "") +
      f" gc_ms=$gcMs groups=$groups kernel_wall=$kWall%.1f kernel_cpu=$kCpu%.1f" +
      f" hc_miss=$hcMiss hc_hit=$hcHit dijkstra_iters=$iters execs=${hc.length}" +
      f" steal_pct=$stealPct%.1f")
    // kernel split: where the solve's own time goes besides the Dijkstra
    // searches (per-trip params, trie build, shape materialization)
    println(f"[kernel cores=$cores] wall=$kWall%.1f s cpu=$kCpu%.1f s " +
      f"params=${sumOf(_.paramsNs) / 1e9}%.1f s trie=${sumOf(_.trieNs) / 1e9}%.1f s " +
      f"mat=${sumOf(_.matNs) / 1e9}%.1f s hc_size=${sumOf(_.hcSize)}")
    // attribution: executor task-time vs wall — a phase whose wall greatly
    // exceeds taskMs/cores is driver/scheduling-bound, not executor-bound
    println(st.phases.map { case (k, _) =>
      val m = st.metrics.getOrElse(k, graft.Bench.PhaseM(0, 0, 0))
      f"$k=${m.taskMs / 1000.0}%.1f/${m.gcMs / 1000.0}%.1f/${m.nTasks}/${m.maxTaskMs / 1000.0}%.1f"
    }.mkString(s"[taskSec/gcSec/nTasks/maxTask cores=$cores] ", " ", ""))
    // shuffle/serialization attribution (all INSIDE executorRunTime except
    // deser, which precedes it): names the cost when taskMs balloons with
    // executor count while kernel CPU stays flat
    println(st.phases.map { case (k, _) =>
      val m = st.metrics.getOrElse(k, graft.Bench.PhaseM(0, 0, 0))
      f"$k=${m.fetchMs / 1000.0}%.1f/${m.shufWriteMs / 1000.0}%.1f/${m.serMs / 1000.0}%.1f/${m.deserMs / 1000.0}%.1f"
    }.mkString(s"[fetchWait/shufWrite/resultSer/taskDeser cores=$cores] ", " ", ""))
    JobSample(st.phases.toMap, st.rows, gcMs, groups, st.metrics, hcMiss, hcHit,
      stealPct)
  }

  /** One solver group as `Matcher.solveSeqs` hands it to the kernel: the
    * cluster's line, first-stop name and lineTo set, and its sequences
    * with relative times. */
  case class KernelGroup(line: String, fromName: String, toNames: Array[String],
                         seqs: Array[(String, Array[graft.router.Matcher.TS])])

  /** Kernel-only scaling: the solver groups that `Matcher.solverInputs`
    * forms, each solved through `MatcherKernel.solveCluster` exactly as
    * the production solve calls it, in fixed thread pools at n and 4n
    * threads, interleaved with the first level alternating by rep, cold
    * hop memo each run.
    * Also reports per-solve CPU time at each level — if those differ the
    * measurement is a JIT/memo artifact, not scaling. */
  def kernelScaling(n: Int, reps: Int): (Double, Double, Int, Double, Double) = {
    val spark = session(8)
    val (graph, candMap, groups) = try {
      import spark.implicits._
      val cfg = graft.osm.OsmConfig.bus
      val world = graft.fixtures.SyntheticWorld.build(48, 96,
        tripsPerRoute = 900, variedTrips = true)
      val t = graft.fixtures.WorldTables(spark, world)
      val bbox = graft.osm.GraphBuilder.feedBBox(t.stops).pad(cfg.bboxPaddingM)
      val gt0 = graft.osm.GraphBuilder.build(spark, t.osmNodes, t.osmWays, t.osmRels, bbox, cfg)
      gt0.edges.cache()
      val gt = graft.osm.StationSnap.refine(spark, gt0, cfg, gt0.blockers)._1
      val graph = graft.router.CompactGraph.fromEdges(gt.edges, gt.restrictions,
        gt.wayLines, gt.transitLines, gt.turnCycles)
      val cands = graft.router.Matcher.buildCandsWithStations(
        spark, t.stops, gt.edges, gt.stations, cfg)
      val candMap = cands.select($"stop_id", $"edge_id", $"progr", $"pen10",
          $"py", $"px", $"oneway").collect()
        .map(r => (r.getString(0), (r.getLong(1), r.getDouble(2), r.getLong(3),
          r.getDouble(4), r.getDouble(5), r.getInt(6))))
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      import graft.router.Matcher
      val in = Matcher.solverInputs(spark, Matcher.distinctSeqs(
        Matcher.tripStopsWithKey(graft.fixtures.WorldTables.tripStops(t))), cands)
      val groups = in.seqRows.collect()
        .groupBy(r => (r.c_line, r.c_stop, r.salt)).toArray.sortBy(_._1)
        .map { case ((line, stop, _), rows) =>
          KernelGroup(line, rows.head.from_name, in.toNames((line, stop)),
            rows.sortBy(_.seq_key).map(r => (r.seq_key, Matcher.relativeTimes(r.stops))))
        }
      (graph, candMap, groups)
    } finally spark.stop()
    val nSeqs = groups.map(_.seqs.length).sum
    val cfg = graft.osm.OsmConfig.bus

    /** Fixed work = `batches` DISTINCT copies of the whole distinct-sequence
      * workload: copy b perturbs every candidate's snap penalty by a
      * per-(batch, stop) pseudorandom decisecond offset, so its lattice
      * costs — and therefore its hop/layer memo keys — differ from every
      * other copy's (the layer memo is shift-invariant, so a uniform
      * offset would NOT produce new work; the per-stop jitter does).
      * This is the production cache pattern scaled up — one warm memo
      * across a large stream of mostly-distinct clusters — instead of the
      * r4-draft per-batch HopCache.clear(), which re-paid the cold-start
      * stampede `batches` times and biased the measurement against the
      * higher thread count (more concurrent first-touch duplicates). */
    val targetSec = sys.env.getOrElse("SPARK_GRAFT_KERNEL_SECS", "60").toDouble
    def perturbed(b: Int): Map[String, Array[(Long, Double, Long, Double, Double, Int)]] =
      if (b == 0) candMap
      else candMap.map { case (sid, cs) =>
        val off = ((b.toLong * 0x9e3779b97f4a7c15L + sid.hashCode) >>> 33) % 10
        sid -> cs.map(c => (c._1, c._2, c._3 + off, c._4, c._5, c._6))
      }

    /** run `batches` distinct workload copies through a `par`-thread pool,
      * no intermediate barriers; memo cleared once at start (cold, then
      * warm across the stream — the production lifecycle). */
    def runPool(par: Int, batches: Int,
                maps: Int => Map[String, Array[(Long, Double, Long, Double, Double, Int)]]):
        (Double, Double) = {
      graft.router.HopCache.clear()
      val gcB0 = gcMillis()
      val cpu0 = graft.router.MatcherKernel.KernelCpuNanos.sum()
      val t0 = System.nanoTime()
      val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
      // one task per solver group, as a production solver task runs it
      // (one Runnable per solve made the single producer thread the
      // serial bottleneck at 32 consumers, which benchmarked the queue
      // lock, not the kernel)
      val latch = new java.util.concurrent.CountDownLatch(batches * groups.length)
      var b = 0
      while (b < batches) {
        val cm = maps(b)
        groups.foreach { gr =>
          pool.submit(new Runnable { def run(): Unit = {
            try graft.router.MatcherKernel.solveCluster(gr.line, gr.fromName, gr.toNames,
              gr.seqs, graph, cm, cfg)
            finally latch.countDown(); () } })
        }
        b += 1
      }
      latch.await()
      pool.shutdown()
      pool.awaitTermination(1200, java.util.concurrent.TimeUnit.SECONDS)
      val wall = (System.nanoTime() - t0) / 1e9
      if (batches > 1)
        println(f"[kernel pool par=$par] wall=$wall%.2f gc_s=${(gcMillis() - gcB0) / 1000.0}%.1f")
      (wall, (graft.router.MatcherKernel.KernelCpuNanos.sum() - cpu0) / 1e9)
    }
    // JIT warm at both thread shapes
    runPool(n, 1, perturbed); runPool(4 * n, 1, perturbed)
    // calibrate the copy count so the measured stage honors the harness's
    // own >= 60 s rule at the SLOW level (r3 measured 0.15 s and certified
    // noise): same fixed work at both levels, time-to-fixed-work. The
    // calibration probe runs COLD (clear + 1 copy), matching the per-copy
    // cost inside the measured stream.
    val (probe, _) = runPool(n, 1, perturbed)
    val batches = math.max(1, math.ceil(targetSec / math.max(1e-3, probe)).toInt)
    println(f"[kernel calibrate] probe=$probe%.2f s/copy -> $batches workload copies " +
      f"(target >= $targetSec%.0f s at $n threads)")
    // precompute the perturbed candidate maps OUTSIDE the measured region
    val allMaps = Array.tabulate(batches)(perturbed)
    val pairs = (1 to reps).map { i =>
      val run = levelsInOrder(n, i).map(par => par -> runPool(par, batches, allMaps)).toMap
      val (an, acn) = run(n)
      val (a4, ac4) = run(4 * n)
      println(f"[kernel rep $i] t_n=$an%.2f (cpu $acn%.1f) t_4n=$a4%.2f (cpu $ac4%.1f)")
      (an, a4, acn, ac4)
    }
    (pairs.map(_._1).min, pairs.map(_._2).min, nSeqs * batches,
      pairs.map(_._3).min, pairs.map(_._4).min)
  }

  /** The two levels in the order rep `rep` runs them: N first on odd reps,
    * 4N first on even ones. */
  def levelsInOrder(n: Int, rep: Int): Seq[Int] =
    if (rep % 2 == 1) Seq(n, 4 * n) else Seq(4 * n, n)

  def validity(eff: Double): String =
    if (eff > 1.05) "HARNESS FAILURE: superlinear (> 1.05) — measurement artifact"
    else if (eff >= 0.8) "meets target (>= 0.8)"
    else "below target (< 0.8)"

  /** BENCH/BASELINE.md is the default world's table (64x128, 400 trips per
    * route) over at least 3 reps; any other job-level run only prints its
    * table, so a toy run cannot replace the committed one. */
  def writesBaseline(rows: Int, cols: Int, tpr: Int, reps: Int): Boolean =
    rows == 64 && cols == 128 && tpr == 400 && reps >= 3

  def main(args: Array[String]): Unit = {
    if (clusterMode && !sys.env.contains("SPARK_LOCAL_DIRS")) {
      System.err.println("ScalingBench: SPARK_GRAFT_CLUSTER needs " +
        "SPARK_LOCAL_DIRS set (tmpfs, e.g. /dev/shm/graft-exec-local) — " +
        "standalone workers ignore spark.local.dir and would put executor " +
        "shuffle files on the single virtual disk, benchmarking the disk.")
      sys.exit(2)
    }
    val n = sys.env.getOrElse("SPARK_GRAFT_N", "8").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val rows = sys.env.getOrElse("SPARK_GRAFT_ROWS", "64").toInt
    val cols = sys.env.getOrElse("SPARK_GRAFT_COLS", "128").toInt
    val tpr = sys.env.getOrElse("SPARK_GRAFT_TPR", "400").toInt

    // fast iteration on the kernel pools alone (no BASELINE.md write)
    if (sys.env.contains("SPARK_GRAFT_KERNEL_ONLY")) {
      val (kN, k4N, nSolves, cpuN, cpu4N) = kernelScaling(n, reps)
      val kEff = (kN / k4N) / 4.0
      println(f"""{"metric":"kernel_scaling","kernel_eff":$kEff%.3f,"t_n":$kN%.2f,"t_4n":$k4N%.2f,"cpu_n":$cpuN%.1f,"cpu_4n":$cpu4N%.1f,"cpu_ratio":${cpu4N / math.max(1e-9, cpuN)}%.2f,"solves":$nSolves}""")
      return
    }

    // ---- job level: interleaved sessions, same JVM (JIT stays warm) ----
    val samples = scala.collection.mutable.Map(n -> Vector.empty[JobSample],
      4 * n -> Vector.empty[JobSample])
    var trips = 0L
    var warmed = false
    def runPair(rep: Int): Unit = for (par <- levelsInOrder(n, rep)) {
      // one plan at both levels: an unpinned parallelism hands the small
      // level a coarser salt grain (more trie prefix sharing, fewer
      // cogroup candidate copies), and the ratio would mix plan change
      // with resource change
      val spark = session(par, Some(4 * n))
      try {
        graft.Bench.runPipeline(spark, 8, 12, 2) // small warm at this shape
        // JIT steady state: one full-size warm-up. In local[] mode the JIT
        // lives in the one shared JVM, so one warm-up serves all sessions;
        // in cluster mode every session spawns FRESH executor JVMs, so
        // each session warms its own executors before being measured.
        if (clusterMode || !warmed) { jobStage(spark, par, rows, cols, tpr); warmed = true }
        val s = jobStage(spark, par, rows, cols, tpr)
        trips = s.trips
        samples(par) :+= s
        println(f"[job rep $rep] ${spark.sparkContext.master} stage=${s.stage}%.2f s " +
          f"steal=${s.stealPct}%.1f%%")
      } finally spark.stop()
    }
    for (rep <- 1 to reps) runPair(rep)
    // a rep that overlapped a host steal burst measures the hypervisor,
    // not the engine: reps with steal < 3% are "clean" and only they feed
    // the published minima. If a level has no clean rep, run up to 2 more
    // interleaved pairs before falling back to all reps.
    val StealCleanPct = 3.0
    def cleanOf(par: Int): Vector[JobSample] =
      samples(par).filter(_.stealPct < StealCleanPct)
    var extra = 0
    while ((cleanOf(n).isEmpty || cleanOf(4 * n).isEmpty) && extra < 2) {
      extra += 1
      println(s"[steal] a level has no clean rep yet - extra interleaved pair $extra")
      runPair(reps + extra)
    }
    def repsOf(par: Int): Vector[JobSample] = {
      val c = cleanOf(par); if (c.nonEmpty) c else samples(par)
    }
    val stealNote = Seq(n, 4 * n).map { par =>
      val all = samples(par)
      f"${levelName(par)}: ${repsOf(par).size}/${all.size} reps clean " +
        s"(steal% per rep: ${all.map(s => f"${s.stealPct}%.1f").mkString(", ")})"
    }.mkString("; ")
    println(s"[steal] $stealNote")
    // per-phase minima at each level: this host shows intermittent
    // multi-10-second external stalls (vCPU co-tenancy) that hit ONE
    // random phase of a run; taking the stage total of any single run
    // lets one stalled phase poison the two clean ones. The per-phase
    // minimum over interleaved reps is the uncontended measurement of
    // each phase — the stage figure is their sum.
    val phaseNames = Seq("graph_build", "station_snap", "graph_collect",
      "cands_join", "viterbi_match", "images_build", "tile_overlay",
      "tile_verify")
    def phaseMin(par: Int, ph: String): Double = repsOf(par).map(_.phases(ph)).min
    def stageOf(par: Int): Double =
      phaseMin(par, "cands_join") + phaseMin(par, "viterbi_match") +
        phaseMin(par, "tile_overlay")
    val bestN = repsOf(n).minBy(_.stage); val best4N = repsOf(4 * n).minBy(_.stage)
    val tN = stageOf(n); val t4N = stageOf(4 * n)
    val thrN = trips / tN; val thr4N = trips / t4N
    val eff = (tN / t4N) / 4.0
    // floor-adjusted stage efficiency: subtract each stage phase's driver
    // floor (wall minus executor-task-time/cores — plan compilation, AQE,
    // action barriers) from both levels. On a real cluster that constant
    // is identical at N and 4N executors, so the adjusted number is the
    // cluster-predictive one; BOTH are published.
    val stagePh = Seq("cands_join", "viterbi_match", "tile_overlay")
    def floorOf(par: Int, ph: String): Double = {
      val best = if (par == n) bestN else best4N
      val m = best.metrics.getOrElse(ph, graft.Bench.PhaseM(0, 0, 0))
      math.max(0.0, phaseMin(par, ph) - m.taskMs / 1000.0 / par)
    }
    val floorN = stagePh.map(floorOf(n, _)).sum
    val floor4N = stagePh.map(floorOf(4 * n, _)).sum
    val effAdj = ((tN - floorN) / (t4N - floor4N)) / 4.0
    val phaseTable = phaseNames.map { ph =>
      val a = phaseMin(n, ph); val b = phaseMin(4 * n, ph)
      val mA = bestN.metrics.getOrElse(ph, graft.Bench.PhaseM(0, 0, 0))
      val mB = best4N.metrics.getOrElse(ph, graft.Bench.PhaseM(0, 0, 0))
      // driver floor = wall the executors cannot account for (plan
      // compilation, AQE, action barriers, result collection). On a real
      // cluster this constant is identical at N and 4N executors; in the
      // local[] proxy it poisons small phases' apparent efficiency, so it
      // is quantified per phase: a phase is executor-bound when the floor
      // is under a quarter of its wall.
      val floorA = math.max(0.0, a - mA.taskMs / 1000.0 / n)
      val floorB = math.max(0.0, b - mB.taskMs / 1000.0 / (4 * n))
      val bound = if (floorA < 0.25 * a && floorB < 0.25 * b) "executor" else "driver"
      f"| $ph | $a%.2f | $b%.2f | ${(a / b) / 4.0}%.2f " +
        f"| ${mA.taskMs / 1000.0}%.1f / ${mA.gcMs / 1000.0}%.1f / ${mA.nTasks} " +
        f"| ${mB.taskMs / 1000.0}%.1f / ${mB.gcMs / 1000.0}%.1f / ${mB.nTasks} " +
        f"| $floorA%.2f / $floorB%.2f | $bound |"
    }.mkString("\n")
    val gcLine = f"Driver GC ms (best-stage rep): N-level=${bestN.gcMs}, " +
      f"4N-level=${best4N.gcMs}; solver groups(tasks): " +
      f"${bestN.groups} (vs ${4 * n} cores at the 4N level)\n\n" +
      f"Memo duplication across executor JVMs (best-stage rep): hop-memo " +
      f"misses N=${bestN.hcMiss} / 4N=${best4N.hcMiss} " +
      f"(ratio ${if (bestN.hcMiss > 0) f"${best4N.hcMiss.toDouble / bestN.hcMiss}%.2f" else "n/a"}), " +
      f"hits N=${bestN.hcHit} / 4N=${best4N.hcHit}. Each executor JVM " +
      f"recomputes the memo entries its tasks touch; the miss ratio is the " +
      f"duplicated-CPU factor that executor scale-out pays for memoized " +
      f"work (a real cluster pays it on its own added cores)."

    // ---- kernel level (in-process, no Spark scheduling) ----
    val (kN, k4N, nSolves, cpuN, cpu4N) = kernelScaling(n, reps)
    val kEff = (kN / k4N) / 4.0
    val cpuRatio = if (cpuN > 0) cpu4N / cpuN else Double.NaN

    val md =
      s"""# BENCH/BASELINE — two-parallelism scaling evidence
         |
         |North rule: identical job at two CLUSTER SIZES on the SAME input;
         |sandbox proxy = ${if (clusterMode)
            s"local-cluster[${n / CoresPerExecutor},$CoresPerExecutor,*] vs " +
            s"local-cluster[${4 * n / CoresPerExecutor},$CoresPerExecutor,*] — " +
            "REAL executor processes (own JVM, heap, GC, serialized " +
            "broadcast/shuffle), 4x executors = 4x heaps, exactly like a " +
            "cluster scale-out"
          else s"local[$n] vs local[${4 * n}] cores (one shared JVM heap — " +
            "note the 4N level pays 4x the allocation rate into one " +
            "collector, a distortion real clusters do not have)"}.
         |Methodology: interleaved N/4N reps, the first level alternating by
         |rep (steal bursts cannot bias one level), one full-size JIT warm-up
         |before measurement, caches cold per run, per-PHASE best-of-$reps
         |per level (the host's intermittent multi-10 s external stalls hit
         |one random phase of a run; phase
         |minima over interleaved reps are the uncontended measurements and
         |the stage figure is their sum). Shuffle/checkpoint blocks live on
         |tmpfs: the sandbox has one shared virtual disk, while a real
         |N-executor cluster brings N local disks whose aggregate bandwidth
         |scales with the executors being measured. Efficiency > 1.05 is
         |reported as a harness failure, never as a result.
         |Host-steal screening: the guest samples /proc/stat steal around
         |every rep; a rep that overlapped a hypervisor steal burst (>= 3%
         |of all-core time) measures the hypervisor and is excluded from
         |the minima (with up to 2 extra interleaved pairs run if a level
         |has no clean rep). This run: $stealNote. Both levels' sessions
         |set spark.default.parallelism=${4 * n}, so the salt grain, the
         |fixture slicing and every parallelism-derived default are the same
         |at BOTH levels: the two levels run the identical logical plan.
         |
         |Level choice: N is picked so that 4N lies within the host's
         |MEASURED parallel-capacity envelope (see the CPU probe linked at
         |the bottom — pure-CPU spin work with zero memory traffic). Where
         |the probe itself cannot reach ~4x between two levels, no code on
         |this box can, and a measurement at those levels would grade the
         |hypervisor, not the engine.
         |
         |## Full job (station-aware candidate join + Viterbi match + tile overlay)
         |
         || parallelism | stage time (s) | throughput (trips/s) |
         ||---|---|---|
         || ${levelName(n)} | ${f"$tN%.2f"} | ${f"$thrN%.1f"} |
         || ${levelName(4 * n)} | ${f"$t4N%.2f"} | ${f"$thr4N%.1f"} |
         |
         |**Job-level scaling efficiency (T_N / T_4N) / 4 = ${f"$eff%.3f"}**
         |— ${validity(eff)}
         |
         |Floor-adjusted (driver floors of ${f"$floorN%.2f"} s / ${f"$floor4N%.2f"} s
         |subtracted at N / 4N — see the per-phase floor column; a real
         |cluster pays the same driver constant at both sizes):
         |**((T_N - floor_N) / (T_4N - floor_4N)) / 4 = ${f"$effAdj%.3f"}**
         |— ${validity(effAdj)}
         |
         |Per-phase split (best rep per level; measured stage = cands_join +
         |viterbi_match + tile_overlay). task/gc/n = summed executor task
         |seconds / executor GC seconds / task count (from the Spark
         |listener of the best rep) — wall >> task/cores means the phase is
         |driver- or scheduling-bound:
         |
         || phase | ${levelName(n)} (s) | ${levelName(4 * n)} (s) | efficiency | N: task/gc/n | 4N: task/gc/n | driver floor N/4N (s) | bound |
         ||---|---|---|---|---|---|---|---|
         |$phaseTable
         |
         |$gcLine
         |
         |## Matching kernel (in-process thread pools, no Spark scheduling)
         |
         || threads | wall (s) | solves/s | solve CPU (s) |
         ||---|---|---|---|
         || $n | ${f"$kN%.2f"} | ${f"${nSolves / kN}%.1f"} | ${f"$cpuN%.1f"} |
         || ${4 * n} | ${f"$k4N%.2f"} | ${f"${nSolves / k4N}%.1f"} | ${f"$cpu4N%.1f"} |
         |
         |**Kernel scaling efficiency (T_N / T_4N) / 4 = ${f"$kEff%.3f"}**
         |— ${validity(kEff)}. Per-solve CPU ratio 4N/N = ${f"$cpuRatio%.2f"}
         |(a ratio far from 1.0 would mean the wall-clock diff is a JIT/memo
         |artifact, not scaling).
         |
         |Input: deterministic synthetic world rows=$rows cols=$cols
         |tripsPerRoute=$tpr ($trips matched trips; kernel stage: $nSolves
         |distinct sequence solves on the 48x96/tpr=900 world), seed 42.
         |
         |## Analysis
         |
         |The hand-written reading of these numbers (the r4 residual gap,
         |the choice of level pair, root causes) is in
         |[ANALYSIS.md](ANALYSIS.md); the host's parallel-capacity probe
         |(`tools.CpuProbe`) is in [cpuprobe.md](cpuprobe.md).
         |""".stripMargin
    // hand-written analysis lives in BENCH/ANALYSIS.md (linked above), so
    // a regeneration can never destroy it
    println(md)
    if (writesBaseline(rows, cols, tpr, reps)) {
      val dir = java.nio.file.Paths.get("BENCH")
      java.nio.file.Files.createDirectories(dir)
      java.nio.file.Files.writeString(dir.resolve("BASELINE.md"), md)
    } else println(s"BENCH/BASELINE.md not written: rows=$rows cols=$cols tpr=$tpr " +
      s"reps=$reps is not the default world (64x128, tpr 400) over >= 3 reps")
    val valid = eff <= 1.05 && kEff <= 1.05
    println(f"""{"metric":"scaling_efficiency","value":$eff%.3f,"unit":"ratio","valid":$valid,"eff_adj":$effAdj%.3f,"floor_n":$floorN%.2f,"floor_4n":$floor4N%.2f,"t_n":$tN%.2f,"t_4n":$t4N%.2f,"kernel_eff":$kEff%.3f,"kernel_t_n":$kN%.2f,"kernel_t_4n":$k4N%.2f,"kernel_cpu_ratio":$cpuRatio%.2f,"n":$n,"trips":$trips}""")
  }
}
