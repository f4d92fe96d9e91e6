package graft

import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

import org.apache.spark.graftbridge.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions.{lit, regexp_replace}
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.eval.Shapevl
import graft.fixtures.{SyntheticWorld, WorldTables}
import graft.osm.{GraphBuilder, OsmConfig, StationSnap}
import graft.overlay.ImageOverlay
import graft.images.ImageFixtures
import graft.router.{CompactGraph, Dijkstra, HopCache, Matcher, MatcherKernel}

/** Spark jobs per pipeline phase. Every job is a scheduler round trip, an
  * AQE re-plan and a set of whole-stage classes to generate and compile, so
  * on a small world the job count, not executor work, sets the wall time of
  * a rep. The eight calls are wired as the repository benchmark wires them
  * (graph build through tile verify, then the shape evaluation) on a seeded
  * 8x12 world; a second rep is measured after a warm-up rep. Each phase
  * must stay within its job budget, and the router's work counters must
  * equal the recorded values: removing jobs must not change what the kernel
  * does. Each phase's broadcast hash joins on a key other than one integral
  * column must equal the recorded count: such a join builds a hash relation
  * that holds a whole memory page (16 MB at 4 GB heap, 4 cores) in every JVM
  * that reads it, however few its rows. Codegen compiles are printed per
  * phase and asserted for the rep's seven pipeline phases together: a
  * class that misses Spark's codegen cache is generated, compiled and
  * JIT-compiled again on every rep, which makes class count a large share
  * of a small rep's time. */
class JobBudgetSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** Spark jobs per phase of one rep (the first seven calls sum to 103 in
    * the formulation before the fused plans, 59 before the grouped passes
    * per key) */
  val Budget: Map[String, Long] = Map("osm.graph_build" -> 11, "osm.station_snap" -> 7,
    "router.graph_collect" -> 4, "router.cands_join" -> 5, "router.viterbi_match" -> 14,
    "overlay.tile_overlay" -> 7, "overlay.tile_verify" -> 2, "eval" -> 3)

  /** the pipeline phases of a rep, the calls the repository benchmark times */
  val Pipeline: Set[String] = Budget.keySet - "eval"

  /** codegen compiles of the pipeline phases of one rep (346 before the
    * grouped passes per key; measured 247 to 251 since) */
  val CompileBudget = 260L

  /** broadcast hash joins per phase whose build key is not one integral
    * column; `viterbi_match`'s are `WorldTables.tripStops`' stop and trip
    * joins */
  val PagedBroadcasts: Map[String, Long] = Budget.map { case (n, _) => n -> 0L } +
    ("router.viterbi_match" -> 2L)

  private final class JobCounter extends SparkListener {
    val jobs = new LongAdder
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.increment()
  }

  private val Integral = Set[DataType](ByteType, ShortType, IntegerType, LongType)

  /** the build keys of the broadcast hash joins not keyed by one integral
    * column, from the final plans of every query that completes, each join
    * counted once */
  private final class PagedBroadcastCounter extends QueryExecutionListener {
    private val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean])
    val joins = new java.util.concurrent.ConcurrentLinkedQueue[String]
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      walk(qe.executedPlan)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    private def walk(p: SparkPlan): Unit = if (seen.add(p)) {
      p match {
        case j: BroadcastHashJoinExec =>
          val keys = if (j.buildSide == BuildLeft) j.leftKeys else j.rightKeys
          if (keys.size != 1 || !Integral(keys.head.dataType))
            joins.add(keys.map(_.sql).mkString("(", ", ", ")"))
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case m: InMemoryTableScanExec => walk(m.relation.cachedPlan)
        case _ =>
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
  }

  private def materialize(df: org.apache.spark.sql.DataFrame) =
    df.localCheckpoint(true, StorageLevel.MEMORY_AND_DISK)

  /** jobs, compiles and paged broadcast joins per phase of one rep, plus
    * the router counters */
  private def rep(t: WorldTables.Tables, images: org.apache.spark.sql.DataFrame,
                  counter: JobCounter, paged: PagedBroadcastCounter)
      : (Seq[(String, Long, Long, Seq[String])], Seq[Long]) = {
    import spark.implicits._
    val cfg = OsmConfig.bus
    spark.catalog.clearCache()
    Dijkstra.Iters.reset()
    MatcherKernel.KernelSolves.reset()
    HopCache.clear()
    val phases = Seq.newBuilder[(String, Long, Long, Seq[String])]
    def phase[T](name: String)(body: => T): T = {
      ListenerDrain(spark.sparkContext)
      val j0 = counter.jobs.sum()
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val b0 = paged.joins.size
      val r = body
      ListenerDrain(spark.sparkContext)
      phases += ((name, counter.jobs.sum() - j0,
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0,
        paged.joins.asScala.toSeq.drop(b0)))
      r
    }
    val (gt0, bbox) = phase("osm.graph_build") {
      val bbox = GraphBuilder.feedBBox(t.stops).pad(cfg.bboxPaddingM)
      val g = GraphBuilder.build(spark, t.osmNodes, t.osmWays, t.osmRels, bbox, cfg)
      g.edges.cache().count()
      (g, bbox)
    }
    val gt = phase("osm.station_snap") {
      val (g, _) = StationSnap.refine(spark, gt0, cfg, gt0.blockers)
      g.edges.cache().count()
      g
    }
    val graph = phase("router.graph_collect") {
      CompactGraph.fromEdges(gt.edges, gt.restrictions, gt.wayLines, gt.transitLines,
        gt.turnCycles)
    }
    val cands = phase("router.cands_join") {
      val c = Matcher.buildCandsWithStations(spark, t.stops, gt.edges, gt.stations, cfg,
        maxAbsLat = Some(math.max(math.abs(bbox.latMin), math.abs(bbox.latMax))))
        .localCheckpoint(false, StorageLevel.MEMORY_AND_DISK_SER)
      c.count()
      c
    }
    val mr = phase("router.viterbi_match") {
      val mr = Matcher.matchTripsFull(spark, WorldTables.tripStops(t), cands, graph, cfg)
      mr.shapes.cache().count()
      mr
    }
    phase("overlay.tile_overlay") {
      ImageOverlay.assign(images, mr.shapes, cfg.cellRes).cache().count()
    }
    phase("overlay.tile_verify") {
      ImageOverlay.verify(spark, images).agg(org.apache.spark.sql.functions.count($"psnr_ok"))
        .first()
    }
    // the evaluation's inputs are joined outside the phase: the benchmark
    // materializes the truth tables at set-up and runs its own join for the
    // generated stop dists
    val truth = materialize(t.trips.select($"trip_id", $"route_id")
      .join(t.truthShapes.withColumn("route_id", regexp_replace($"shape_id", "SHP_R", "R")),
        Seq("route_id"))
      .select($"trip_id".as("shape_id"), $"seq", $"lat", $"lng", $"travel_dist"))
    val stopDists = materialize(t.stopTimes.select($"trip_id", $"seq", $"shape_dist"))
    val stopDistsGen = materialize(mr.anchors
      .join(mr.shapes, mr.anchors("trip_id") === mr.shapes("shape_id") &&
        mr.anchors("point_seq") === mr.shapes("seq"))
      .select(mr.anchors("trip_id"), $"stop_idx".as("seq"), $"travel_dist".as("shape_dist")))
    phase("eval") {
      Shapevl.evaluate(spark, truth, mr.shapes, stopDists, stopDistsGen)
        .filter(!$"skipped" && $"an" === lit(0.0)).count()
    }
    (phases.result(), Seq(MatcherKernel.KernelSolves.sum(), Dijkstra.Iters.sum(),
      HopCache.Hits.sum(), HopCache.Misses.sum()))
  }

  test("pipeline rep: jobs per phase within budget, router counters unchanged") {
    val world = SyntheticWorld.build(8, 12, seed = 5L, tripsPerRoute = 2, variedTrips = true)
    val raw = WorldTables(spark, world)
    val t = WorldTables.Tables(materialize(raw.osmNodes), materialize(raw.osmWays),
      materialize(raw.osmRels), materialize(raw.stops), materialize(raw.routes),
      materialize(raw.trips), materialize(raw.stopTimes), materialize(raw.truthShapes))
    val images = materialize(
      ImageFixtures.table(spark, world, OsmConfig.bus.cellRes, noiseTiles = 8))
    val counter = new JobCounter
    val paged = new PagedBroadcastCounter
    spark.sparkContext.addSparkListener(counter)
    spark.listenerManager.register(paged)
    try {
      rep(t, images, counter, paged) // warm-up
      val (phases, counters) = rep(t, images, counter, paged)
      phases.foreach { case (n, j, c, b) =>
        println(f"[job-budget] $n%-22s jobs $j%3d (budget ${Budget(n)}%3d) compiles $c%4d " +
          f"paged broadcast joins ${b.size}%2d ${b.mkString(" ")}")
      }
      val pipeline = phases.filter { case (n, _, _, _) => Pipeline(n) }
      val compiles = pipeline.map(_._3).sum
      println(s"[job-budget] pipeline jobs ${pipeline.map(_._2).sum} compiles $compiles, " +
        s"with eval jobs ${phases.map(_._2).sum} compiles ${phases.map(_._3).sum}")
      phases.foreach { case (n, j, _, _) => assert(j <= Budget(n), s"$n ran $j jobs") }
      assert(compiles <= CompileBudget, s"the pipeline phases compiled $compiles classes")
      assert(phases.map { case (n, _, _, b) => n -> b.size.toLong }.toMap == PagedBroadcasts)
      // kernel solves, Dijkstra iterations, hop-cache hits and misses
      assert(counters == Seq(4L, 623L, 0L, 8L))
    } finally {
      spark.sparkContext.removeSparkListener(counter)
      spark.listenerManager.unregister(paged)
    }
  }
}
