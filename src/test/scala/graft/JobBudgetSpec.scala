package graft

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.graftbridge.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.fixtures.{SyntheticWorld, WorldTables}
import graft.osm.{GraphBuilder, OsmConfig, StationSnap}
import graft.overlay.ImageOverlay
import graft.images.ImageFixtures
import graft.router.{CompactGraph, Dijkstra, HopCache, Matcher, MatcherKernel}

/** Spark jobs per pipeline phase. Every job is a scheduler round trip, an
  * AQE re-plan and a set of whole-stage classes to generate and compile, so
  * on a small world the job count, not executor work, sets the wall time of
  * a rep. The seven calls are wired as the repository benchmark wires them
  * (graph build through tile verify) on a seeded 8x12 world; a second rep is
  * measured after a warm-up rep. Each phase must stay within its job
  * budget, and the router's work counters must equal the recorded values:
  * removing jobs must not change what the kernel does. Codegen compiles per
  * phase are printed, not asserted (they depend on the codegen cache). */
class JobBudgetSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** Spark jobs per phase of one rep (the seven calls sum to 103 in the
    * formulation before the fused plans) */
  val Budget: Map[String, Long] = Map("osm.graph_build" -> 11, "osm.station_snap" -> 7,
    "router.graph_collect" -> 6, "router.cands_join" -> 6, "router.viterbi_match" -> 21,
    "overlay.tile_overlay" -> 7, "overlay.tile_verify" -> 2)

  private final class JobCounter extends SparkListener {
    val jobs = new LongAdder
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.increment()
  }

  private def materialize(df: org.apache.spark.sql.DataFrame) =
    df.localCheckpoint(true, StorageLevel.MEMORY_AND_DISK)

  /** jobs and compiles per phase of one rep, plus the router counters */
  private def rep(t: WorldTables.Tables, images: org.apache.spark.sql.DataFrame,
                  counter: JobCounter): (Seq[(String, Long, Long)], Seq[Long]) = {
    import spark.implicits._
    val cfg = OsmConfig.bus
    spark.catalog.clearCache()
    Dijkstra.Iters.reset()
    MatcherKernel.KernelSolves.reset()
    HopCache.clear()
    val phases = Seq.newBuilder[(String, Long, Long)]
    def phase[T](name: String)(body: => T): T = {
      ListenerDrain(spark.sparkContext)
      val j0 = counter.jobs.sum()
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val r = body
      ListenerDrain(spark.sparkContext)
      phases += ((name, counter.jobs.sum() - j0,
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0))
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
    spark.sparkContext.addSparkListener(counter)
    try {
      rep(t, images, counter) // warm-up
      val (phases, counters) = rep(t, images, counter)
      phases.foreach { case (n, j, c) =>
        println(f"[job-budget] $n%-22s jobs $j%3d (budget ${Budget(n)}%3d) compiles $c%4d")
      }
      println(s"[job-budget] total jobs ${phases.map(_._2).sum} compiles ${phases.map(_._3).sum}")
      phases.foreach { case (n, j, _) => assert(j <= Budget(n), s"$n ran $j jobs") }
      // kernel solves, Dijkstra iterations, hop-cache hits and misses
      assert(counters == Seq(4L, 623L, 0L, 8L))
    } finally spark.sparkContext.removeSparkListener(counter)
  }
}
