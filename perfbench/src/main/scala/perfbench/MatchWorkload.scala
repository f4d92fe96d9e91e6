package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.eval.Shapevl
import graft.fixtures.{SyntheticWorld, WorldTables}
import graft.images.ImageFixtures
import graft.osm.{GraphBuilder, OsmConfig, StationSnap}
import graft.overlay.ImageOverlay
import graft.router.{CompactGraph, Dijkstra, HopCache, Matcher, MatcherKernel}

/** The map-matching pipeline, wired here from the layers' public calls:
  * graph build, station snap, graph collect, candidate join, Viterbi match,
  * tile overlay, tile verify. Each call is timed from outside and its
  * output checked; the engine is not modified. */
object MatchWorkload {
  final case class Size(rows: Int, cols: Int, tripsPerRoute: Int)

  /** The seven calls, in pipeline order, as `<module>.<span>`. */
  val Calls: Seq[String] = Seq("osm.graph_build", "osm.station_snap", "router.graph_collect",
    "router.cands_join", "router.viterbi_match", "overlay.tile_overlay", "overlay.tile_verify")

  /** Inputs generated and materialized in set-up; the reps only read them.
    * Materialized with localCheckpoint, not cache(), so the per-rep
    * clearCache does not drop them. */
  final class Inputs(val tables: WorldTables.Tables, val images: DataFrame,
                     val truth: DataFrame, val stopDists: DataFrame,
                     val nTrips: Long, val nStops: Long, val nImages: Long)

  private def materialize(df: DataFrame): DataFrame =
    df.localCheckpoint(true, StorageLevel.MEMORY_AND_DISK)

  def setup(spark: SparkSession, size: Size, seed: Long): Inputs = {
    import spark.implicits._
    val world = SyntheticWorld.build(size.rows, size.cols, seed = seed,
      tripsPerRoute = size.tripsPerRoute, variedTrips = true)
    val raw = WorldTables(spark, world)
    val t = WorldTables.Tables(
      osmNodes = materialize(raw.osmNodes), osmWays = materialize(raw.osmWays),
      osmRels = materialize(raw.osmRels), stops = materialize(raw.stops),
      routes = materialize(raw.routes), trips = materialize(raw.trips),
      stopTimes = materialize(raw.stopTimes), truthShapes = materialize(raw.truthShapes))
    val images = materialize(
      ImageFixtures.table(spark, world, OsmConfig.bus.cellRes, noiseTiles = 64))
    // truth shapes are per route; every trip of a route follows its route's
    // shape (the same join the flagship oracle uses)
    val truth = materialize(t.trips.select($"trip_id", $"route_id")
      .join(t.truthShapes.withColumn("route_id", regexp_replace($"shape_id", "SHP_R", "R")),
        Seq("route_id"))
      .select($"trip_id".as("shape_id"), $"seq", $"lat", $"lng", $"travel_dist"))
    val stopDists = materialize(t.stopTimes.select($"trip_id", $"seq", $"shape_dist"))
    new Inputs(t, images, truth, stopDists, world.trips.size.toLong, world.stops.size.toLong,
      images.count())
  }

  /** Per-rep work counters of the router: reset before a rep, read after. */
  final case class Counters(kernelSolves: Long, dijkstraIters: Long, hopHits: Long,
                            hopMisses: Long, kernelCpuNs: Long) {
    /** the counters that must repeat exactly across reps of one run */
    def exact: Seq[(String, Long)] = Seq("router.viterbi_match.kernel_solves" -> kernelSolves,
      "router.viterbi_match.dijkstra_iters" -> dijkstraIters,
      "router.viterbi_match.hop_hits" -> hopHits, "router.viterbi_match.hop_misses" -> hopMisses)
  }

  private def resetCounters(): Unit = {
    Dijkstra.Iters.reset()
    MatcherKernel.KernelSolves.reset()
    MatcherKernel.KernelNanos.reset()
    MatcherKernel.KernelCpuNanos.reset()
    HopCache.clear() // also resets HopCache.Hits/Misses
  }

  private def readCounters(): Counters = Counters(MatcherKernel.KernelSolves.sum(),
    Dijkstra.Iters.sum(), HopCache.Hits.sum(), HopCache.Misses.sum(),
    MatcherKernel.KernelCpuNanos.sum())

  final case class Rep(wallS: Double, counters: Counters, graphEdges: Long,
                       compactEdges: Long, cands: Long, pairs: Long, verifiedRows: Long,
                       attempted: Long, failed: Long)

  /** One pipeline rep, graph build through tile verify, then the checks:
    * every trip has a shape that scores an == 0 under shapevl against the
    * truth shapes, and every image verifies (psnr, phash and caption). */
  def rep(spark: SparkSession, in: Inputs, tr: Tracer): Rep = {
    import spark.implicits._
    val t = in.tables
    val cfg = OsmConfig.bus
    spark.catalog.clearCache()
    resetCounters()
    val t0 = System.nanoTime()
    val (gt0, bbox, graphEdges) = tr.span("osm.graph_build") {
      val bbox = GraphBuilder.feedBBox(t.stops).pad(cfg.bboxPaddingM)
      val g = GraphBuilder.build(spark, t.osmNodes, t.osmWays, t.osmRels, bbox, cfg)
      (g, bbox, g.edges.cache().count())
    }
    val gt = tr.span("osm.station_snap") {
      val (g, _) = StationSnap.refine(spark, gt0, cfg, gt0.blockers)
      g.edges.cache().count()
      g
    }
    val graph = tr.span("router.graph_collect") {
      CompactGraph.fromEdges(gt.edges, gt.restrictions, gt.wayLines, gt.transitLines,
        gt.turnCycles)
    }
    val (cands, nCands) = tr.span("router.cands_join") {
      val c = Matcher.buildCandsWithStations(spark, t.stops, gt.edges, gt.stations, cfg,
        maxAbsLat = Some(math.max(math.abs(bbox.latMin), math.abs(bbox.latMax))))
        .localCheckpoint(false, StorageLevel.MEMORY_AND_DISK_SER)
      (c, c.count())
    }
    val mr = tr.span("router.viterbi_match") {
      val mr = Matcher.matchTripsFull(spark, WorldTables.tripStops(t), cands, graph, cfg)
      mr.shapes.cache().count()
      mr
    }
    val pairs = tr.span("overlay.tile_overlay") {
      ImageOverlay.assign(in.images, mr.shapes, cfg.cellRes).cache().count()
    }
    // the verdict columns are aggregated, so the decode runs for every row
    val (verifiedRows, badImages) = tr.span("overlay.tile_verify") {
      val r = ImageOverlay.verify(spark, in.images)
        .agg(count(lit(1)), sum(when($"psnr_ok" && $"phash_ok" && $"caption_ok", 0L)
          .otherwise(1L)))
        .first()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val counters = readCounters()

    val stopDistsGen = mr.anchors
      .join(mr.shapes, mr.anchors("trip_id") === mr.shapes("shape_id") &&
        mr.anchors("point_seq") === mr.shapes("seq"))
      .select(mr.anchors("trip_id"), $"stop_idx".as("seq"), $"travel_dist".as("shape_dist"))
    val goodTrips = Shapevl.evaluate(spark, in.truth, mr.shapes, in.stopDists, stopDistsGen)
      .filter(!$"skipped" && $"an" === 0.0).count()
    val failed = math.max(0L, in.nTrips - goodTrips) + badImages +
      math.max(0L, in.nImages - verifiedRows)
    Rep(wallS, counters, graphEdges, graph.numEdges.toLong, nCands, pairs, verifiedRows,
      in.nTrips + in.nImages, failed)
  }
}
