package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.eval.Shapevl
import graft.fixtures.{SyntheticWorld, WorldTables}
import graft.images.ImageFixtures
import graft.osm.{ColorOps, GraphBuilder, OsmConfig}
import graft.overlay.ImageOverlay
import graft.plans.{Boundary, Snapshots}
import graft.router.{CompactGraph, Matcher}

/** The map-matching / overlay / eval pipeline exposed as driver queries.
  * These are the graph+routing kernels — not SQL-expressible, so they ship
  * without oracles (rows-only check); their exactness is asserted by the
  * golden ScalaTest suites (PipelineSpec, EvalSpec, OverlaySpec) instead.
  * Inputs are the deterministic synthetic world (seeded; no external data),
  * independent of the sf dir.
  *
  * This is the FLAGSHIP wiring (SparkEntry.entry serves artifacts().shapes):
  * eligibleTrips (F7) -> outlier-free bbox (F8/A1) -> graph build incl. G8
  * passes -> station-aware candidates (J4/J5 + U1-U5 statsimi) -> Viterbi
  * match with per-hop DP simplification (U10) -> color vote (A8) -> route
  * color consolidation (A7) -> shapevl eval + image overlay, with
  * Snapshots.stage checkpoints after the graph and candidate stages
  * (SURVEY §7.1 checkpoints; the north rule's resumability). */
object PipelineQueries {
  import GraftQueries.Q

  case class Artifacts(shapes: DataFrame, anchors: DataFrame, scores: DataFrame,
                       assigned: DataFrame, verified: DataFrame,
                       tripColors: DataFrame, routeColors: DataFrame,
                       hops: DataFrame, images: DataFrame,
                       t: WorldTables.Tables, eligTripStops: DataFrame)

  /** bump when graph/matcher semantics change — keeps persisted snapshot
    * checkpoints from serving stale stage output to a newer engine */
  val EngineVersion = "r5-snap"

  @volatile private var cache: (SparkSession, Artifacts) = null

  def artifacts(spark: SparkSession): Artifacts = synchronized {
    if (cache != null && (cache._1 eq spark)) return cache._2
    import spark.implicits._
    val world = SyntheticWorld.build(rows = 8, cols = 12)
    val t = WorldTables(spark, world)
    val cfg = OsmConfig.bus
    val snapDir = "target/snapshots/pipeline"
    val fp = Snapshots.fingerprint(EngineVersion,
      s"world-8x12-seed42-v${SyntheticWorld.FixtureVersion}",
      cfg.fingerprint.toString)

    // F7: trip eligibility (>=2 stop times, bus MOT, no pre-existing shape)
    val elig = Matcher.eligibleTrips(t.trips, t.routes, t.stopTimes,
      mots = Set(3), dropShapes = false)
    val tripStops = WorldTables.tripStops(t)
      .join(elig.select($"trip_id"), Seq("trip_id"), "left_semi")
    // F8 + A1: station outliers are excluded from the feed bbox (getGtfsBox)
    val okStops = Matcher.nonOutlierStops(tripStops, cfg.levelSpeedsKmh.max / 3.6)
    val bbox = GraphBuilder.feedBBox(
      t.stops.join(okStops, Seq("stop_id"), "left_semi")).pad(cfg.bboxPaddingM)

    val gt = GraphBuilder.build(spark, t.osmNodes, t.osmWays, t.osmRels, bbox, cfg)
    // J4/J6/F4: orphan-station snap + edge splitting (lazy — skipped
    // entirely when checkpoint #1 is already on disk)
    lazy val refined = graft.osm.StationSnap.refine(spark, gt, cfg, gt.blockers)._1
    // checkpoint #1: the routable, station-refined graph
    val edges = Snapshots.stage(spark, snapDir, "graph_edges", fp)(refined.edges)
    val stationsR = Snapshots.stage(spark, snapDir, "stations", fp)(refined.stations)
    val graph = CompactGraph.fromEdges(edges, gt.restrictions,
      gt.wayLines, gt.transitLines, gt.turnCycles)
    // checkpoint #2: station-aware snap candidates
    val cands = Snapshots.stage(spark, snapDir, "cands", fp)(
      Matcher.buildCandsWithStations(spark, t.stops, edges, stationsR, cfg))

    val mr = Matcher.matchTripsFull(spark, tripStops, cands, graph, cfg)
    val shapes = mr.shapes.cache()
    val anchors = mr.anchors
    val hops = mr.hops.cache()

    // A8 shape color vote + A7 route color consolidation over matched hops
    val tripColors = ColorOps.shapeColorVote(hops, edges, gt.wayLines).cache()
    val routeColors = ColorOps.consolidateRouteColors(t.trips, tripColors,
      t.routes).cache()

    val truthByTrip = t.trips.select($"trip_id", $"route_id")
      .join(t.truthShapes.withColumn("route_id",
        regexp_replace($"shape_id", "SHP_R", "R")), Seq("route_id"))
      .select($"trip_id".as("shape_id"), $"seq", $"lat", $"lng", $"travel_dist")
    val stopDists = t.stopTimes.select($"trip_id", $"seq", $"shape_dist")
    val stopDistsGen = anchors
      .join(shapes, anchors("trip_id") === shapes("shape_id") &&
        anchors("point_seq") === shapes("seq"))
      .select(anchors("trip_id"), $"stop_idx".as("seq"), $"travel_dist".as("shape_dist"))
    val scores = Shapevl.evaluate(spark, truthByTrip, shapes, stopDists, stopDistsGen)

    val images = ImageFixtures.table(spark, world, cfg.cellRes)
    val assigned = ImageOverlay.assign(images, shapes, cfg.cellRes)
    val verified = ImageOverlay.verify(spark, images)
    val a = Artifacts(shapes, anchors, scores, assigned, verified,
      tripColors, routeColors, hops, images, t, tripStops)
    cache = (spark, a)
    a
  }

  val all: Map[String, Q] = Map(
    // matched shapes, coordinates rounded for a stable dump. Types follow
    // the catalog's oracle-parity convention (ints -> long, floats ->
    // double) so the generated VALUES oracles compare bit-exactly.
    "q_match_shapes" -> ((s: SparkSession, _: String) => {
      import s.implicits._
      artifacts(s).shapes
        .select($"shape_id", $"seq".cast("long").as("seq"),
          round($"lat", 7).as("lat"), round($"lng", 7).as("lng"),
          round($"travel_dist", 1).cast("double").as("travel_dist"))
        .transform(Boundary.sorted(_, $"shape_id", $"seq"))
    }),
    // shapevl accuracy scores per trip
    "q_shapevl_scores" -> ((s: SparkSession, _: String) => {
      import s.implicits._
      artifacts(s).scores
        .select($"trip_id", round($"an", 4).cast("double").as("an"),
          round($"al", 4).cast("double").as("al"),
          round($"avg_fd", 1).cast("double").as("avg_fd"),
          $"n_segs".cast("long").as("n_segs"),
          $"skipped".cast("long").as("skipped"))
        .transform(Boundary.sorted(_, $"trip_id"))
    }),
    // raster->vector tile assignments
    "q_tile_assign" -> ((s: SparkSession, _: String) => {
      import s.implicits._
      artifacts(s).assigned
        .select($"image_id", $"shape_id", $"cell".cast("long").as("cell"))
        .transform(Boundary.sorted(_, $"image_id", $"shape_id"))
    }),
    // payload verification stats (input_hint invariant)
    "q_tile_verify" -> ((s: SparkSession, _: String) => {
      import s.implicits._
      artifacts(s).verified
        .groupBy($"fmt")
        .agg(count(lit(1)).as("n"),
          sum(when($"psnr_ok", 1L).otherwise(0L)).as("n_psnr_ok"),
          sum(when($"phash_ok", 1L).otherwise(0L)).as("n_phash_ok"),
          sum(when($"caption_ok", 1L).otherwise(0L)).as("n_caption_ok"))
        .transform(Boundary.sorted(_, $"fmt"))
    }),
    // A8: per-trip voted line color (coverage-weighted)
    "q_color_vote" -> ((s: SparkSession, _: String) => {
      import s.implicits._
      artifacts(s).tripColors
        .select($"trip_id", $"color".cast("long").as("color"),
          round($"coverage", 4).cast("double").as("coverage"))
        .transform(Boundary.sorted(_, $"trip_id"))
    }),
    // A7: consolidated route colors (route splits as route_id::N)
    "q_route_colors" -> ((s: SparkSession, _: String) => {
      import s.implicits._
      artifacts(s).routeColors
        .select($"route_id", $"new_route_id", $"color".cast("long").as("color"),
          $"text_color".cast("long").as("text_color"))
        .transform(Boundary.sorted(_, $"route_id", $"new_route_id"))
    }))

  /** INDEPENDENT invariant oracles for the six VALUES-golden queries. The
    * goldens (PipelineOracles) pin regressions but are engine-generated —
    * a wrong-but-stable kernel could self-certify through them. Each query
    * here computes violation counts of a SEMANTIC property over the engine
    * artifacts (and the independent GTFS fixture inputs), and its DuckDB
    * oracle is the constant the semantics demand (all-zero row) — nothing
    * on the oracle side derives from the engine. */
  val invariants: Map[String, Q] = Map(
    // q_match_shapes: travel_dist is a cumulative measure — it must start
    // at 0 and never decrease along a shape (W2); every eligible trip must
    // produce a shape; point seq is dense from 0
    "q_inv_shapes" -> ((s: SparkSession, _: String) => {
      import s.implicits._
      val a = artifacts(s)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"shape_id").orderBy($"seq")
      val flags = a.shapes
        .withColumn("p_dist", lag($"travel_dist", 1).over(w))
        .withColumn("rk", row_number().over(w))
      val nNonMono = flags.filter($"p_dist".isNotNull && $"travel_dist" < $"p_dist").count()
      val nBadStart = flags.filter($"rk" === 1 &&
        ($"seq" =!= 0 || $"travel_dist" =!= 0.0)).count()
      val nUnmatched = a.eligTripStops.select($"trip_id").distinct()
        .join(a.shapes.select($"shape_id".as("trip_id")).distinct(),
          Seq("trip_id"), "left_anti").count()
      Seq((nNonMono, nBadStart, nUnmatched))
        .toDF("n_nonmono", "n_bad_start", "n_unmatched")
    }),
    // q_match_shapes/q_shapevl anchors + hops vs the INDEPENDENT stop_times
    // table: one anchor per stop, strictly increasing, within the shape's
    // point range; hops per trip = stops - 1
    "q_inv_anchors" -> ((s: SparkSession, _: String) => {
      import s.implicits._
      val a = artifacts(s)
      val stopsPerTrip = a.eligTripStops
        .groupBy($"trip_id").agg(count(lit(1)).as("n_stops"))
      val anchorsPerTrip = a.anchors.groupBy($"trip_id").agg(count(lit(1)).as("n_anchors"))
      val nCountBad = stopsPerTrip.join(anchorsPerTrip, Seq("trip_id"), "left")
        .filter($"n_anchors".isNull || $"n_anchors" =!= $"n_stops").count()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"trip_id").orderBy($"stop_idx")
      val nNonInc = a.anchors
        .withColumn("p", lag($"point_seq", 1).over(w))
        .filter($"p".isNotNull && $"point_seq" <= $"p").count()
      val maxSeq = a.shapes.groupBy($"shape_id".as("trip_id"))
        .agg(max($"seq").as("max_seq"))
      val nRangeBad = a.anchors.join(maxSeq, Seq("trip_id"))
        .filter($"point_seq" < 0 || $"point_seq" > $"max_seq").count()
      val hopsPerTrip = a.hops.groupBy($"trip_id").agg(count(lit(1)).as("n_hops"))
      val nHopsBad = stopsPerTrip.join(hopsPerTrip, Seq("trip_id"), "left")
        .filter($"n_hops".isNull || $"n_hops" =!= $"n_stops" - 1).count()
      Seq((nCountBad, nNonInc, nRangeBad, nHopsBad))
        .toDF("n_count_bad", "n_noninc", "n_range_bad", "n_hops_bad")
    }),
    // q_tile_assign: the assignment must equal the set recomputed from
    // first principles — tile cell parsed out of the image id in SQL,
    // shape cells re-derived from the shapes artifact — in BOTH directions
    "q_inv_tiles" -> ((s: SparkSession, _: String) => {
      import s.implicits._
      val a = artifacts(s)
      val cfg = OsmConfig.bus
      val tiles = a.images.select($"image_id",
        split($"image_id", "_").getItem(1).cast("long").as("cell"))
      val shapeCells = a.shapes.select($"shape_id",
        graft.functions.GeoFunctions.gcell($"lat", $"lng", cfg.cellRes).as("cell"))
        .distinct()
      val expected = tiles.join(shapeCells, Seq("cell"))
        .select($"image_id", $"shape_id", $"cell")
      val got = a.assigned.select($"image_id", $"shape_id", $"cell")
      val nMissing = expected.join(got, Seq("image_id", "shape_id", "cell"), "left_anti").count()
      val nExtra = got.join(expected, Seq("image_id", "shape_id", "cell"), "left_anti").count()
      Seq((nMissing, nExtra)).toDF("n_missing", "n_extra")
    }),
    // q_color_vote/q_route_colors: every voted (route, color) pair appears
    // as a variant; a split route keeps at most one un-suffixed id;
    // coverage clears the vote threshold; text colors are black or white
    "q_inv_colors" -> ((s: SparkSession, _: String) => {
      import s.implicits._
      val a = artifacts(s)
      val voted = a.t.trips.select($"trip_id", $"route_id")
        .join(a.tripColors.select($"trip_id", $"color"), Seq("trip_id"))
        .select($"route_id", $"color").distinct()
      val nVoteLost = voted.join(
        a.routeColors.select($"route_id", $"color"),
        Seq("route_id", "color"), "left_anti").count()
      val nMultiKeep = a.routeColors
        .groupBy($"route_id")
        .agg(count(lit(1)).as("n"),
          sum(when(!$"new_route_id".contains("::"), 1L).otherwise(0L)).as("n_keep"))
        .filter($"n" > 1 && $"n_keep" > 1).count()
      val nCovBad = a.tripColors.filter($"coverage" <= 0.9).count()
      val nTextBad = a.routeColors
        .filter(!$"text_color".isin(0x000000, 0xffffff)).count()
      Seq((nVoteLost, nMultiKeep, nCovBad, nTextBad))
        .toDF("n_vote_lost", "n_multi_keep", "n_cov_bad", "n_text_bad")
    }),
    // q_shapevl_scores: aN/aL are fractions in [0,1]; Frechet averages are
    // non-negative; every scored trip has at least one segment
    "q_inv_scores" -> ((s: SparkSession, _: String) => {
      import s.implicits._
      val a = artifacts(s)
      val nRangeBad = a.scores.filter(
        $"an" < 0 || $"an" > 1 || $"al" < 0 || $"al" > 1 || $"avg_fd" < 0).count()
      val nNoSegs = a.scores.filter($"n_segs" <= 0).count()
      Seq((nRangeBad, nNoSegs)).toDF("n_range_bad", "n_no_segs")
    }),
    // distributed-vs-driver graph construction parity (the r5 scale
    // path): the per-bin executor-side build (DistGraphBuild — CC, snap
    // cogroup, file-backed bins) must produce exactly the refined edge
    // and station tables of the sequential driver pass on a multi-
    // component world. Row-set differences in either direction are
    // violations; the oracle constant is zero.
    "q_inv_dist_build" -> ((s: SparkSession, _: String) => {
      import s.implicits._
      val cfg = OsmConfig.bus
      val world = SyntheticWorld.buildMulti(cities = 3, rows = 8, cols = 12)
      val t = WorldTables(s, world)
      val bbox = GraphBuilder.feedBBox(t.stops).pad(cfg.bboxPaddingM)
      val gt = GraphBuilder.build(s, t.osmNodes, t.osmWays, t.osmRels, bbox, cfg)
      val driver = graft.osm.StationSnap.refine(s, gt, cfg, gt.blockers)._1
      val binDir = java.nio.file.Files.createTempDirectory("invbins").toString
      val dist = graft.router.DistGraphBuild.build(s, gt, cfg, binDir,
        minBinEdges = 1, maxBins = 8)
      def eSig(df: org.apache.spark.sql.DataFrame) = df.select(
        concat_ws("|", $"edge_id", $"way_id", $"from_id", $"to_id",
          round($"len_m", 6), $"cost10", $"lvl", $"oneway", to_json($"geom"))
          .as("sig"))
      def sSig(df: org.apache.spark.sql.DataFrame) = df.select(
        concat_ws("|", $"node_id", round($"lat", 9), round($"lon", 9),
          coalesce($"name", lit("")), coalesce($"track", lit(""))).as("sig"))
      val de = eSig(driver.edges); val xe = eSig(dist.edges)
      val ds = sSig(driver.stations); val xs = sSig(dist.stations)
      val nEdgeDiff = de.exceptAll(xe).count() + xe.exceptAll(de).count()
      val nStationDiff = ds.exceptAll(xs).count() + xs.exceptAll(ds).count()
      Seq((nEdgeDiff, nStationDiff)).toDF("n_edge_diff", "n_station_diff")
    }),
    // q_tile_verify: the input_hint per-row invariant — every image row
    // verifies (PSNR/phash/caption) and none is skipped
    "q_inv_verify" -> ((s: SparkSession, _: String) => {
      import s.implicits._
      val a = artifacts(s)
      val nFail = a.verified.filter(
        !$"psnr_ok" || !$"phash_ok" || !$"caption_ok").count()
      val nSkipped = a.images.count() - a.verified.count()
      Seq((nFail, nSkipped)).toDF("n_fail", "n_skipped")
    }))

  /** the semantic constants the invariants must equal — DuckDB-side */
  val invariantSql: Map[String, String] = Map(
    "q_inv_shapes" ->
      "SELECT CAST(0 AS BIGINT) AS n_nonmono, CAST(0 AS BIGINT) AS n_bad_start, CAST(0 AS BIGINT) AS n_unmatched",
    "q_inv_anchors" ->
      "SELECT CAST(0 AS BIGINT) AS n_count_bad, CAST(0 AS BIGINT) AS n_noninc, CAST(0 AS BIGINT) AS n_range_bad, CAST(0 AS BIGINT) AS n_hops_bad",
    "q_inv_tiles" ->
      "SELECT CAST(0 AS BIGINT) AS n_missing, CAST(0 AS BIGINT) AS n_extra",
    "q_inv_colors" ->
      "SELECT CAST(0 AS BIGINT) AS n_vote_lost, CAST(0 AS BIGINT) AS n_multi_keep, CAST(0 AS BIGINT) AS n_cov_bad, CAST(0 AS BIGINT) AS n_text_bad",
    "q_inv_scores" ->
      "SELECT CAST(0 AS BIGINT) AS n_range_bad, CAST(0 AS BIGINT) AS n_no_segs",
    "q_inv_verify" ->
      "SELECT CAST(0 AS BIGINT) AS n_fail, CAST(0 AS BIGINT) AS n_skipped",
    "q_inv_dist_build" ->
      "SELECT CAST(0 AS BIGINT) AS n_edge_diff, CAST(0 AS BIGINT) AS n_station_diff")
}
