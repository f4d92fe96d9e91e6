package graft.router

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GeoFunctions._
import graft.geo.{Cell, Geo}
import graft.osm.OsmConfig

/** The map-matching stage: stops -> edge candidates (broadcast k-ring
  * spatial join, the declared core of the north star), trips clustered by
  * identical stop sequence (the reference's trie-leaf collapse,
  * /root/reference/src/pfaedle/router/TripTrie.tpp:18-105 — exact duplicates
  * dominate), one Viterbi solve per distinct sequence, results joined back
  * to every trip.
  *
  * Scale design: the candidate join is stops x edges on exploded cell keys;
  * the stops side is k-ring-exploded and AQE broadcasts the smaller side.
  * The road graph is broadcast as a compact primitive-array structure (the
  * reference holds the same graph fully in RAM single-node; per-MOT + bbox
  * filtering bounds it — SURVEY §7.3). Identical-sequence dedup makes kernel
  * work proportional to DISTINCT sequences; the join-back is a plain
  * shuffle join on seq_key that AQE skew-splits if one sequence has
  * thousands of trips.
  */
object Matcher {

  /** Eager local checkpoint with SERIALIZED storage. The default level
    * keeps block rows as deserialized JVM objects, whose true footprint
    * Spark's SizeEstimator undercounts severely for nested-array payloads
    * (shape points, hop edge lists) — a heavy checkpoint can fill an
    * executor's whole old generation while the memory manager believes it
    * is under budget (measured: a permanent full-GC spiral, 3-4 full
    * GCs/s, solver threads at 10% of a core). Serialized blocks are one
    * byte[] per block: exactly accounted, GC-opaque, spillable. */
  def checkpointSer(df: DataFrame): DataFrame =
    df.localCheckpoint(true, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)

  /** Lazy variant: defers only the FINAL stage. Under AQE,
    * Dataset.checkpoint executes the physical plan at the call (inside
    * withAction, traced as a `localCheckpoint` action): every shuffle and
    * broadcast stage of the plan runs right here, as jobs of their own.
    * What the first consuming action folds in is the last stage — it
    * computes and stores the blocks, which every later reference reads —
    * saving the one dedicated result job an eager checkpoint runs. Safe
    * here because every consumer chain in the match path is sequential
    * single-threaded driver code — no two actions race to materialize the
    * same unpersisted checkpoint. */
  def checkpointSerLazy(df: DataFrame): DataFrame =
    df.localCheckpoint(false, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)

  /** Candidate generation with station-aware penalties (J4 + J6 + U1-U5):
    * buildCands plus, per stop, a bonus for edges that touch an OSM station
    * node whose (normalized) name is similar to the stop's — the
    * reference's station snap with statsimi classification
    * (OsmBuilder.cpp:1231-1313, StatsimiClassifier.cpp). Non-station
    * candidates get nonStationPenaltySec added. stops must carry `name`. */
  def buildCandsWithStations(spark: SparkSession, stops: DataFrame, edges: DataFrame,
                             stations: DataFrame, cfg: OsmConfig,
                             maxAbsLat: Option[Double] = None): DataFrame = {
    import spark.implicits._
    // stop x station candidate pairs via the same k-ring join
    val k = 1
    val normB = cfg.stationNormRules
    val simUdf = udf((a: String, b: String, d: Double) =>
      graft.functions.StringSim.stationsSimilar(a, b, d,
        graft.functions.StringSim.normalizerFor(normB)))
    // U6 track/platform matching (reference StatInfo track +
    // routing_platform_unmatched_penalty intent, ShapeBuilder.cpp:205-230):
    // a station candidate whose normalized track differs from the stop's
    // platform_code is penalized; absent info on either side is neutral
    val trackRules = cfg.trackNormRules
    val trkMismUdf = udf((pc: String, trk: String) => {
      if (pc == null || trk == null || pc.isEmpty || trk.isEmpty) 0
      else {
        val n = graft.functions.StringSim.normalizerFor(trackRules)
        if (n.norm(pc) == n.norm(trk)) 0 else 1
      }
    })
    val pcCol = if (stops.columns.contains("platform_code"))
      coalesce($"platform_code", lit("")) else lit("")
    val stopRings = stops.select($"stop_id", $"name".as("stop_name"),
        pcCol.as("pc"), $"lat".as("s_lat"), $"lng".as("s_lng"))
      .withColumn("cell", explode(kring(gcell($"s_lat", $"s_lng", cfg.cellRes), k)))
    val trkCol = if (stations.columns.contains("track"))
      coalesce($"track", lit("")) else lit("")
    val simPairs = stopRings
      .join(stations.select($"node_id", $"name".as("st_name"), trkCol.as("trk"),
        $"lat".as("st_lat"), $"lon".as("st_lon"), $"cell"), Seq("cell"))
      .withColumn("d_m", haversineM($"s_lat", $"s_lng", $"st_lat", $"st_lon"))
      .filter($"d_m" <= cfg.maxSnapDistanceM)
      .filter(simUdf($"stop_name", $"st_name", $"d_m"))
      .withColumn("trk_mism", trkMismUdf($"pc", $"trk"))
    // ONE per-stop aggregate carries everything the candidates need from
    // the stop x station pairs: the similar stations as (node, track
    // mismatch) pairs, and the nearest similar station. Candidates then
    // join it once on stop_id (was: a per-(stop, node) aggregate joined
    // twice, on the from and the to endpoint, plus a per-stop best-station
    // aggregate joined a third time).
    //  - a vertex aliasing several platforms counts as matching if ANY
    //    matches: the endpoint's mismatch is the min over its pairs;
    //  - the NEAREST similar station per stop — matching track beats
    //    distance (two same-name platforms of one station are otherwise
    //    indistinguishable): candidates touching that vertex snap their
    //    position onto it, so matched shapes terminate exactly at the
    //    station node (the reference routes via station group nodes,
    //    OsmBuilder snapStation + ShapeBuilder getECM). The pair-level min
    //    over (trk_mism, d_m, node_id) is the per-node min followed by the
    //    per-stop min (lexicographic order is hierarchical; st_lat/st_lon
    //    are constant per node).
    val stopStations = simPairs.groupBy($"stop_id")
      .agg(collect_list(struct($"node_id", $"trk_mism")).as("sims"),
        min_by(struct($"node_id", $"st_lat", $"st_lon"),
          struct($"trk_mism", $"d_m", $"node_id")).as("b"))
    val cands = buildCandsWithEnds(spark, stops, edges, cfg, maxAbsLat)
    val nonStationPen10 = graft.geo.Geo.costToInt(cfg.nonStationPenaltySec)
    val platformPen10 = graft.geo.Geo.costToInt(cfg.platformUnmatchedPenaltySec)
    // track mismatch of the similar stations at an endpoint (null: none)
    def endMism(end: String) = array_min(transform(
      filter($"sims", x => x.getField("node_id") === col(end)), x => x.getField("trk_mism")))
    // an edge is a "station candidate" if either endpoint is a similar station
    // both sides arrive hash-partitioned by stop_id (the top-K window's
    // exchange, the per-stop aggregate's): a merge join needs no further
    // stage, where a run-time switch to broadcast adds a broadcast job
    cands.join(stopStations.hint("shuffle_merge"), Seq("stop_id"), "left_outer")
      .withColumn("from_mism", endMism("from_id"))
      .withColumn("to_mism", endMism("to_id"))
      .withColumn("pen10",
        when($"from_mism".isNotNull || $"to_mism".isNotNull,
          // emulateReferenceTrackPenalty flips the condition to the
          // reference's literal (inverted) ShapeBuilder.cpp:216-219 test
          $"pen10" + when(least(coalesce($"from_mism", lit(1)),
            coalesce($"to_mism", lit(1))) ===
              (if (cfg.emulateReferenceTrackPenalty) 0 else 1),
            lit(platformPen10)).otherwise(lit(0L)))
          .otherwise($"pen10" + lit(nonStationPen10)))
      .withColumn("best_node", $"b.node_id")
      .withColumn("at_from", $"best_node".isNotNull && $"from_id" === $"best_node")
      .withColumn("at_to", $"best_node".isNotNull && $"to_id" === $"best_node")
      .withColumn("progr", when($"at_from", lit(0.0))
        .when($"at_to", lit(1.0)).otherwise($"progr"))
      .withColumn("py", when($"at_from" || $"at_to", $"b.st_lat").otherwise($"py"))
      .withColumn("px", when($"at_from" || $"at_to", $"b.st_lon").otherwise($"px"))
      .drop("from_id", "to_id", "sims", "b", "from_mism", "to_mism",
        "best_node", "at_from", "at_to")
  }

  /** Candidate generation (J4/J5): broadcast k-ring join + projection.
    * stops(stop_id, lat, lng); edges from GraphBuilder.
    * Returns cands(stop_id, edge_id, progr, pen10, py, px, dist_m, oneway). */
  def buildCands(spark: SparkSession, stops: DataFrame, edges: DataFrame,
                 cfg: OsmConfig, maxAbsLatOpt: Option[Double] = None): DataFrame =
    buildCandsWithEnds(spark, stops, edges, cfg, maxAbsLatOpt).drop("from_id", "to_id")

  /** buildCands plus each candidate edge's endpoint node ids (from_id,
    * to_id), read in the same edge scan the cell join uses. */
  private def buildCandsWithEnds(spark: SparkSession, stops: DataFrame, edges: DataFrame,
                                 cfg: OsmConfig, maxAbsLatOpt: Option[Double]): DataFrame = {
    import spark.implicits._
    // ring radius from the worst-case (highest) latitude in the feed —
    // callers that already computed the feed bbox pass it in (the agg is
    // otherwise a blocking driver round trip on the latency floor)
    val maxAbsLat = maxAbsLatOpt.getOrElse(
      stops.agg(max(abs(col("lat")))).head().getDouble(0))
    val k = Cell.kForMeters(cfg.maxSnapDistanceM, maxAbsLat, cfg.cellRes)
    val stopRings = stops
      .select($"stop_id", $"lat".as("s_lat"), $"lng".as("s_lng"))
      .withColumn("cell", explode(kring(gcell($"s_lat", $"s_lng", cfg.cellRes), k)))
    // project onto the full edge polyline when present (contracted chains
    // are curved), else the straight segment
    val hasGeom = edges.columns.contains("geom")
    val edgeCells =
      (if (hasGeom)
        edges.select($"edge_id", $"oneway", $"from_id", $"to_id",
          expr("transform(geom, p -> p.lat)").as("glat"),
          expr("transform(geom, p -> p.lon)").as("glon"),
          explode($"cells").as("cell"))
      else
        edges.select($"edge_id", $"oneway", $"from_id", $"to_id",
          array($"from_lat", $"to_lat").as("glat"),
          array($"from_lon", $"to_lon").as("glon"),
          explode($"cells").as("cell")))
    // codegen'd projection expression (was a ScalaUDF: Seq[Double]
    // conversion boxed every coordinate of every candidate row's polyline)
    val joined = stopRings.join(edgeCells, Seq("cell"))
      .withColumn("proj", polylineProject($"s_lat", $"s_lng", $"glat", $"glon"))
      .select($"stop_id", $"edge_id", $"oneway", $"from_id", $"to_id",
        $"proj._1".as("progr"), $"proj._2".as("py"), $"proj._3".as("px"),
        $"proj._4".as("dist_m"))
      .filter($"dist_m" <= cfg.maxSnapDistanceM)
      // one exchange by stop serves the dedup below and the top-K window
      // (hash(stop) clusters (stop, edge) too)
      .repartition($"stop_id")
      // a (stop, edge) pair can match through several ring cells -> dedup
      // (the copies are equal: same stop point, same edge polyline)
      .groupBy($"stop_id", $"edge_id")
      .agg(first($"progr").as("progr"), first($"py").as("py"), first($"px").as("px"),
        first($"dist_m").as("dist_m"), first($"oneway").as("oneway"),
        first($"from_id").as("from_id"), first($"to_id").as("to_id"))
    // keep top-K nearest edges per stop; the best-per-deg-2-chain dedup
    // (O1/G9) happens kernel-side against CompactGraph.chainOf
    val byStop = Window.partitionBy($"stop_id").orderBy($"dist_m", $"edge_id")
    joined.withColumn("rk", row_number().over(byStop))
      .filter($"rk" <= 8).drop("rk")
      .withColumn("pen10", ceil($"dist_m" * lit(cfg.distPenFactor) * 10.0).cast("long"))
  }

  /** Solve all trips. tripStops(trip_id, seq, stop_id, arr_s, dep_s, lat, lng)
    * (J7 output); cands from buildCands. Output:
    * shapes(shape_id=trip_id, seq, lat, lng, travel_dist) + hops via solveHops. */
  def matchTrips(spark: SparkSession, tripStops: DataFrame, cands: DataFrame,
                 graph: CompactGraph, cfg: OsmConfig): DataFrame =
    matchTripsFull(spark, tripStops, cands, graph, cfg).shapes

  /** Everything one matching run produces:
    *  - shapes(shape_id, seq, lat, lng, travel_dist) — the matched
    *    polylines (W2 cumulative measure);
    *  - anchors(trip_id, stop_idx, point_seq) — per-stop positions into the
    *    shape (the generated feed's shape_dist_traveled, the eval's cut
    *    anchors);
    *  - hops(trip_id, hop_idx, edge_ids, reachable) — FIXTURES.md hops
    *    table, input to the color vote and the netgraph/GeoJSON sinks.
    * Returned as one value (r2 leaked hops through a `@volatile var` side
    * channel, silently coupling callers to call order). */
  case class MatchResult(shapes: DataFrame, anchors: DataFrame, hops: DataFrame)

  def matchTripsFull(spark: SparkSession, tripStops: DataFrame, cands: DataFrame,
                     graph: CompactGraph, cfg: OsmConfig): MatchResult =
    matchTripsFull(spark, tripStops, cands, GraphPartitions.build(spark, graph), cfg)

  /** Partitioned/file-mode variant: no driver-resident full graph needed —
    * `parts` may be file-backed (DistGraphBuild), in which case `cands`
    * must carry bin tags (DistGraphBuild.tagCands). */
  def matchTripsFull(spark: SparkSession, tripStops: DataFrame, cands: DataFrame,
                     parts: GraphPartitions, cfg: OsmConfig): MatchResult = {
    import spark.implicits._
    // Two slim materializations instead of one heavy one: the old flow
    // checkpointed the per-TRIP keyed table (every trip's stops array =
    // ~15x the distinct payload at high trips-per-route) and then shuffled
    // ALL of it again through dropDuplicates. Now the per-trip table only
    // ever exists as (trip_id, seq_key) — the stops arrays are re-built
    // for ONE representative trip per distinct sequence (1/dup-factor of
    // the rows), at the cost of a second pass over the tripStops source
    // (scans are cheap and pruned; wide shuffles are not).
    // localCheckpoint (not cache) on both: a cache leaves the full
    // upstream lineage in every consumer's plan string (AQE re-renders it
    // per update), a checkpoint truncates it.
    val (seqKeys, distinctSeqs) = tripSeqTables(tripStops)
    // localCheckpoint: the kernel output feeds shapes, anchors,
    // hops, the color ops, the eval and the overlay — truncating the
    // logical lineage here keeps every downstream plan shallow (deep
    // lineage made AQE's per-update plan stringification quadratic)
    // EAGER on purpose (unlike the slim seq tables above): the solve must
    // run as its own dedicated job so the kernel has every core and the
    // KernelNanos/KernelCpuNanos wall-vs-CPU diagnostics measure the
    // kernel, not co-scheduled join/explode tasks of a fused job (a lazy
    // checkpoint here inflated summed in-solve wall ~100x at local[32]
    // with identical CPU and iteration counts)
    val solved = checkpointSer(solveSeqs(spark, distinctSeqs,
      cands, parts, cfg))

    // join back ONCE, LAZILY: the solved table carries the heavy
    // per-sequence payload (points/anchors/hops arrays); joining it
    // separately for each of the three outputs shuffled that payload three
    // times — jstack'd as the dominant cost of the whole match stage at
    // high core counts. But CHECKPOINTING the join output was worse at
    // high trip counts: the join duplicates each sequence's payload to
    // every trip sharing it (~15x at tpr=3600), so the eager checkpoint
    // wrote gigabytes a caller consuming only `shapes` never reads. Both
    // join inputs are checkpointed, so re-running the join per consumed
    // output costs one small shuffle of the 10^3-row pre-duplication
    // payload — the duplication stays in-flight, never materialized.
    // The W2 cumulative measure is accumulated in the kernel during
    // geometry materialization (same haversine running sum the window
    // computed — without a 10^7-row sort).
    // a merge join: each side is exchanged by seq_key once, with no
    // run-time switch to broadcast (and its extra job) on top
    val joined = seqKeys.join(solved.hint("shuffle_merge"), Seq("seq_key"))
    // arrays_zip at EXPLODE time only — the structs exist transiently in
    // codegen; the shuffled/checkpointed payload stays flat primitives
    val shapes = joined
      .select($"trip_id".as("shape_id"),
        posexplode(arrays_zip($"lats", $"lngs", $"dists")).as(Seq("seq", "z")))
      .select($"shape_id", $"seq", $"z.lats".as("lat"), $"z.lngs".as("lng"),
        $"z.dists".as("travel_dist"))
    val anchors = joined
      .select($"trip_id", posexplode($"anchors").as(Seq("stop_idx", "point_seq")))
    val hops = joined
      .select($"trip_id", explode($"hops").as("h"))
      .select($"trip_id", $"h.hop_idx".as("hop_idx"),
        $"h.edge_ids".as("edge_ids"), $"h.reachable".as("reachable"))
    MatchResult(shapes, anchors, hops)
  }

  /** F7: trip eligibility — >= 2 stop times, route type within the MOT
    * set, and (unless dropShapes) no pre-existing shape
    * (ShapeBuilder.cpp:874-879). */
  def eligibleTrips(trips: DataFrame, routes: DataFrame, stopTimes: DataFrame,
                    mots: Set[Int], dropShapes: Boolean): DataFrame = {
    import trips.sparkSession.implicits._
    val counts = stopTimes.groupBy($"trip_id").agg(count(lit(1)).as("n_st"))
    var t = trips.join(routes.select($"route_id", $"route_type"), Seq("route_id"))
      .join(counts, Seq("trip_id"))
      .filter($"n_st" >= 2 && $"route_type".isin(mots.toSeq: _*))
    if (!dropShapes) t = t.filter($"shape_id".isNull || $"shape_id" === "")
    t.select(trips.columns.map(col): _*)
  }

  /** F8: station-outlier filter for the feed bbox — drop stops that are
    * unreachable from their neighbors at vmax within 3*(sched + 5 min)*2^3
    * (ShapeBuilder.cpp:704-728): straight-line speed test via window lag. */
  def nonOutlierStops(tripStops: DataFrame, vmaxMs: Double): DataFrame = {
    import tripStops.sparkSession.implicits._
    val w = Window.partitionBy($"trip_id").orderBy($"seq")
    val flagged = tripStops
      .withColumn("p_lat", lag($"lat", 1).over(w))
      .withColumn("p_lng", lag($"lng", 1).over(w))
      .withColumn("p_dep", lag($"dep_s", 1).over(w))
      .withColumn("outlier", $"p_lat".isNotNull &&
        haversineM($"p_lat", $"p_lng", $"lat", $"lng") >
          lit(vmaxMs) * (($"arr_s" - $"p_dep" + 300) * 3 * 8))
    flagged.filter(!$"outlier").select($"stop_id").distinct()
  }

  /** trip -> ordered stops + a stable cluster key: stop ids + RELATIVE
    * times (arr/dep minus first departure). Trips that differ only by a
    * constant time shift share a key and are solved once — the reference's
    * trie clustering matches nodes on equal relative time too
    * (/root/reference/src/pfaedle/router/TripTrie.tpp:190-204). */
  def tripStopsWithKey(tripStops: DataFrame): DataFrame = {
    import tripStops.sparkSession.implicits._
    val hasLine = tripStops.columns.contains("line_name")
    val lineAgg = if (hasLine) first($"line_name") else lit("")
    // G2 routing attrs: the trip's first/last stop NAMES feed the
    // from/to line-factor split (RoutingAttrs lineFrom/lineTo); feeds
    // without a stop_name column degrade to empty = always-similar
    val hasName = tripStops.columns.contains("stop_name")
    val fromAgg = if (hasName) min_by($"stop_name", $"seq") else lit("")
    val toAgg = if (hasName) max_by($"stop_name", $"seq") else lit("")
    tripStops
      .groupBy($"trip_id")
      .agg(sort_array(collect_list(struct($"seq", $"stop_id", $"arr_s", $"dep_s",
        $"lat", $"lng"))).as("stops"),
        coalesce(lineAgg, lit("")).as("line_name"),
        coalesce(fromAgg, lit("")).as("from_name"),
        coalesce(toAgg, lit("")).as("to_name"))
      .withColumn("t0", $"stops"(0).getField("dep_s"))
      // the cluster key includes the line identity: trips on different
      // lines cost-shape differently (RoutingAttrs clustering, A2).
      // xxhash64 hashes the struct ARRAY natively — the r2 to_json
      // serialization ran Jackson per trip row and showed up in stack
      // profiles of the match stage
      .withColumn("seq_key", conv(xxhash64(
        transform($"stops", x => struct(x.getField("stop_id").as("s"),
          (x.getField("arr_s") - $"t0").as("a"),
          (x.getField("dep_s") - $"t0").as("d"))), $"line_name"), 10, 16))
      .drop("t0")
  }

  /** The two tables the matcher actually needs, each materialized SLIM:
    *  - seqKeys(trip_id, seq_key, from_name, to_name) — the full per-trip
    *    table, string columns only (the old flow checkpointed every trip's
    *    stops array here: ~15x the distinct payload at high
    *    trips-per-route, written once and shuffled again by
    *    dropDuplicates). The two names are not read downstream: keeping
    *    them keeps this per-trip aggregate identical to distinctSeqs', so
    *    the second one runs on the classes generated for the first instead
    *    of compiling its own;
    *  - distinctSeqs(seq_key, line_name, stops, from_name, to_name) — the
    *    heavy stops arrays, built from ONE representative trip per
    *    distinct sequence (deterministic min trip_id; dropDuplicates kept
    *    an arbitrary partition-order row). Trips sharing a key differ only
    *    by a constant time shift and the kernel is shift-invariant, so any
    *    representative solves identically.
    * Costs one extra pass over the tripStops source — scans are pruned
    * and cheap, wide shuffles are not. */
  def tripSeqTables(tripStops: DataFrame): (DataFrame, DataFrame) = {
    val ss = tripStops.sparkSession
    import ss.implicits._
    // seq_key depends on the collected stops array, but the projection
    // drops the array post-agg — it exists only transiently per group,
    // never in a shuffle file or checkpoint block
    val seqKeys = checkpointSerLazy(tripStopsWithKey(tripStops)
      .select($"trip_id", $"seq_key", $"from_name", $"to_name"))
    val reps = seqKeys.groupBy($"seq_key").agg(min($"trip_id").as("trip_id"))
    val repRows = tripStops.join(reps.select($"trip_id"), Seq("trip_id"), "left_semi")
    val distinctSeqs = checkpointSerLazy(tripStopsWithKey(repRows)
      .select($"seq_key", $"line_name", $"stops", $"from_name", $"to_name"))
    (seqKeys, distinctSeqs)
  }

  case class HopRow(hop_idx: Int, edge_ids: Array[Long], reachable: Boolean)
  /** one snap candidate row as shipped to the kernel (encoder-compatible) */
  case class CandRow(stop_id: String, edge_id: Long, progr: Double,
                     pen10: Long, py: Double, px: Double, oneway: Int)
  /** The solved-shape payload is three FLAT primitive arrays (parallel by
    * point index; dists = the W2 cumulative haversine measure, accumulated
    * at materialization, stored at the float precision the output schema
    * carries) rather than an array of per-point structs: this payload
    * crosses the solve-cogroup shuffle, a serialized checkpoint and the
    * seq_key join-back, and struct-per-point arrays paid a Tungsten
    * offset+null-word per POINT on every hop (measured: the match phase
    * spends most of its executor time outside the kernel, in exactly this
    * serialization). anchors = index into the point arrays of each stop's
    * snap position (per-stop shape_dist_traveled, the eval's cut anchors). */
  case class SolvedSeq(seq_key: String, lats: Array[Double],
                       lngs: Array[Double], dists: Array[Float],
                       anchors: Array[Int], hops: Array[HopRow],
                       n_hops: Int, n_unroutable: Int, cost10: Long)
  /** ordered stop row inside a sequence (encoder-compatible field names) */
  case class TS(seq: Int, stop_id: String, arr_s: Int, dep_s: Int,
                lat: Double, lng: Double)

  /** One Viterbi solve per DISTINCT stop sequence (A2/A3 clustering). */
  def solveDistinctSeqs(spark: SparkSession, tripStops: DataFrame, cands: DataFrame,
                        graph: CompactGraph, cfg: OsmConfig): DataFrame =
    solveKeyedSeqs(spark, tripStopsWithKey(tripStops), cands, graph, cfg)

  def solveKeyedSeqs(spark: SparkSession, keyed: DataFrame, cands: DataFrame,
                     graph: CompactGraph, cfg: OsmConfig): DataFrame =
    solveKeyedSeqs(spark, keyed, cands, GraphPartitions.build(spark, graph), cfg)

  /** Partitioned variant: the graph ships as per-component-bin broadcasts
    * (GraphPartitions); each solver task resolves only the bins its
    * candidate edges touch — at continental scale no executor ever holds
    * the full graph. Single-bin partitionings degrade to exactly the old
    * full-graph broadcast. */
  def solveKeyedSeqs(spark: SparkSession, keyed: DataFrame, cands: DataFrame,
                     parts: GraphPartitions, cfg: OsmConfig): DataFrame = {
    import spark.implicits._
    solveSeqs(spark, keyed.dropDuplicates("seq_key")
      .select($"seq_key", $"line_name", $"stops", $"from_name", $"to_name"),
      cands, parts, cfg)
  }

  /** Solve ALREADY-DISTINCT sequences (one row per seq_key). */
  def solveSeqs(spark: SparkSession, distinctSeqs0: DataFrame, cands: DataFrame,
                parts: GraphPartitions, cfg: OsmConfig): DataFrame = {
    import spark.implicits._
    val cfgB = spark.sparkContext.broadcast(cfg)

    // NORMALIZE to relative times before solving: sequences sharing a
    // seq_key differ only by a constant shift, but the REPRESENTATIVE
    // carrying each key holds its own trip's absolute times — and the trie
    // averages times ACROSS member sequences, so at a trie fork the
    // parent/child member sets differ and avgTime differences absorb the
    // representatives' shift spread (hours at high trips-per-route). A
    // poisoned `sched` inflates the hop cutoff by that spread and a layer
    // relax degenerates into whole-graph searches (observed: a solver task
    // pinned for 15+ minutes on work that takes seconds). Relative times
    // are what the cluster key hashes; solving on them makes the kernel
    // shift-exact and the layer memo representative-independent.
    val distinctSeqs = distinctSeqs0
      .withColumn("t0", $"stops"(0).getField("dep_s"))
      .withColumn("stops", expr(
        "transform(stops, x -> struct(x.seq as seq, x.stop_id as stop_id, " +
          "cast(x.arr_s - t0 as int) as arr_s, cast(x.dep_s - t0 as int) as dep_s, " +
          "x.lat as lat, x.lng as lng))"))
      .drop("t0")

    val in = solverInputs(spark, distinctSeqs, cands)
    val (seqRows, candRows) = (in.seqRows, in.candRows)
    val hasBin = cands.columns.contains("bin")
    val clToNamesB = spark.sparkContext.broadcast(in.toNames)

    def solveGroup(key: (String, String, Int),
                   rows: Array[(String, String, Int, String, Seq[Matcher.TS], String)],
                   candArr: Array[(String, String, Int, String, Long, Double, Long, Double, Double, Int, Int)]):
        Iterator[SolvedSeq] = {
      val line = key._1
      val candMap: Map[String, Array[(Long, Double, Long, Double, Double, Int)]] =
        candArr.groupBy(_._4).map { case (k, v) =>
          k -> v.map(c => (c._5, c._6, c._7, c._8, c._9, c._10))
        }
      // only the graph bins this cluster's candidates touch are fetched
      val g = if (parts.fileMode) parts.resolveByBinIds(candArr.map(_._11))
              else parts.resolve(candArr.map(_._5))
      // G2 routing attrs of this cluster: one lineFrom (same first stop
      // by construction), the PHYSICAL cluster's full lineTo set (shared
      // across salted sub-groups — one RoutingAttrs identity per cluster)
      val fromName = rows.headOption.map(_._6).getOrElse("")
      val toNames = rows.headOption.map(_ => clToNamesB.value((key._1, key._2)))
        .getOrElse(Array.empty[String])
      MatcherKernel.solveCluster(line, fromName, toNames,
        rows.map(r => (r._4, r._5.toArray)), g, candMap,
        cfgB.value).iterator
    }

    // BIN-AWARE LOCALITY (multi-bin partitionings with tagged candidates):
    // the default hash shuffle scatters every bin's solver groups across
    // every executor, so each executor ends up fetching nearly every bin.
    // Here same-bin groups are routed into a contiguous partition block
    // sized by the bin's GROUP count (work-proportional, so a dominant
    // bin keeps its parallelism) — an executor then holds tasks of few
    // distinct bins and its fetched-bin bytes approach its bins' sizes
    // instead of the whole graph. Keys are unchanged; only placement
    // differs, so results are partitioner-invariant.
    val useLocality = hasBin && parts.bins.length > 1 && !BinLocalityDisabled
    if (!useLocality) {
      // grouped on the key COLUMNS (no per-row key function: no key
      // serializer and row joiner to generate per side)
      val seqsDs = seqRows.toDF().groupBy($"c_line", $"c_stop", $"salt")
        .as[(String, String, Int), (String, String, Int, String, Seq[Matcher.TS], String)]
      val clusterCands = candRows.toDF().groupBy($"c_line", $"c_stop", $"salt")
        .as[(String, String, Int),
          (String, String, Int, String, Long, Double, Long, Double, Double, Int, Int)]
      // cogroup: a sequence whose stops ALL lack candidates still arrives
      // (with an empty candidate side) and is solved via the null-candidate
      // fallback, never silently dropped.
      seqsDs.cogroup(clusterCands) {
        (key: (String, String, Int),
         seqIt: Iterator[(String, String, Int, String, Seq[Matcher.TS], String)],
         candIt: Iterator[(String, String, Int, String, Long, Double, Long, Double, Double, Int, Int)]) =>
          solveGroup(key, seqIt.toArray, candIt.toArray)
      }.toDF()
    } else {
      // primary bin per solver group (max: an untagged -1 loses to any
      // real bin); one row per GROUP — same bounded cardinality as clRows
      val groupBin = candRows
        .groupByKey { case (line, stop0, salt, _, _, _, _, _, _, _, _) => (line, stop0, salt) }
        .mapValues(_._11).mapGroups((k, vs) => (k, vs.max))
        .collect().toMap
      // FEW, FAT partitions (≈ one per bin, floor = core count): Spark
      // hands tasks to executors by slot availability, so a bin spread
      // over many small partitions reaches many executors no matter how
      // contiguously the blocks are laid out. With ~1 partition per bin
      // an executor fetches one bin per partition it takes, so its
      // distinct-bin count equals its partition count (~P/executors).
      // The floor keeps task count >= cores; the group-count weighting
      // below still grants a dominant bin multiple partitions, so its
      // work parallelizes even though those partitions then reach more
      // executors (unavoidable: spread work means spread data).
      val nPartitions = math.max(spark.sparkContext.defaultParallelism,
        parts.bins.length)
      val groupsPerBin = groupBin.values.filter(_ >= 0)
        .groupBy(identity).map { case (b, xs) => (b, xs.size) }
      val p = new BinBlockPartitioner(nPartitions, parts.bins.length,
        spark.sparkContext.broadcast(groupBin), groupsPerBin)
      val seqRdd = seqRows.rdd
        .map(r => ((r._1, r._2, r._3), r))
      val candRdd = candRows.rdd
        .map(r => ((r._1, r._2, r._3), r))
      val solvedRdd = seqRdd.cogroup(candRdd, p).flatMap {
        case (key, (seqs, cs)) =>
          if (seqs.isEmpty) Iterator.empty
          else solveGroup(key, seqs.toArray, cs.toArray)
      }
      spark.createDataset(solvedRdd).toDF()
    }
  }

  /** What the solver groups are built from: one row per sequence keyed by
    * its salted cluster (c_line, c_stop, salt), the cluster's candidate
    * rows under the same key, and each cluster's lineTo set.
    * distinctSeqs: one row per seq_key, times relative (solveSeqs). */
  private[graft] case class SolverInputs(
      seqRows: Dataset[(String, String, Int, String, Seq[Matcher.TS], String)],
      candRows: Dataset[(String, String, Int, String, Long, Double, Long, Double, Double, Int, Int)],
      toNames: Map[(String, String), Array[String]])

  private[graft] def solverInputs(spark: SparkSession, distinctSeqs: DataFrame,
                                  cands: DataFrame): SolverInputs = {
    import spark.implicits._
    // Cluster = (line identity, first stop): the reference's RoutingAttrs
    // clustering (A2) refined by the trie-forest split (one trie per first
    // stop); the trie solver shares prefix work WITHIN each cluster (A3).
    //
    // SALTING (hot-stop skew, the north star's explicit demand): a feed has
    // few (line, first-stop) clusters — far fewer than cores — and one
    // urban cluster can hold thousands of sequences, an unsplittable
    // straggler AQE cannot help with (it never splits a single group). So
    // big clusters are hashed into sub-groups of <= MaxSeqsPerGroup
    // distinct sequences: task count scales with DATA VOLUME, not with the
    // feed's route topology. The bounded prefix-sharing loss is recovered
    // hop-wise by the executor-global HopCache (same (cand, targets,
    // cutoff) memo hits across sub-groups of one physical cluster).
    // ONE per-cluster aggregate serves the grain, the salt and the
    // cluster's lineTo set: (n_cl, cl_to_names) per (line, first stop),
    // computed straight off distinctSeqs (no self-join on seq_key) and
    // collected once. The cluster's lineTo set is computed on the UNSALTED
    // key and broadcast back to every salted sub-group: sub-groups seeing
    // only their own rows' to_names would get different RoutingAttrs
    // identities (different line-surcharge arrays and hop-memo ctx), so a
    // cluster's routing would vary with the salt partition and the HopCache
    // hit recovery across sub-groups would vanish for multi-terminal lines.
    // CEILING: one row per (line, first-stop) cluster — bounded by the
    // feed's route topology, not by trips; a whole-planet GTFS aggregate is
    // ~10^5-10^6 clusters (few MB), so this collect never becomes the
    // driver bottleneck the edge tables were (those now stay distributed,
    // DistGraphBuild). Back in the plan it is a local relation: its exact
    // size lets the planner broadcast it without a shuffle of the other
    // side first.
    val clustered = distinctSeqs
      .withColumn("c_line", coalesce($"line_name", lit("")))
      .withColumn("c_stop", coalesce(element_at($"stops", 1).getField("stop_id"), lit("")))
    val clAgg = clustered.groupBy($"c_line", $"c_stop")
      .agg(count(lit(1)).as("n_cl"),
        sort_array(collect_set(coalesce($"to_name", lit("")))).as("cl_to_names"))
    val clRows = clAgg.collect()
    val totalSeqs = clRows.iterator.map(_.getLong(2)).sum
    // the sizes re-enter the plan (the salt); the lineTo sets go to the
    // kernel directly, so both plan branches below read one broadcast
    val clLocal = spark.createDataFrame(
      java.util.Arrays.asList(clRows.map(r => Row(r.get(0), r.get(1), r.get(2))): _*),
      StructType(clAgg.schema.fields.take(3)))
    val toNames = clRows.map(r =>
      (r.getString(0), r.getString(1)) -> r.getSeq[String](3).toArray).toMap
    // PARALLELISM-AWARE GRAIN: splitting a cluster is not free — each
    // salted sub-group that lands on a different executor JVM recomputes
    // that cluster's hop memo (measured: 2.97x duplicated memo computes at
    // 4 executors with the fixed 64-seq grain, the dominant anti-scaling
    // term). So the grain is sized to the job's actual parallelism: split
    // only until groups ~ 4x cores, never finer than MaxSeqsPerGroup.
    // Small cluster -> big grain -> salt 1 (zero duplication); a
    // 1000-executor run gets a fine grain because the cores exist to pay
    // the bounded duplication. Bigger groups also share strictly more trie
    // prefix work. Results are grain-invariant (cluster attrs are computed
    // on the unsalted key; each distinct sequence solves identically in
    // any group).
    val targetGroups = TargetGroupsOverride.getOrElse(
      math.max(1L, 4L * spark.sparkContext.defaultParallelism))
    val grain = math.max(MaxSeqsPerGroup.toLong,
      (totalSeqs + targetGroups - 1) / targetGroups).toDouble
    val salted = clustered.join(broadcast(clLocal), Seq("c_line", "c_stop"))
      .withColumn("salt",
        pmod(xxhash64($"seq_key"),
          greatest(lit(1L), ceil($"n_cl" / lit(grain)).cast("long")))
          .cast("int"))
    val seqRows = salted
      .select($"c_line", $"c_stop", $"salt", $"seq_key", $"stops",
        coalesce($"from_name", lit("")).as("from_name"))
      .as[(String, String, Int, String, Seq[Matcher.TS], String)]

    // Candidates are shipped ONCE PER CLUSTER via cogroup, not once per
    // sequence: the member sequences of a cluster share (almost all of)
    // their stops, so a per-seq_key candidate join duplicated every
    // stop's candidate rows across all its sequences (measured ~64x
    // payload amplification = most of the match stage's executor time —
    // encoder deserialization of tens of millions of duplicate structs).
    // This is still a JOIN distribution, never a driver collect.
    // candidates may carry a bin tag (file-mode partitions: DistGraphBuild
    // .tagCands) — the solver resolves its graph from the tags, because no
    // edge->bin broadcast map exists when bins were built executor-side
    val binCol = if (cands.columns.contains("bin")) col("bin").cast("int") else lit(-1)
    // one exchange by stop serves the dedup and the candidate merge join
    val candRows = salted
      .select($"c_line", $"c_stop", $"salt",
        explode(expr("transform(stops, s -> s.stop_id)")).as("stop_id"))
      .repartition($"stop_id")
      .distinct()
      .join(cands.select($"stop_id", $"edge_id", $"progr", $"pen10",
        $"py", $"px", $"oneway", binCol.as("bin")).hint("shuffle_merge"), Seq("stop_id"))
      .select($"c_line", $"c_stop", $"salt", $"stop_id", $"edge_id",
        $"progr", $"pen10", $"py", $"px", $"oneway", $"bin")
      .as[(String, String, Int, String, Long, Double, Long, Double, Double, Int, Int)]
    SolverInputs(seqRows, candRows, toNames)
  }

  /** Routes each solver group into the contiguous partition block of its
    * bin; block widths are proportional to the bin's group count (at least
    * 1). Groups without a bin hash over the whole range. A pure function
    * of the key via the broadcast group->bin map, so both cogroup sides
    * partition identically. */
  final class BinBlockPartitioner(
      val numPartitions: Int, nBins: Int,
      groupBin: org.apache.spark.broadcast.Broadcast[Map[(String, String, Int), Int]],
      groupsPerBin: Map[Int, Int]) extends org.apache.spark.Partitioner {
    private val starts = new Array[Int](nBins)
    private val lens = new Array[Int](nBins)
    locally {
      val total = math.max(1, groupsPerBin.values.sum)
      var at = 0
      (0 until nBins).foreach { b =>
        val share = groupsPerBin.getOrElse(b, 0)
        val len = math.max(1, (share.toLong * numPartitions / total).toInt)
        starts(b) = at % numPartitions
        lens(b) = math.min(len, numPartitions)
        at += lens(b)
      }
    }
    private def mod(h: Int, m: Int): Int = { val r = h % m; if (r < 0) r + m else r }
    def getPartition(key: Any): Int = {
      val k = key.asInstanceOf[(String, String, Int)]
      val bin = groupBin.value.getOrElse(k, -1)
      if (bin < 0 || bin >= nBins) mod(k.hashCode, numPartitions)
      else (starts(bin) + mod((k._1, k._2).hashCode + k._3, lens(bin))) % numPartitions
    }
  }

  /** Cap on distinct sequences per solver task (the salting grain). Small
    * enough that tasks comfortably outnumber cores on any real feed, large
    * enough that the trie still shares prefixes within a task. Env-tunable
    * (driver-side: the cap is baked into the salting expression) so the
    * scaling bench can probe the grain/straggler tradeoff. */
  val MaxSeqsPerGroup: Int =
    sys.env.get("SPARK_GRAFT_MAX_SEQS").map(_.toInt).getOrElse(64)

  /** Pin the salt-grain target group count regardless of the session's
    * parallelism. The adaptive default (4x cores) tunes the grain to the
    * job — but a SCALING comparison must hold the algorithmic
    * configuration constant across its two levels, or the small level
    * quietly benefits from coarser groups (more trie prefix sharing,
    * fewer cogroup candidate copies) and the measured ratio mixes
    * plan change with resource change. ScalingBench sets this to the
    * large level's natural value for both. */
  @volatile var TargetGroupsOverride: Option[Long] =
    sys.env.get("SPARK_GRAFT_TARGET_GROUPS").map(_.toLong)

  /** disable the bin-block solver placement (A/B lever for the locality
    * evidence in PartitionBench/LocalityProbe) */
  @volatile var BinLocalityDisabled: Boolean =
    sys.env.contains("SPARK_GRAFT_NO_BIN_LOCALITY")
}

/** The per-sequence solve: candidate expansion to directed edges, Viterbi,
  * geometry materialization. Pure Scala on broadcast data. */
object MatcherKernel {
  import Matcher.SolvedSeq

  /** cumulative kernel nanos + solve count + solver task(group) count
    * (perf diagnostics — groups is the salted-task parallelism evidence).
    * KernelNanos is wall inside the solve; KernelCpuNanos is thread CPU
    * (immune to host steal/GC pauses — the stable signal on noisy hosts);
    * sub-phase adders attribute kernel time to params/trie/materialize. */
  val KernelNanos = new java.util.concurrent.atomic.LongAdder()
  val KernelCpuNanos = new java.util.concurrent.atomic.LongAdder()
  val ParamsNanos = new java.util.concurrent.atomic.LongAdder()
  val TrieNanos = new java.util.concurrent.atomic.LongAdder()
  val MatNanos = new java.util.concurrent.atomic.LongAdder()
  val KernelSolves = new java.util.concurrent.atomic.LongAdder()
  val KernelGroups = new java.util.concurrent.atomic.LongAdder()
  private val tmx = java.lang.management.ManagementFactory.getThreadMXBean

  val NullCandPen10 = 60000L // 100 min — dominated by any real snap

  def solveOne(seqKey: String, lineName: String,
               stops: Array[Matcher.TS],
               g: CompactGraph,
               candMap: Map[String, Array[(Long, Double, Long, Double, Double, Int)]],
               cfg: OsmConfig): SolvedSeq = {
    val t0 = System.nanoTime()
    val c0 = tmx.getCurrentThreadCpuTime
    try solveOneImpl(seqKey, lineName, stops, g, candMap, cfg)
    finally {
      KernelNanos.add(System.nanoTime() - t0)
      KernelCpuNanos.add(tmx.getCurrentThreadCpuTime - c0)
      KernelSolves.increment()
    }
  }

  /** back-compat overload (no line identity) */
  def solveOne(seqKey: String, stops: Array[Matcher.TS], g: CompactGraph,
               candMap: Map[String, Array[(Long, Double, Long, Double, Double, Int)]],
               cfg: OsmConfig): SolvedSeq = solveOne(seqKey, "", stops, g, candMap, cfg)

  /** one stop's candidate group, expanded to directed edges; the null
    * placeholder when no snap exists (ShapeBuilder.cpp:171-173). Keeps only
    * the BEST candidate per deg-2 chain (O1/G9, ShapeBuilder.cpp:241-276 —
    * K snaps onto one physical street would just oversample it). */
  def expandLayer(g: CompactGraph,
                  candMap: Map[String, Array[(Long, Double, Long, Double, Double, Int)]],
                  stopId: String, sLat: Double, sLng: Double): Array[Cand] = {
    val raw = candMap.getOrElse(stopId, Array.empty)
    // chain dedup: min pen (ties: lower edge id) per chainOf label.
    // Scratch is flat arrays + linear scan (candidate groups are tiny,
    // <= ~16 after top-K): the HashMap + asScala + sortBy version
    // allocated ~KBs of garbage per stop per solve — at 10^5 solves/s
    // across 32 threads that allocation rate was the kernel pools' GC
    // wall (47% thread idle at 32 threads on a 0.94-efficiency host).
    val nRaw = raw.length
    val chains = new Array[Int](nRaw)
    val bestAt = new Array[Int](nRaw)
    var nc = 0
    var ri = 0
    while (ri < nRaw) {
      val c = raw(ri)
      val idxO = g.edgeIndex.get(c._1)
      if (idxO != null) {
        val chain = g.chainOf(idxO.intValue())
        var j = 0
        while (j < nc && chains(j) != chain) j += 1
        if (j == nc) { chains(nc) = chain; bestAt(nc) = ri; nc += 1 }
        else {
          val cur = raw(bestAt(j))
          if (c._3 < cur._3 || (c._3 == cur._3 && c._1 < cur._1)) bestAt(j) = ri
        }
      }
      ri += 1
    }
    if (nc == 0) return Array(Cand(-1, 0.0, NullCandPen10, sLat, sLng))
    // insertion sort of the winners by (pen, edge id) — nc is tiny
    var a = 1
    while (a < nc) {
      val v = bestAt(a)
      val vp = raw(v)._3; val ve = raw(v)._1
      var b = a - 1
      while (b >= 0 && {
        val wp = raw(bestAt(b))._3; val we = raw(bestAt(b))._1
        wp > vp || (wp == vp && we > ve)
      }) { bestAt(b + 1) = bestAt(b); b -= 1 }
      bestAt(b + 1) = v
      a += 1
    }
    val cs = new Array[Cand](2 * nc)
    var k = 0
    while (k < nc) {
      val c = raw(bestAt(k))
      // both directions are candidates — wrong-way travel on a oneway
      // edge is penalized via the per-direction cost (writeOneWayPens),
      // no longer structurally excluded
      val i = g.edgeIndex.get(c._1).intValue()
      cs(2 * k) = Cand(2 * i, c._2, c._3, c._4, c._5)
      cs(2 * k + 1) = Cand(2 * i + 1, 1.0 - c._2, c._3, c._4, c._5)
      k += 1
    }
    cs
  }

  /** memo for the per-(graph, config, line) edge surcharge array: building
    * it runs a string-similarity call per EDGE (O(numEdges) with regex
    * tokenization inside), and relaxParams fires once per salted solver
    * group — the same line identity recomputed it hundreds of times
    * (profiled as the single hottest kernel frame). Bounded: one slot per
    * distinct (graph, cfg, line). */
  private val LineExtraMax = 4096

  /** per-cluster routing knobs: turn-penalty oracle with line-similarity
    * cost shaping (G2/U6, Weights.cpp:65-155 name/from/to factor split),
    * cutoff widening, memo ctx.
    * @param fromName the trip's first stop name (RoutingAttrs.lineFrom)
    * @param toNames  last stop names of the cluster's trips (lineTo set) */
  def relaxParams(g: CompactGraph, cfg: OsmConfig, lineName: String,
                  fromName: String = "", toNames: Array[String] = Array.empty): Viterbi.RelaxParams = {
    val fullTurnPen10 = Geo.costToInt(cfg.fullTurnPenaltySec)
    val hasRestr = g.hasRestrictions
    val ln = if (lineName == null) "" else lineName
    val fn = if (fromName == null) "" else fromName
    val tns = toNames.filter(t => t != null)
    val hasAttrs = ln.nonEmpty || fn.nonEmpty || tns.exists(_.nonEmpty)
    val shapeLines = hasAttrs && g.hasLineInfo
    // name-only statsimi classifier (StatsimiClassifier.cpp:39-42)
    def nameSim(a: String, b: String): Boolean =
      graft.functions.StringSim.jaccardSimi(a, b) > 0.45
    def buildExtra(): Array[Long] = Array.tabulate(g.numEdges) { i =>
      // best LineSimilarity over the edge's lines (Weights.cpp:158-172):
      // an edge with NO line info is fully dissimilar
      var best = 0 // bit 2 name, bit 1 from, bit 0 to
      val names = g.edgeLines(i)
      var li = 0
      while (li < names.length && best != 7) {
        val lFrom = if (g.edgeLinesFrom == null || g.edgeLinesFrom(i) == null ||
          li >= g.edgeLinesFrom(i).length) "" else g.edgeLinesFrom(i)(li)
        val lTo = if (g.edgeLinesTo == null || g.edgeLinesTo(i) == null ||
          li >= g.edgeLinesTo(i).length) "" else g.edgeLinesTo(i)(li)
        // a line with no info at all classifies as fully similar
        // (RoutingAttrs.h:49-51)
        val s =
          if (names(li).isEmpty && lFrom.isEmpty && lTo.isEmpty) 7
          else {
            var v = 0
            if (ln.isEmpty || graft.functions.StringSim.lineSimi(ln, names(li)) > 0.5) v |= 4
            if (fn.isEmpty || nameSim(lFrom, fn)) v |= 2
            if (tns.isEmpty || tns.exists(t => t.isEmpty || nameSim(lTo, t))) v |= 1
            v
          }
        if (s > best) best = s
        li += 1
      }
      if (best == 7) 0L
      else {
        // multiplicative composition of the three unmatched factors
        // (Weights.cpp:81-118); config factors are extra fractions
        var f = 1.0
        if ((best & 4) == 0) f *= 1.0 + cfg.lineUnmatchedPenaltyFactor
        if ((best & 2) == 0) f *= 1.0 + cfg.lineFromUnmatchedPenaltyFactor
        if ((best & 1) == 0) f *= 1.0 + cfg.lineToUnmatchedPenaltyFactor
        math.round(g.cost10(i) * (f - 1.0))
      }
    }
    val attrsKey = (Seq(ln, fn) ++ tns.sorted).mkString("\u0000")
    // non-blocking memo: buildExtra is an O(numEdges) string-simi pass
    // (0.1-0.6 s on a metro graph); computeIfAbsent ran it INSIDE the CHM
    // bin lock, so on a cold cache every thread wanting the same line
    // blocked behind the first — measured as tens of idle thread-seconds
    // at 32 threads. get + putIfAbsent lets concurrent cold-starters
    // duplicate the build (identical deterministic array) without ever
    // idling a core; first publish wins.
    val unmatchedExtra10: Array[Long] =
      if (!shapeLines) null
      else {
        // generational (HopCache.gen): the arrays die with their build
        // epoch instead of bricking a shared global cache on a long-lived
        // executor; still token-keyed inside the generation because the
        // array indexes THIS bin/merged graph's dense edges
        val cache = HopCache.gen(g.epoch).lineExtra
        val cacheKey = (g.token, g.numEdges, cfg.fingerprint, attrsKey)
        val cached = cache.get(cacheKey)
        if (cached != null) cached
        else {
          val v = buildExtra()
          if (cache.size() < LineExtraMax) cache.putIfAbsent(cacheKey, v)
          v
        }
      }
    val turnPen: (Int, Int) => Long = (fromDir, toDir) => {
      val via = g.dirTo(fromDir)
      // turn-cycle nodes (roundabouts): no full-turn or restriction cost
      // (the whole guarded block in Weights.cpp:125-155)
      if (g.isTurnCycleNode(via)) {
        if (unmatchedExtra10 == null) 0L else unmatchedExtra10(toDir >> 1)
      } else if (hasRestr && !g.mayTurn(via, fromDir, toDir)) -1L
      else {
        val base = if (g.isFullTurn(fromDir, toDir, cfg.fullTurnAngleDeg)) fullTurnPen10 else 0L
        if (unmatchedExtra10 == null) base else base + unmatchedExtra10(toDir >> 1)
      }
    }
    Viterbi.RelaxParams(turnPen,
      vmaxMs = cfg.levelSpeedsKmh.max / 3.6,
      transitionPenalty = cfg.transitionPenalty,
      transModel = cfg.transWeightModel,
      // the reference widens maxCost by its line-punish factors
      // (Weights.cpp:192-195); our surcharge inflates matched-line paths
      // by at most the product of the three unmatched factors
      cutoffFactor =
        if (shapeLines)
          (1.0 + cfg.lineUnmatchedPenaltyFactor) *
            (1.0 + cfg.lineFromUnmatchedPenaltyFactor) *
            (1.0 + cfg.lineToUnmatchedPenaltyFactor)
        else 1.0,
      cacheCtx = HopCache.mixCtx(g.token, cfg.fingerprint, Seq(ln, fn) ++ tns.sorted))
  }

  /** Solve a whole cluster (same line, same first stop) through the
    * prefix-sharing trip trie — shared prefixes relax once; trips landing
    * on the same leaf share geometry (A3/G4/W4). */
  def solveCluster(lineName: String, seqs: Array[(String, Array[Matcher.TS])],
                   g: CompactGraph,
                   candMap: Map[String, Array[(Long, Double, Long, Double, Double, Int)]],
                   cfg: OsmConfig): Array[SolvedSeq] =
    solveCluster(lineName, "", Array.empty[String], seqs, g, candMap, cfg)

  def solveCluster(lineName: String, fromName: String, toNames: Array[String],
                   seqs: Array[(String, Array[Matcher.TS])],
                   g: CompactGraph,
                   candMap: Map[String, Array[(Long, Double, Long, Double, Double, Int)]],
                   cfg: OsmConfig): Array[SolvedSeq] = {
    val t0 = System.nanoTime()
    val c0 = tmx.getCurrentThreadCpuTime
    KernelGroups.increment()
    val trace = KernelTrace
    if (trace) System.err.println(
      s"[kernel-trace] start line=$lineName seqs=${seqs.length} " +
        s"thread=${Thread.currentThread().getName} t=${System.currentTimeMillis()}")
    try {
      val (single, multi) = seqs.partition(_._2.length < 2)
      val singles = single.map { case (k, stops) =>
        solveOneImpl(k, lineName, stops, g, candMap, cfg)
      }
      val tp0 = System.nanoTime()
      val p = relaxParams(g, cfg, lineName, fromName, toNames)
      ParamsNanos.add(System.nanoTime() - tp0)
      val solved = TrieSolver.buildForest(multi).flatMap { trie =>
        val ts0 = System.nanoTime()
        val leaves = TrieSolver.solveTrie(g, trie,
          nd => expandLayer(g, candMap, nd.stopId, nd.lat, nd.lng), p)
        TrieNanos.add(System.nanoTime() - ts0)
        leaves.flatMap { lr =>
          val tm0 = System.nanoTime()
          val (lats, lngs, dists, anchors, hopRows, unroutable) =
            materialize(g, cfg, lr.layers, lr.res)
          MatNanos.add(System.nanoTime() - tm0)
          lr.seqKeys.map(k => SolvedSeq(k, lats, lngs, dists, anchors,
            hopRows, lr.res.hops.length, unroutable, lr.res.totalCost10))
        }
      }
      singles ++ solved
    } finally {
      val wallNs = System.nanoTime() - t0
      KernelNanos.add(wallNs)
      KernelCpuNanos.add(tmx.getCurrentThreadCpuTime - c0)
      KernelSolves.add(seqs.length)
      // watchdog: a cluster solve that takes minutes on work measured in
      // seconds is an environment pathology (JIT starvation, GC spiral,
      // host steal) — name it in the executor log with enough context to
      // localize instead of hanging silently
      if (trace || wallNs > 30e9) System.err.println(
        f"[kernel-trace] done line=$lineName seqs=${seqs.length} " +
          f"wall=${wallNs / 1e9}%.1f s cpu=${(tmx.getCurrentThreadCpuTime - c0) / 1e9}%.1f s " +
          f"iters=${Dijkstra.Iters.sum()} thread=${Thread.currentThread().getName}")
    }
  }

  /** per-cluster start/done stderr tracing (executor logs) — set
    * SPARK_GRAFT_KERNEL_TRACE=1; slow solves (> 30 s wall) always log. */
  private val KernelTrace: Boolean = sys.env.contains("SPARK_GRAFT_KERNEL_TRACE")

  private def solveOneImpl(seqKey: String, lineName: String,
               stops: Array[Matcher.TS],
               g: CompactGraph,
               candMap: Map[String, Array[(Long, Double, Long, Double, Double, Int)]],
               cfg: OsmConfig): SolvedSeq = {
    // candidate groups per layer, expanded to directed edges
    val layers: Array[Array[Cand]] =
      stops.map(st => expandLayer(g, candMap, st.stop_id, st.lat, st.lng))
    val nHops = math.max(0, stops.length - 1)
    // W1: scheduled seconds between consecutive stops (min 1)
    val schedSec = new Array[Double](nHops)
    // straight-line stop-to-stop meters (getTransDists,
    // ShapeBuilder.cpp:760-775): floors the hop cutoff at dist/vmax and
    // feeds the distdiff transition model
    val hopDistM = new Array[Double](nHops)
    var hi = 0
    while (hi < nHops) {
      schedSec(hi) = math.max(1, stops(hi + 1).arr_s - stops(hi).dep_s).toDouble
      hopDistM(hi) = Geo.haversineM(stops(hi).lat, stops(hi).lng,
        stops(hi + 1).lat, stops(hi + 1).lng)
      hi += 1
    }

    val p = relaxParams(g, cfg, lineName)
    val res = Viterbi.solve(g, layers, schedSec, p.turnPen10,
      vmaxMs = p.vmaxMs, hopDistM = hopDistM,
      transitionPenalty = p.transitionPenalty, transModel = p.transModel,
      cutoffFactor = p.cutoffFactor, cacheCtx = p.cacheCtx)

    val (lats, lngs, dists, anchors, hopRows, unroutable) =
      materialize(g, cfg, layers, res)
    SolvedSeq(seqKey, lats, lngs, dists, anchors, hopRows,
      res.hops.length, unroutable, res.totalCost10)
  }

  /** materialize geometry: per hop either the routed polyline or a straight
    * fallback (ShapeBuilder.cpp:988-1028 getGeom straight-line fallback).
    * Each hop is Douglas-Peucker-simplified before appending (the
    * reference simplifies the output shape at ShapeBuilder.cpp:1126);
    * per-hop DP keeps the stop anchors exact — hop endpoints survive DP. */
  def materialize(g: CompactGraph, cfg: OsmConfig,
                  layers: Array[Array[Cand]], res: SolveResult):
      (Array[Double], Array[Double], Array[Float], Array[Int],
       Array[Matcher.HopRow], Int) = {
    // primitive-array scratch: the tuple-based path boxed every geometry
    // point (dirGeom + ArrayBuffer[(Double, Double)]) — the kernel's
    // dominant allocation source, and heap churn is what skews the shared-
    // heap N-vs-4N scaling proxy (GC pauses stop every task thread)
    val pts = new Geo.PtBuf(256)
    val hopBuf = new Geo.PtBuf(64)

    val anchors = new Array[Int](layers.length)
    var hop = 0
    while (hop < res.hops.length) {
      val h = res.hops(hop)
      val fromCand = layers(hop)(res.bestCands(hop))
      val toCand = layers(hop + 1)(res.bestCands(hop + 1))
      hopBuf.clear()
      hopBuf.addDedup(fromCand.pLat, fromCand.pLon)
      if (h.reachable && h.edges.nonEmpty) {
        @inline def ei(de: Int): Int = de >> 1
        @inline def rev(de: Int): Boolean = (de & 1) == 1
        if (h.edges.length == 1) {
          val de = h.edges(0)
          Geo.subPolylineInto(g.geomLat(ei(de)), g.geomLon(ei(de)), rev(de),
            h.progrStart, h.progrEnd, hopBuf)
        } else {
          val d0 = h.edges.head
          Geo.subPolylineInto(g.geomLat(ei(d0)), g.geomLon(ei(d0)), rev(d0),
            h.progrStart, 1.0, hopBuf)
          var m = 1
          while (m < h.edges.length - 1) {
            val dm = h.edges(m)
            Geo.geomInto(g.geomLat(ei(dm)), g.geomLon(ei(dm)), rev(dm), hopBuf)
            m += 1
          }
          val dl = h.edges.last
          Geo.subPolylineInto(g.geomLat(ei(dl)), g.geomLon(ei(dl)), rev(dl),
            0.0, h.progrEnd, hopBuf)
        }
      }
      hopBuf.addDedup(toCand.pLat, toCand.pLon)
      if (cfg.simplifyEpsM > 0) {
        val keep = Geo.simplifyMask(hopBuf.lat, hopBuf.lon, hopBuf.n, cfg.simplifyEpsM)
        var k = 0
        while (k < hopBuf.n) {
          if (keep(k)) pts.addDedup(hopBuf.lat(k), hopBuf.lon(k))
          k += 1
        }
      } else {
        var k = 0
        while (k < hopBuf.n) { pts.addDedup(hopBuf.lat(k), hopBuf.lon(k)); k += 1 }
      }
      if (hop == 0) anchors(0) = 0
      anchors(hop + 1) = pts.n - 1
      hop += 1
    }
    if (res.hops.isEmpty && layers.nonEmpty) {
      val c = layers(0)(res.bestCands(0))
      pts.addDedup(c.pLat, c.pLon)
    }
    val unroutable = res.hops.count(h => !h.reachable)
    val hopRows = res.hops.zipWithIndex.map { case (h, i) =>
      Matcher.HopRow(i, h.edges.map(de => g.edgeIds(de >> 1)), h.reachable)
    }
    val lats = new Array[Double](pts.n)
    val lngs = new Array[Double](pts.n)
    val dists = new Array[Float](pts.n)
    var cum = 0.0
    var pi = 0
    while (pi < pts.n) {
      val la = pts.lat(pi); val lo = pts.lon(pi)
      if (pi > 0) cum += Geo.haversineM(pts.lat(pi - 1), pts.lon(pi - 1), la, lo)
      lats(pi) = la; lngs(pi) = lo; dists(pi) = cum.toFloat
      pi += 1
    }
    (lats, lngs, dists, anchors, hopRows, unroutable)
  }
}
