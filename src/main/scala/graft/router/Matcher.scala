package graft.router

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GeoFunctions._
import graft.functions.MatchFunctions.{relStops, stopCands, tripEnds}
import graft.functions.MatchOps.CandParams
import graft.geo.{Cell, Geo}
import graft.osm.OsmConfig
import graft.plans.Boundary

/** The map-matching stage: stops -> edge candidates (broadcast k-ring
  * spatial join, the declared core of the north star), trips clustered by
  * identical stop sequence (the reference's trie-leaf collapse,
  * /root/reference/src/pfaedle/router/TripTrie.tpp:18-105 — exact duplicates
  * dominate), one Viterbi solve per distinct sequence, results exploded to
  * every trip sharing it.
  *
  * Scale design: the candidate join is stops x edges on exploded cell keys;
  * the stops side is k-ring-exploded and AQE broadcasts the smaller side.
  * The road graph is broadcast as a compact primitive-array structure (the
  * reference holds the same graph fully in RAM single-node; per-MOT + bbox
  * filtering bounds it — SURVEY §7.3). Identical-sequence dedup makes kernel
  * work proportional to DISTINCT sequences; each solved sequence carries
  * the ids of its trips, so the per-trip outputs are explodes, not a join.
  */
object Matcher {

  /** Candidate generation (J4 + J5 + J6 + U1-U5): the K nearest edges per
    * stop from a k-ring join + polyline projection, with station-aware
    * penalties — per stop, a bonus for edges that touch an OSM station
    * node whose (normalized) name is similar to the stop's, the
    * reference's station snap with statsimi classification
    * (OsmBuilder.cpp:1231-1313, StatsimiClassifier.cpp). Non-station
    * candidates get nonStationPenaltySec added. stops(stop_id, name, lat,
    * lng); edges from GraphBuilder. Returns cands(stop_id, edge_id, progr,
    * py, px, dist_m, oneway, pen10). */
  def buildCandsWithStations(spark: SparkSession, stops: DataFrame, edges: DataFrame,
                             stations: DataFrame, cfg: OsmConfig,
                             maxAbsLat: Option[Double] = None): DataFrame = {
    import spark.implicits._
    // the ring radius of the stop x station pairs
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
    val trkCol = if (stations.columns.contains("track"))
      coalesce($"track", lit("")) else lit("")
    // ring radius from the worst-case (highest) latitude in the feed —
    // callers that already computed the feed bbox pass it in (the agg is
    // otherwise a blocking driver round trip on the latency floor)
    val kc = Cell.kForMeters(cfg.maxSnapDistanceM,
      maxAbsLat.getOrElse(stops.agg(max(abs(col("lat")))).head().getDouble(0)), cfg.cellRes)
    // ONE ring join finds the stop x edge and the stop x station pairs: the
    // edges' cells and the stations' cells are one table keyed by cell
    // (kind 0: edge, 1: station), built once for the broadcast. An edge
    // row projects the stop onto the full edge polyline (contracted chains
    // are curved); a station row keeps its own ring rule, k = 1 <= kc.
    val ringSide = edges.select(lit(0).as("kind"), $"edge_id", $"oneway", $"from_id", $"to_id",
        $"geom.lat".as("glat"), $"geom.lon".as("glon"), explode($"cells").as("cell"))
      .unionByName(stations.select(lit(1).as("kind"), $"node_id", $"name".as("st_name"),
        trkCol.as("trk"), $"lat".as("st_lat"), $"lon".as("st_lon"), $"cell"),
        allowMissingColumns = true)
    val isEdge = $"kind" === 0
    val pairs = stops.select($"stop_id", $"name".as("stop_name"), pcCol.as("pc"),
        $"lat".as("s_lat"), $"lng".as("s_lng"))
      .withColumn("s_cell", gcell($"s_lat", $"s_lng", cfg.cellRes))
      .withColumn("cell", explode(kring($"s_cell", kc)))
      .join(ringSide, Seq("cell"))
      // the projection (codegen'd; was a ScalaUDF whose Seq[Double]
      // conversion boxed every coordinate) of an edge row, the distance of
      // a station row
      .withColumn("proj", when(isEdge, polylineProject($"s_lat", $"s_lng", $"glat", $"glon")))
      .withColumn("d_m", when(!isEdge, haversineM($"s_lat", $"s_lng", $"st_lat", $"st_lon")))
      .filter((isEdge && $"proj._4" <= cfg.maxSnapDistanceM) ||
        (!isEdge && array_contains(kring($"s_cell", k), $"cell") &&
          $"d_m" <= cfg.maxSnapDistanceM && simUdf($"stop_name", $"st_name", $"d_m")))
      .withColumn("trk_mism", when(!isEdge, trkMismUdf($"pc", $"trk")))
    // an edge pair as one struct ordered by (dist_m, edge_id) — the top-K
    // order — and a station pair as the station's fields
    val rows = pairs.select($"stop_id",
      when(isEdge, struct($"proj._4".as("dist_m"), $"edge_id",
        $"proj._1".as("progr"), $"proj._2".as("py"), $"proj._3".as("px"),
        $"oneway", $"from_id", $"to_id")).as("c"),
      when(!isEdge, struct($"node_id", $"trk_mism", $"st_lat", $"st_lon", $"d_m")).as("st"))
    // ONE group-by-stop pass over both kinds of pairs serves everything the
    // candidates need, with no window and no join. It collects the set of
    // candidates and the set of similar stations, and a precompiled helper
    // (MatchOps.stopCands) finishes the stop's candidates:
    //  - a (stop, edge) pair can match through several ring cells; the
    //    copies are equal (same stop point, same edge polyline), so the
    //    set dedups them, and the K nearest (ties: lower edge id) are the
    //    first K of the sorted set. The best-per-deg-2-chain dedup (O1/G9)
    //    happens kernel-side against CompactGraph.chainOf;
    //  - the similar stations as (node, track mismatch) pairs: a vertex
    //    aliasing several platforms counts as matching if ANY matches, so
    //    an endpoint's mismatch is the min over its pairs;
    //  - the NEAREST similar station — matching track beats distance (two
    //    same-name platforms of one station are otherwise
    //    indistinguishable): candidates touching that vertex snap their
    //    position onto it, so matched shapes terminate exactly at the
    //    station node (the reference routes via station group nodes,
    //    OsmBuilder snapStation + ShapeBuilder getECM).
    // A candidate row has no station and a station row no candidate:
    // collect_* skip the nulls. Both are typed aggregates: a declarative
    // one (min_by) adds mutable projection classes. Each station row
    // crosses the exchange once, as its (node, mismatch) pair did beside
    // min_by's buffer.
    // An edge is a "station candidate" if either endpoint is a similar
    // station; emulateReferenceTrackPenalty flips the platform condition to
    // the reference's literal (inverted) ShapeBuilder.cpp:216-219 test.
    val params = CandParams(MaxCandsPerStop, cfg.distPenFactor,
      graft.geo.Geo.costToInt(cfg.platformUnmatchedPenaltySec),
      graft.geo.Geo.costToInt(cfg.nonStationPenaltySec),
      if (cfg.emulateReferenceTrackPenalty) 0 else 1)
    rows
      .groupBy($"stop_id")
      .agg(collect_set($"c").as("cands"), collect_set($"st").as("sts"))
      .select($"stop_id", explode(stopCands($"cands", $"sts", params)).as("c"))
      .select($"stop_id", $"c.edge_id", $"c.progr", $"c.py", $"c.px", $"c.dist_m",
        $"c.oneway", $"c.pen10")
  }

  /** Candidates kept per stop: the K nearest edges. */
  val MaxCandsPerStop = 8

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

  /** Over a driver-built graph: one broadcast bin. */
  def matchTripsFull(spark: SparkSession, tripStops: DataFrame, cands: DataFrame,
                     graph: CompactGraph, cfg: OsmConfig): MatchResult =
    matchTripsFull(spark, tripStops, cands, GraphPartitions.single(spark, graph), cfg)

  /** Over any partitioning: no driver-resident full graph needed — `parts`
    * may be DistGraphBuild's file-backed bins, in which case `cands` carry
    * bin tags (DistGraphBuild.tagCands). */
  def matchTripsFull(spark: SparkSession, tripStops: DataFrame, cands: DataFrame,
                     parts: GraphPartitions, cfg: OsmConfig): MatchResult = {
    import spark.implicits._
    // ONE per-trip aggregate and ONE per-seq_key aggregate feed the solve,
    // over one plan of the tripStops source: each distinct sequence
    // arrives with its representative's stops and the ids of every trip
    // sharing it. Deferred: its consumers (the cluster collect, the solve)
    // are sequential driver code.
    val seqs = Boundary.deferred(distinctSeqs(tripStopsWithKey(tripStops)))
    // boundary: the kernel output feeds shapes, anchors, hops, the color
    // ops, the eval and the overlay — truncating the logical lineage here
    // keeps every downstream plan shallow (deep lineage made AQE's
    // per-update plan stringification quadratic)
    // EAGER on purpose (unlike the sequence table above): the solve must
    // run as its own dedicated job so the kernel has every core and the
    // KernelNanos/KernelCpuNanos wall-vs-CPU diagnostics measure the
    // kernel, not co-scheduled explode tasks of a fused job (a lazy
    // checkpoint here inflated summed in-solve wall ~100x at local[32]
    // with identical CPU and iteration counts)
    val solved = Boundary.eager(solveSeqs(spark, seqs, cands, parts, cfg))
    // The trip ids rode through the solve, so each output is a narrow
    // explode of the solved rows. A sequence's payload is duplicated to
    // its trips in flight only, never shuffled or materialized per trip
    // (~15x the distinct payload at high trips-per-route). arrays_zip at
    // EXPLODE time only — the
    // structs exist transiently in codegen; the checkpointed payload stays
    // flat primitives. The W2 cumulative measure is accumulated in the
    // kernel during geometry materialization.
    val shapes = solved
      .select(explode($"trip_ids").as("shape_id"), $"lats", $"lngs", $"dists")
      .select($"shape_id",
        posexplode(arrays_zip($"lats", $"lngs", $"dists")).as(Seq("seq", "z")))
      .select($"shape_id", $"seq", $"z.lats".as("lat"), $"z.lngs".as("lng"),
        $"z.dists".as("travel_dist"))
    val anchors = solved
      .select(explode($"trip_ids").as("trip_id"), $"anchors")
      .select($"trip_id", posexplode($"anchors").as(Seq("stop_idx", "point_seq")))
    val hops = solved
      .select(explode($"trip_ids").as("trip_id"), $"hops")
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
    def orEmpty(c: String) = if (tripStops.columns.contains(c)) col(c) else lit("")
    // G2 routing attrs: the trip's first/last stop NAMES feed the
    // from/to line-factor split (RoutingAttrs lineFrom/lineTo); feeds
    // without a stop_name column degrade to empty = always-similar. The
    // line and the names come from a typed aggregate (MatchOps.Ends: the
    // first row's line, the names at the least and greatest seq), not
    // from fields of the collected stops: one line and two names per trip
    // cross the exchange, not a name per stop.
    tripStops
      .groupBy($"trip_id")
      .agg(sort_array(collect_list(struct($"seq", $"stop_id", $"arr_s", $"dep_s",
        $"lat", $"lng"))).as("stops"),
        tripEnds(orEmpty("line_name"), orEmpty("stop_name"), $"seq").as("e"))
      .select($"trip_id", $"stops", coalesce($"e.line_name", lit("")).as("line_name"),
        coalesce($"e.from_name", lit("")).as("from_name"),
        coalesce($"e.to_name", lit("")).as("to_name"))
      // the cluster key includes the line identity: trips on different
      // lines cost-shape differently (RoutingAttrs clustering, A2).
      // xxhash64 hashes the struct ARRAY natively — the r2 to_json
      // serialization ran Jackson per trip row and showed up in stack
      // profiles of the match stage. The relative stops come from a
      // precompiled helper (MatchOps.relStops): a transform lambda split
      // the stage's whole-stage class in two.
      .withColumn("seq_key", conv(xxhash64(relStops($"stops"), $"line_name"), 10, 16))
  }

  /** One row per distinct sequence from tripStopsWithKey's per-trip rows:
    * (seq_key, line_name, stops, from_name, to_name, trip_ids). The
    * sequence is that of ONE representative trip, the deterministic min
    * trip_id (trips sharing a key differ only by a constant time shift and
    * the kernel is shift-invariant, so any representative solves
    * identically); trip_ids lists every trip sharing the key, sorted. One
    * aggregate: the per-trip table is never materialized, joined back or
    * planned a second time. */
  def distinctSeqs(keyed: DataFrame): DataFrame = {
    import keyed.sparkSession.implicits._
    keyed.filter($"trip_id".isNotNull)
      .select($"seq_key", $"trip_id", $"line_name", $"stops", $"from_name", $"to_name")
      .groupBy($"seq_key")
      .agg(min_by(struct($"line_name", $"stops", $"from_name", $"to_name"), $"trip_id").as("r"),
        sort_array(collect_list($"trip_id")).as("trip_ids"))
      .select($"seq_key", $"r.line_name".as("line_name"), $"r.stops".as("stops"),
        $"r.from_name".as("from_name"), $"r.to_name".as("to_name"), $"trip_ids")
  }

  case class HopRow(hop_idx: Int, edge_ids: Array[Long], reachable: Boolean)
  /** The solved-shape payload is three FLAT primitive arrays (parallel by
    * point index; dists = the W2 cumulative haversine measure, accumulated
    * at materialization, stored at the float precision the output schema
    * carries) rather than an array of per-point structs: this payload
    * crosses the solve-cogroup shuffle and a serialized checkpoint, and
    * struct-per-point arrays paid a Tungsten
    * offset+null-word per POINT on every hop (measured: the match phase
    * spends most of its executor time outside the kernel, in exactly this
    * serialization). anchors = index into the point arrays of each stop's
    * snap position (per-stop shape_dist_traveled, the eval's cut anchors).
    * trip_ids: the trips sharing the sequence (the solve attaches them;
    * the kernel leaves them empty). */
  case class SolvedSeq(seq_key: String, lats: Array[Double],
                       lngs: Array[Double], dists: Array[Float],
                       anchors: Array[Int], hops: Array[HopRow],
                       n_hops: Int, n_unroutable: Int, cost10: Long,
                       trip_ids: Array[String] = Array.empty)
  /** ordered stop row inside a sequence (encoder-compatible field names) */
  case class TS(seq: Int, stop_id: String, arr_s: Int, dep_s: Int,
                lat: Double, lng: Double)

  /** Solve ALREADY-DISTINCT sequences (distinctSeqs' rows). The graph is
    * either one broadcast bin or DistGraphBuild's file-backed component
    * bins (GraphPartitions); each solver group resolves the bins its
    * candidates' bin tags name — over file bins no executor ever holds the
    * full graph. Every group runs one kernel, the trip trie
    * (MatcherKernel.solveCluster). Output: SolvedSeq rows, each carrying
    * its sequence's trip ids. */
  def solveSeqs(spark: SparkSession, distinctSeqs: DataFrame, cands: DataFrame,
                parts: GraphPartitions, cfg: OsmConfig): DataFrame = {
    import spark.implicits._
    val cfgB = spark.sparkContext.broadcast(cfg)

    val in = solverInputs(spark, distinctSeqs, cands)
    val clToNamesB = spark.sparkContext.broadcast(in.toNames)

    def solveGroup(key: (String, String, Int), rows: Array[SolverSeq],
                   candArr: Array[SolverCand]): Iterator[SolvedSeq] = {
      val line = key._1
      val candMap: Map[String, Array[(Long, Double, Long, Double, Double, Int)]] =
        candArr.groupBy(_.stop_id).map { case (k, v) =>
          k -> v.map(c => (c.edge_id, c.progr, c.pen10, c.py, c.px, c.oneway))
        }
      // only the graph bins this cluster's candidates touch are fetched
      val g = parts.resolve(candArr.map(_.bin))
      // G2 routing attrs of this cluster: one lineFrom (same first stop
      // by construction), the PHYSICAL cluster's full lineTo set (shared
      // across salted sub-groups — one RoutingAttrs identity per cluster)
      val fromName = rows.headOption.map(_.from_name).getOrElse("")
      val toNames = rows.headOption.map(_ => clToNamesB.value((key._1, key._2)))
        .getOrElse(Array.empty[String])
      val tripIds = rows.iterator.map(r => r.seq_key -> r.trip_ids).toMap
      MatcherKernel.solveCluster(line, fromName, toNames,
        rows.map(r => (r.seq_key, relativeTimes(r.stops))), g, candMap,
        cfgB.value).iterator.map(s => s.copy(trip_ids = tripIds(s.seq_key)))
    }

    // BIN-AWARE LOCALITY (multi-bin partitionings with tagged candidates):
    // a hash placement scatters every bin's solver groups across every
    // executor, so each executor ends up fetching nearly every bin. The
    // placement routes same-bin groups into a contiguous partition block
    // sized by the bin's GROUP count (work-proportional, so a dominant bin
    // keeps its parallelism) — an executor then holds tasks of few distinct
    // bins and its fetched-bin bytes approach its bins' sizes instead of
    // the whole graph. Primary bin per group: max (an untagged -1 loses to
    // any real bin); one row per GROUP, the bounded cardinality of clRows.
    // Without tags or with one bin the map is empty (no job) and the same
    // placement is a plain hash.
    val groupBin: Map[(String, String, Int), Int] =
      if (!cands.columns.contains("bin") || parts.bins.length <= 1) Map.empty
      else in.candRows.groupBy($"c_line", $"c_stop", $"salt").agg(max($"bin"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)) -> r.getInt(3))
        .toMap
    // FEW, FAT partitions (≈ one per bin, floor = core count): Spark hands
    // tasks to executors by slot availability, so a bin spread over many
    // small partitions reaches many executors no matter how contiguously
    // the blocks are laid out. With ~1 partition per bin an executor
    // fetches one bin per partition it takes.
    val place = new BinBlockPlacement(
      math.max(spark.sparkContext.defaultParallelism, parts.bins.length), parts.bins.length,
      groupBin.values.filter(_ >= 0).groupBy(identity).map { case (b, xs) => (b, xs.size) })
    val groupBinB = spark.sparkContext.broadcast(groupBin)
    val pid = udf((l: String, s: String, salt: Int) =>
      place((l, s, salt), groupBinB.value.getOrElse((l, s, salt), -1)))
    // the placement is a column both sides are repartitioned by; pid is a
    // function of the group key, so grouping on (pid, key) keeps the groups
    // and the id-passthrough partitioning satisfies the cogroup with no
    // second exchange. The values resolve by name, so pid stays out of them.
    // Both sides lead with (pid, c_line, c_stop, salt): their partition-id,
    // sort-prefix, ordering and key projections are one generated class
    // each.
    def placed(ds: Dataset[_]) = {
      val df = ds.toDF()
      df.select(pid($"c_line", $"c_stop", $"salt").as("pid") +: df.columns.map(col): _*)
        .repartitionById(place.n, $"pid")
        .groupBy($"pid", $"c_line", $"c_stop", $"salt")
    }
    // cogroup: a sequence whose stops ALL lack candidates still arrives
    // (with an empty candidate side) and is solved via the null-candidate
    // fallback, never silently dropped.
    placed(in.seqRows).as[(Int, String, String, Int), SolverSeq]
      .cogroup(placed(in.candRows).as[(Int, String, String, Int), SolverCand]) {
        (key, seqIt, candIt) =>
          if (seqIt.isEmpty) Iterator.empty
          else solveGroup((key._2, key._3, key._4), seqIt.toArray, candIt.toArray)
      }.toDF()
  }

  /** A sequence's stops with times relative to its first departure, as
    * the kernel solves them. Sequences sharing a seq_key differ only by a
    * constant shift, but the REPRESENTATIVE carrying each key holds its own
    * trip's absolute times — and the trie averages times ACROSS member
    * sequences, so at a trie fork the parent/child member sets differ and
    * avgTime differences absorb the representatives' shift spread (hours
    * at high trips-per-route). A poisoned `sched` inflates the hop cutoff
    * by that spread and a layer relax degenerates into whole-graph searches
    * (observed: a solver task pinned for 15+ minutes on work that takes
    * seconds). Relative times are what the cluster key hashes; solving on
    * them makes the kernel shift-exact and the layer memo
    * representative-independent. */
  private[graft] def relativeTimes(stops: Seq[TS]): Array[TS] = {
    val t0 = stops.headOption.fold(0)(_.dep_s)
    stops.iterator.map(s => s.copy(arr_s = s.arr_s - t0, dep_s = s.dep_s - t0)).toArray
  }

  /** What the solver groups are built from: one row per sequence keyed by
    * its salted cluster (c_line, c_stop, salt), the cluster's candidate
    * rows under the same key, and each cluster's lineTo set.
    * distinctSeqs: distinctSeqs' rows. */
  private[graft] case class SolverInputs(
      seqRows: Dataset[SolverSeq],
      candRows: Dataset[SolverCand],
      toNames: Map[(String, String), Array[String]])
  /** one sequence under its salted cluster key (the representative's times) */
  case class SolverSeq(c_line: String, c_stop: String, salt: Int, seq_key: String,
                       stops: Seq[TS], from_name: String, trip_ids: Array[String])
  /** one candidate of a stop of the cluster; bin -1 when untagged */
  case class SolverCand(c_line: String, c_stop: String, salt: Int, stop_id: String,
                        edge_id: Long, progr: Double, pen10: Long, py: Double,
                        px: Double, oneway: Int, bin: Int)

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
    // DistGraphBuild). Both per-cluster results return to the executors as
    // broadcast maps: a broadcast join on the string cluster key would build
    // a hash relation holding a whole memory page per JVM, and the solve
    // would plan it once per cogroup side.
    val clustered = distinctSeqs
      .withColumn("c_line", coalesce($"line_name", lit("")))
      .withColumn("c_stop", coalesce(element_at($"stops", 1).getField("stop_id"), lit("")))
    val clAgg = clustered.select($"c_line", $"c_stop", $"to_name")
      .groupBy($"c_line", $"c_stop")
      .agg(count(lit(1)).as("n_cl"),
        sort_array(collect_set(coalesce($"to_name", lit("")))).as("cl_to_names"))
    val clRows = clAgg.collect()
    val totalSeqs = clRows.iterator.map(_.getLong(2)).sum
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
    // any group). A comparison that must run one plan at several core
    // counts pins spark.default.parallelism (ScalingBench).
    val targetGroups = math.max(1L, 4L * spark.sparkContext.defaultParallelism)
    val grain = math.max(MaxSeqsPerGroup.toLong,
      (totalSeqs + targetGroups - 1) / targetGroups).toDouble
    // salted sub-groups per cluster: max(1, ceil(n_cl / grain))
    val saltsB = spark.sparkContext.broadcast(clRows.map(r =>
      (r.getString(0), r.getString(1)) -> math.max(1L, math.ceil(r.getLong(2) / grain).toLong)
    ).toMap)
    val salts = udf((l: String, s: String) => saltsB.value((l, s)))
    val salted = clustered
      .withColumn("salt", pmod(xxhash64($"seq_key"), salts($"c_line", $"c_stop")).cast("int"))
    val seqRows = salted
      .select($"c_line", $"c_stop", $"salt", $"seq_key", $"stops",
        coalesce($"from_name", lit("")).as("from_name"), $"trip_ids")
      .as[SolverSeq]

    // Candidates are shipped ONCE PER CLUSTER via cogroup, not once per
    // sequence: the member sequences of a cluster share (almost all of)
    // their stops, so a per-seq_key candidate join duplicated every
    // stop's candidate rows across all its sequences (measured ~64x
    // payload amplification = most of the match stage's executor time —
    // encoder deserialization of tens of millions of duplicate structs).
    // This is still a JOIN distribution, never a driver collect.
    // candidates may carry a bin tag (file-backed bins: DistGraphBuild
    // .tagCands) — the solver resolves its graph from the tags; untagged
    // candidates (-1) route over the single broadcast bin
    val binCol = if (cands.columns.contains("bin")) col("bin").cast("int") else lit(-1)
    // one exchange by stop serves the dedup and the candidate join; a hash
    // join on that partitioning needs no sort of either side, and a stop's
    // candidates (at most MaxCandsPerStop) are the side it builds
    val candRows = salted
      .select($"c_line", $"c_stop", $"salt",
        explode($"stops.stop_id").as("stop_id"))
      .repartition($"stop_id")
      .distinct()
      .join(cands.select($"stop_id", $"edge_id", $"progr", $"pen10",
        $"py", $"px", $"oneway", binCol.as("bin")).hint("shuffle_hash"), Seq("stop_id"))
      .select($"c_line", $"c_stop", $"salt", $"stop_id", $"edge_id",
        $"progr", $"pen10", $"py", $"px", $"oneway", $"bin")
      .as[SolverCand]
    SolverInputs(seqRows, candRows, toNames)
  }

  /** Bin-block placement of the solver groups over `n` partitions: each
    * bin owns a contiguous block whose width is proportional to its group
    * count (at least 1); a group without a bin (-1) hashes over the whole
    * range. A pure function of (group key, group bin), so both cogroup
    * sides place a group alike. */
  final class BinBlockPlacement(val n: Int, nBins: Int, groupsPerBin: Map[Int, Int])
      extends Serializable {
    private val starts = new Array[Int](nBins)
    private val lens = new Array[Int](nBins)
    locally {
      val total = math.max(1, groupsPerBin.values.sum)
      var at = 0
      (0 until nBins).foreach { b =>
        val share = groupsPerBin.getOrElse(b, 0)
        val len = math.max(1, (share.toLong * n / total).toInt)
        starts(b) = at % n
        lens(b) = math.min(len, n)
        at += lens(b)
      }
    }
    private def mod(h: Int, m: Int): Int = { val r = h % m; if (r < 0) r + m else r }
    def apply(key: (String, String, Int), bin: Int): Int =
      if (bin < 0 || bin >= nBins) mod(key.hashCode, n)
      else (starts(bin) + mod((key._1, key._2).hashCode + key._3, lens(bin))) % n
  }

  /** Floor on distinct sequences per solver task (the salting grain).
    * Small enough that tasks comfortably outnumber cores on any real feed,
    * large enough that the trie still shares prefixes within a task. */
  val MaxSeqsPerGroup = 64
}

/** The executor-side solve, one kernel for every sequence: a solver
  * group's sequences go through the trip trie (solveCluster — candidate
  * expansion to directed edges, layer relaxation, backtrace per leaf),
  * then geometry materialization. Pure Scala over the group's resolved
  * graph. Viterbi.solve, the linear lattice solve, is the tests'
  * reference. */
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
                  fromName: String, toNames: Array[String]): Viterbi.RelaxParams = {
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
    * on the same leaf share geometry (A3/G4/W4). A one-stop sequence is a
    * leaf at its departure node: one layer, no hop, the min-pen candidate
    * (TrieSolver.Trie.add). */
  def solveCluster(lineName: String, fromName: String, toNames: Array[String],
                   seqs: Array[(String, Array[Matcher.TS])],
                   g: CompactGraph,
                   candMap: Map[String, Array[(Long, Double, Long, Double, Double, Int)]],
                   cfg: OsmConfig): Array[SolvedSeq] = {
    val t0 = System.nanoTime()
    val c0 = tmx.getCurrentThreadCpuTime
    KernelGroups.increment()
    try {
      val tp0 = System.nanoTime()
      val p = relaxParams(g, cfg, lineName, fromName, toNames)
      ParamsNanos.add(System.nanoTime() - tp0)
      TrieSolver.buildForest(seqs).iterator.flatMap { trie =>
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
      }.toArray
    } finally {
      val wallNs = System.nanoTime() - t0
      KernelNanos.add(wallNs)
      KernelCpuNanos.add(tmx.getCurrentThreadCpuTime - c0)
      KernelSolves.add(seqs.length)
      // watchdog: a cluster solve that takes minutes on work measured in
      // seconds is an environment pathology (JIT starvation, GC spiral,
      // host steal) — name it in the executor log with enough context to
      // localize instead of hanging silently
      if (wallNs > 30e9) System.err.println(
        f"[kernel-trace] done line=$lineName seqs=${seqs.length} " +
          f"wall=${wallNs / 1e9}%.1f s cpu=${(tmx.getCurrentThreadCpuTime - c0) / 1e9}%.1f s " +
          f"iters=${Dijkstra.Iters.sum()} thread=${Thread.currentThread().getName}")
    }
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
