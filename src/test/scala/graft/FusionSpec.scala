package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.eval.Shapevl.{Pt, SD, scoreTrip}
import graft.fixtures.{SyntheticWorld, WorldTables}
import graft.functions.GeoFunctions._
import graft.geo.Cell
import graft.model.{OsmMember, OsmNode, OsmRel, OsmWay}
import graft.osm.{GraphBuilder, OsmConfig, StationSnap}
import graft.router.Matcher

/** The fused plans equal the formulations they replaced, as row multisets,
  * on a seeded world extended with the cases the fusions must get right: a
  * sub-meter gap between two dead ends, a route relation without `ref`, and
  * a line whose trips end at different terminals. The previous
  * formulations are kept below verbatim as the reference. */
class FusionSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._
  lazy val cfg = OsmConfig.bus

  lazy val world: SyntheticWorld.World = {
    val w = SyntheticWorld.build(8, 12, seed = 7L, tripsPerRoute = 3, variedTrips = true)
    val mid = w.nodes(w.nodes.length / 2)
    val (la, lo) = (mid.lat + 0.0003, mid.lon)
    val road = Map("highway" -> "residential")
    // two dead-end ways whose ends lie ~0.4 m apart: fixGaps merges them
    val gapNodes = Seq(OsmNode(9000001L, la, lo, Map.empty), OsmNode(9000002L, la, lo + 0.001, Map.empty),
      OsmNode(9000003L, la, lo + 0.001005, Map.empty), OsmNode(9000004L, la, lo + 0.002, Map.empty))
    val gapWays = Seq(OsmWay(9100001L, road, Array(9000001L, 9000002L)),
      OsmWay(9100002L, road, Array(9000003L, 9000004L)))
    // a route relation without `ref` (no line identity: no way lines)
    val member = w.rels.find(_.tags.get("type").contains("route")).get.members.head
    val noRef = OsmRel(9200001L, Map("type" -> "route", "route" -> "bus", "from" -> "A",
      "to" -> "B", "colour" -> "#000000"), Array(member))
    w.copy(nodes = w.nodes ++ gapNodes, ways = w.ways ++ gapWays, rels = w.rels :+ noRef)
  }
  lazy val t = WorldTables(spark, world)
  lazy val bbox = GraphBuilder.feedBBox(t.stops).pad(cfg.bboxPaddingM)
  lazy val gt = GraphBuilder.build(spark, t.osmNodes, t.osmWays, t.osmRels, bbox, cfg)
  lazy val refined = StationSnap.refine(spark, gt, cfg, gt.blockers)._1

  /** order-insensitive row multiset, columns by name */
  private def bag(df: DataFrame): Seq[String] =
    df.select(to_json(struct(df.columns.sorted.map(c => col(s"`$c`")): _*)))
      .as[String].collect().toSeq.sorted

  test("feedBBox equals the global min/max aggregate") {
    val r = t.stops.agg(min("lat"), min("lng"), max("lat"), max("lng")).head()
    assert(GraphBuilder.feedBBox(t.stops) ==
      GraphBuilder.BBox(r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
  }

  test("wayLines: filter + inline hash equals the join back to the line dim") {
    val routeRels = t.osmRels.filter($"tags".getItem("type") === "route")
      .select($"id".as("rel_id"),
        $"tags".getItem("ref").as("short_name"),
        $"tags".getItem("from").as("from_str"),
        $"tags".getItem("to").as("to_str"),
        $"tags".getItem("colour").as("colour"),
        expr("transform(filter(members, m -> m.mtype = 1), m -> m.ref)").as("way_ids"))
    val lineDim = routeRels
      .select($"short_name", $"from_str", $"to_str", $"colour").distinct()
      .withColumn("line_id", xxhash64($"short_name", $"from_str", $"to_str", $"colour"))
    val old = routeRels
      .join(lineDim, Seq("short_name", "from_str", "to_str", "colour"))
      .select(explode($"way_ids").as("way_id"), $"line_id")
      .distinct()
    assert(lineDim.filter($"short_name".isNull).count() == 1) // the ref-less relation
    assert(bag(gt.wayLines) == bag(old))
    assert(bag(gt.transitLines) == bag(lineDim))
  }

  test("degree-1 endpoints from the contraction's degrees equal the re-aggregation") {
    // the built edges are a valid contraction input (pos, no break nodes)
    val edgesCost = gt.edges.drop("geom", "cells").withColumn("from_tc", lit(null))
    val c = GraphBuilder.contractWithDegrees(edgesCost)
    val ends = c.select($"from_id".as("node_id"), $"from_lat".as("lat"), $"from_lon".as("lon"))
      .unionByName(c.select($"to_id".as("node_id"), $"to_lat".as("lat"), $"to_lon".as("lon")))
    val old = ends.groupBy($"node_id")
      .agg(count(lit(1)).as("deg"), min($"lat").as("lat"), min($"lon").as("lon"))
      .filter($"deg" === 1).drop("deg")
    val now = GraphBuilder.degreeOneEnds(c)
    assert(bag(now) == bag(old))
    // the gap world has dead ends; the build merged the sub-meter pair
    assert(now.count() > 0)
    assert(gt.edges.filter($"from_id" === 9000003L || $"to_id" === 9000003L).count() == 0)
    // the gap merge over either degree table gives the same edges
    assert(bag(GraphBuilder.mergeGaps(c, now, 1.0).drop("from_deg", "to_deg")) ==
      bag(GraphBuilder.fixGaps(c.drop("from_deg", "to_deg"), 1.0)))
  }

  test("contraction with window degrees equals the degree-join formulation") {
    val edgesCost = gt.edges.drop("geom", "cells")
    assert(bag(GraphBuilder.contractDeg2Chains(edgesCost, gt.blockers)) ==
      bag(PriorPlans.contractDeg2Chains(edgesCost, gt.blockers)))
  }

  test("candidates: one per-stop station aggregate equals the three station joins") {
    val maxAbsLat = Some(math.max(math.abs(bbox.latMin), math.abs(bbox.latMax)))
    val now = Matcher.buildCandsWithStations(spark, t.stops, refined.edges, refined.stations,
      cfg, maxAbsLat)
    val old = PriorPlans.buildCandsWithStations(spark, t.stops, refined.edges, refined.stations,
      cfg, maxAbsLat)
    assert(now.columns.toSeq == old.columns.toSeq)
    val n = bag(now)
    assert(n.nonEmpty && n == bag(old))
  }

  test("solver inputs: one cluster aggregate equals the seq_key self-joins") {
    // a multi-terminal line: a third of the trips end two stops early
    val ts0 = WorldTables.tripStops(t)
    val maxSeq = ts0.groupBy($"trip_id").agg(max($"seq").as("mx"))
    val ts = ts0.join(maxSeq, "trip_id")
      .filter(!(pmod(xxhash64($"trip_id"), lit(3)) === 0 && $"seq" >= $"mx" - 1))
      .drop("mx")
    val (_, distinct0) = Matcher.tripSeqTables(ts)
    val distinct = distinct0
      .withColumn("t0", $"stops"(0).getField("dep_s"))
      .withColumn("stops", expr(
        "transform(stops, x -> struct(x.seq as seq, x.stop_id as stop_id, " +
          "cast(x.arr_s - t0 as int) as arr_s, cast(x.dep_s - t0 as int) as dep_s, " +
          "x.lat as lat, x.lng as lng))"))
      .drop("t0")
    val cands = Matcher.buildCandsWithStations(spark, t.stops, refined.edges,
      refined.stations, cfg)
    val now = Matcher.solverInputs(spark, distinct, cands)
    val (oldSeqs, oldCands) = PriorPlans.solverInputs(spark, distinct, cands)
    assert(now.toNames.values.exists(_.length > 1)) // the multi-terminal line
    val nowSeqs = now.seqRows.toDF()
      .withColumn("cl_to_names", typedLit(now.toNames.map { case ((l, s), n) => s"$l|$s" -> n.toSeq })
        .getItem(concat_ws("|", $"c_line", $"c_stop")))
    assert(bag(nowSeqs) == bag(oldSeqs))
    assert(bag(now.candRows.toDF(oldCands.columns.toIndexedSeq: _*)) == bag(oldCands))
  }
}

/** The formulations the fused plans replaced, verbatim. */
object PriorPlans {
  def contractDeg2Chains(edgesCost: DataFrame, breakNodes: DataFrame): DataFrame = {
    val spark = edgesCost.sparkSession
    import spark.implicits._
    val deg = edgesCost.select($"from_id".as("node_id"))
      .unionByName(edgesCost.select($"to_id".as("node_id")))
      .groupBy($"node_id").agg(count(lit(1)).as("deg"))
    val w = Window.partitionBy($"way_id").orderBy($"pos")
    val withTc = edgesCost.join(
        broadcast(breakNodes.select($"node_id".as("from_id")).distinct()
          .withColumn("from_tc", lit(1))), Seq("from_id"), "left_outer")
    val withBreak = withTc
      .join(deg.withColumnRenamed("node_id", "from_id")
        .withColumnRenamed("deg", "from_deg"), Seq("from_id"))
      .withColumn("prev_to", lag($"to_id", 1).over(w))
      .withColumn("brk",
        when($"prev_to".isNull || $"prev_to" =!= $"from_id" ||
          $"from_deg" =!= 2 || $"from_tc".isNotNull, 1).otherwise(0))
      .withColumn("chain", sum($"brk").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    withBreak
      .groupBy($"way_id", $"chain")
      .agg(
        min($"edge_id").as("edge_id"),
        min($"pos").as("pos"),
        min_by($"from_id", $"pos").as("from_id"), max_by($"to_id", $"pos").as("to_id"),
        min_by($"from_lat", $"pos").as("from_lat"), min_by($"from_lon", $"pos").as("from_lon"),
        max_by($"to_lat", $"pos").as("to_lat"), max_by($"to_lon", $"pos").as("to_lon"),
        sum($"len_m").as("len_m"),
        sum($"cost10").as("cost10"),
        min_by($"lvl", $"pos").as("lvl"), min_by($"oneway", $"pos").as("oneway"),
        concat(
          transform(
            sort_array(collect_list(struct($"pos", $"from_lat".as("lat"), $"from_lon".as("lon")))),
            x => struct(x.getField("lat").as("lat"), x.getField("lon").as("lon"))),
          array(struct(max_by($"to_lat", $"pos").as("lat"), max_by($"to_lon", $"pos").as("lon"))))
          .as("geom"))
      .drop("chain")
  }

  def solverInputs(spark: SparkSession, distinctSeqs: DataFrame,
                   cands: DataFrame): (DataFrame, DataFrame) = {
    import spark.implicits._
    val slimKeys = distinctSeqs.select($"seq_key",
      coalesce($"line_name", lit("")).as("c_line"),
      coalesce(element_at($"stops", 1).getField("stop_id"), lit("")).as("c_stop"))
    val clCounts = slimKeys.groupBy($"c_line", $"c_stop").agg(count(lit(1)).as("n_cl"))
    val clRows = clCounts.collect()
    val totalSeqs = clRows.iterator.map(_.getLong(2)).sum
    val clLocal = spark.createDataFrame(
      spark.sparkContext.parallelize(clRows.toIndexedSeq, 1), clCounts.schema)
    val targetGroups = math.max(1L, 4L * spark.sparkContext.defaultParallelism)
    val grain = math.max(Matcher.MaxSeqsPerGroup.toLong,
      (totalSeqs + targetGroups - 1) / targetGroups).toDouble
    val saltedKeys = slimKeys.join(broadcast(clLocal), Seq("c_line", "c_stop"))
      .withColumn("salt",
        pmod(xxhash64($"seq_key"),
          greatest(lit(1L), ceil($"n_cl" / lit(grain)).cast("long")))
          .cast("int"))
      .select($"seq_key", $"c_line", $"c_stop", $"salt")
    val clToNames = slimKeys
      .join(distinctSeqs.select($"seq_key", coalesce($"to_name", lit("")).as("tn")),
        Seq("seq_key"))
      .groupBy($"c_line", $"c_stop")
      .agg(sort_array(collect_set($"tn")).as("cl_to_names"))
    val seqRows = distinctSeqs.join(saltedKeys, Seq("seq_key"))
      .join(broadcast(clToNames), Seq("c_line", "c_stop"))
      .select($"c_line", $"c_stop", $"salt", $"seq_key", $"stops",
        coalesce($"from_name", lit("")).as("from_name"),
        $"cl_to_names")
    val hasBin = cands.columns.contains("bin")
    val binCol = if (hasBin) col("bin").cast("int") else lit(-1)
    val candRows = saltedKeys
      .join(distinctSeqs.select($"seq_key",
        explode(expr("transform(stops, s -> s.stop_id)")).as("stop_id")), Seq("seq_key"))
      .select($"c_line", $"c_stop", $"salt", $"stop_id").distinct()
      .join(cands.select($"stop_id", $"edge_id", $"progr", $"pen10",
        $"py", $"px", $"oneway", binCol.as("bin")), Seq("stop_id"))
      .select($"c_line", $"c_stop", $"salt", $"stop_id", $"edge_id",
        $"progr", $"pen10", $"py", $"px", $"oneway", $"bin")
    (seqRows, candRows)
  }

  def shapevlEvaluate(spark: SparkSession, truthShapes: DataFrame, genShapes: DataFrame,
                      stopDists: DataFrame, stopDistsGen: DataFrame = null): DataFrame = {
    import spark.implicits._
    def collectShapes(df: DataFrame) = df
      .groupBy($"shape_id")
      .agg(sort_array(collect_list(struct($"seq", $"lat", $"lng", $"travel_dist"))).as("pts"))
    def collectDists(df: DataFrame, name: String) = df.groupBy($"trip_id")
      .agg(sort_array(collect_list(struct($"seq", $"shape_dist"))).as(name))
    val sdg = if (stopDistsGen == null) stopDists else stopDistsGen
    val joined = collectShapes(truthShapes).withColumnRenamed("pts", "truth")
      .withColumnRenamed("shape_id", "trip_id")
      .join(collectShapes(genShapes).withColumnRenamed("pts", "gen")
        .withColumnRenamed("shape_id", "trip_id"), Seq("trip_id"))
      .join(collectDists(stopDists, "dists"), Seq("trip_id"))
      .join(collectDists(sdg, "dists_gen"), Seq("trip_id"))
      .as[(String, Seq[Pt], Seq[Pt], Seq[SD], Seq[SD])]
    joined.map { case (tripId, truth, gen, dists, distsGen) =>
      scoreTrip(tripId,
        truth.map(p => (p.lat, p.lng, p.travel_dist.toDouble)).toArray,
        gen.map(p => (p.lat, p.lng, p.travel_dist.toDouble)).toArray,
        dists.map(_.shape_dist.toDouble).toArray,
        distsGen.map(_.shape_dist.toDouble).toArray)
    }.toDF()
  }

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
    // ONE aggregation pass over the stop x station pairs serves both
    // outputs below: the previous two groupBys keyed differently ((stop,
    // node) vs (stop)) over the un-exchanged simPairs subtree, so the
    // k-ring join + both similarity UDFs executed twice per action. Both
    // outputs now hang off the same (stop_id, node_id) exchange, which
    // ReuseExchange dedups within the final cands plan. The lexicographic
    // struct-min is hierarchical, so the per-(stop, node) min of
    // (trk_mism, d_m) followed by the per-stop min over (trk_mism, d_m,
    // node_id) picks exactly the pair-level minimum the old single-level
    // min_by picked (st_lat/st_lon are constant per node).
    val simAgg = simPairs.groupBy($"stop_id", $"node_id")
      .agg(min(struct($"trk_mism", $"d_m")).as("md"),
        first($"st_lat").as("st_lat"), first($"st_lon").as("st_lon"))
    // a vertex aliasing several platforms counts as matching if ANY matches
    val simStations = simAgg.select($"stop_id", $"node_id",
      $"md.trk_mism".as("trk_mism"))
    // the NEAREST similar station per stop — matching track beats distance
    // (two same-name platforms of one station are otherwise
    // indistinguishable): candidates touching that vertex snap their
    // position onto it, so matched shapes terminate exactly at the station
    // node (the reference routes via station group nodes, OsmBuilder
    // snapStation + ShapeBuilder getECM)
    val bestStation = simAgg.groupBy($"stop_id")
      .agg(min_by(struct($"node_id", $"st_lat", $"st_lon"),
        struct($"md.trk_mism".as("trk_mism"), $"md.d_m".as("d_m"), $"node_id")).as("b"))
      .select($"stop_id", $"b.node_id".as("best_node"),
        $"b.st_lat".as("b_lat"), $"b.st_lon".as("b_lon"))
    val cands = buildCands(spark, stops, edges, cfg, maxAbsLat)
    val nonStationPen10 = graft.geo.Geo.costToInt(cfg.nonStationPenaltySec)
    val platformPen10 = graft.geo.Geo.costToInt(cfg.platformUnmatchedPenaltySec)
    // an edge is a "station candidate" if either endpoint is a similar station
    val edgeEnds = edges.select($"edge_id", $"from_id", $"to_id")
    cands.join(edgeEnds, Seq("edge_id"), "left_outer")
      .join(simStations.withColumnRenamed("node_id", "from_id")
        .withColumnRenamed("trk_mism", "from_mism")
        .withColumn("st_from", lit(1)), Seq("stop_id", "from_id"), "left_outer")
      .join(simStations.withColumnRenamed("node_id", "to_id")
        .withColumnRenamed("trk_mism", "to_mism")
        .withColumn("st_to", lit(1)), Seq("stop_id", "to_id"), "left_outer")
      .join(bestStation, Seq("stop_id"), "left_outer")
      .withColumn("pen10",
        when($"st_from".isNotNull || $"st_to".isNotNull,
          // emulateReferenceTrackPenalty flips the condition to the
          // reference's literal (inverted) ShapeBuilder.cpp:216-219 test
          $"pen10" + when(least(coalesce($"from_mism", lit(1)),
            coalesce($"to_mism", lit(1))) ===
              (if (cfg.emulateReferenceTrackPenalty) 0 else 1),
            lit(platformPen10)).otherwise(lit(0L)))
          .otherwise($"pen10" + lit(nonStationPen10)))
      .withColumn("at_from", $"best_node".isNotNull && $"from_id" === $"best_node")
      .withColumn("at_to", $"best_node".isNotNull && $"to_id" === $"best_node")
      .withColumn("progr", when($"at_from", lit(0.0))
        .when($"at_to", lit(1.0)).otherwise($"progr"))
      .withColumn("py", when($"at_from" || $"at_to", $"b_lat").otherwise($"py"))
      .withColumn("px", when($"at_from" || $"at_to", $"b_lon").otherwise($"px"))
      .drop("from_id", "to_id", "st_from", "st_to", "from_mism", "to_mism",
        "best_node", "b_lat", "b_lon", "at_from", "at_to")
  }

  /** Candidate generation (J4/J5): broadcast k-ring join + projection.
    * stops(stop_id, lat, lng); edges from GraphBuilder.
    * Returns cands(stop_id, edge_id, progr, pen10, py, px, dist_m, oneway). */
  def buildCands(spark: SparkSession, stops: DataFrame, edges: DataFrame,
                 cfg: OsmConfig, maxAbsLatOpt: Option[Double] = None): DataFrame = {
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
        edges.select($"edge_id", $"oneway",
          expr("transform(geom, p -> p.lat)").as("glat"),
          expr("transform(geom, p -> p.lon)").as("glon"),
          explode($"cells").as("cell"))
      else
        edges.select($"edge_id", $"oneway",
          array($"from_lat", $"to_lat").as("glat"),
          array($"from_lon", $"to_lon").as("glon"),
          explode($"cells").as("cell")))
    // codegen'd projection expression (was a ScalaUDF: Seq[Double]
    // conversion boxed every coordinate of every candidate row's polyline)
    val joined = stopRings.join(edgeCells, Seq("cell"))
      .withColumn("proj", polylineProject($"s_lat", $"s_lng", $"glat", $"glon"))
      .select($"stop_id", $"edge_id", $"oneway",
        $"proj._1".as("progr"), $"proj._2".as("py"), $"proj._3".as("px"),
        $"proj._4".as("dist_m"))
      .filter($"dist_m" <= cfg.maxSnapDistanceM)
      // a (stop, edge) pair can match through several ring cells -> dedup
      .groupBy($"stop_id", $"edge_id")
      .agg(first($"progr").as("progr"), first($"py").as("py"), first($"px").as("px"),
        first($"dist_m").as("dist_m"), first($"oneway").as("oneway"))
    // keep top-K nearest edges per stop; the best-per-deg-2-chain dedup
    // (O1/G9) happens kernel-side against CompactGraph.chainOf
    val byStop = Window.partitionBy($"stop_id").orderBy($"dist_m", $"edge_id")
    joined.withColumn("rk", row_number().over(byStop))
      .filter($"rk" <= 8).drop("rk")
      .withColumn("pen10", ceil($"dist_m" * lit(cfg.distPenFactor) * 10.0).cast("long"))
  }
}
