package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.eval.Shapevl.{Pt, SD, scoreTrip}
import graft.fixtures.{SyntheticWorld, WorldTables}
import graft.functions.GeoFunctions._
import graft.geo.Cell
import graft.model.{GtfsStop, OsmMember, OsmNode, OsmRel, OsmWay}
import graft.osm.{GraphBuilder, OsmConfig, StationSnap}
import graft.plans.Boundary
import graft.router.{CompactGraph, GraphPartitions, Matcher}

/** The fused plans equal the formulations they replaced, as row multisets,
  * on a seeded world extended with the cases the fusions must get right: a
  * sub-meter gap between two dead ends, a route relation without `ref`, and
  * a line whose trips end at different terminals. The grouped passes of
  * the graph build, the candidates and the match are also checked on a
  * second world with trips sharing a stop sequence, a way that leaves and
  * re-enters the bbox, a closed way, and a stop with more than K candidate
  * edges tied at the same distance. The previous formulations are kept
  * below verbatim as the reference. */
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
    // a station without a name of its own in two named stop areas: it
    // takes the name of the lower relation id
    val nameless = OsmNode(9000010L, la - 0.0006, lo,
      Map("public_transport" -> "stop_position", "bus" -> "yes"))
    def area(id: Long, name: String, members: OsmMember*) = OsmRel(id,
      Map("type" -> "public_transport", "public_transport" -> "stop_area", "name" -> name),
      members.toArray)
    val areas = Seq(area(9200003L, "Area B", OsmMember(9000010L, 0, "stop")),
      area(9200002L, "Area A", OsmMember(9100001L, 1, ""), OsmMember(9000010L, 0, "stop")))
    w.copy(nodes = w.nodes ++ gapNodes :+ nameless, ways = w.ways ++ gapWays,
      rels = w.rels ++ (noRef +: areas))
  }
  lazy val t = WorldTables(spark, world)
  lazy val bbox = GraphBuilder.feedBBox(t.stops).pad(cfg.bboxPaddingM)
  lazy val gt = GraphBuilder.build(spark, t.osmNodes, t.osmWays, t.osmRels, bbox, cfg)
  lazy val refined = StationSnap.refine(spark, gt, cfg, gt.blockers)._1

  /** the edge cases of the grouped passes, around a grid point between
    * the streets (the grid spacing is 200 m) */
  lazy val world2: SyntheticWorld.World = {
    val w = SyntheticWorld.build(8, 12, seed = 11L, tripsPerRoute = 3, variedTrips = false)
    val mid = w.nodes(w.nodes.length / 2)
    val (la, lo) = (mid.lat - 0.0008, mid.lon + 0.0012)
    val road = Map("highway" -> "residential")
    // a hub station with 12 spokes of 20 m: a stop placed on it is 0 m
    // from all 12 edges, so its K = 8 candidates are cut inside a tie
    val hub = OsmNode(9300000L, la, lo,
      Map("public_transport" -> "stop_position", "name" -> "Hub", "bus" -> "yes"))
    val spokes = (1 to 12).map { i =>
      val a = 2 * math.Pi * i / 12
      OsmNode(9300000L + i, la + 0.00018 * math.cos(a), lo + 0.00027 * math.sin(a), Map.empty)
    }
    val spokeWays = spokes.map(n => OsmWay(9400000L + n.id - 9300000L, road, Array(hub.id, n.id)))
    // a way that leaves the bbox between its second and third node
    val far = OsmNode(9310000L, -30.0, 100.0, Map.empty)
    val out = Seq(OsmNode(9310001L, la + 0.0005, lo, Map.empty),
      OsmNode(9310002L, la + 0.0005, lo + 0.0004, Map.empty),
      OsmNode(9310003L, la + 0.0005, lo + 0.0008, Map.empty))
    val outWay = OsmWay(9410000L, road, Array(out(0).id, out(1).id, far.id, out(2).id))
    // a closed way: a ring of four nodes, first node repeated last
    val ring = (0 until 4).map(i => OsmNode(9320000L + i,
      la - 0.0004 + 0.0002 * (i / 2), lo + 0.0002 * (if (i == 1 || i == 2) 1 else 0), Map.empty))
    val ringWay = OsmWay(9420000L, road, (ring.map(_.id) :+ ring.head.id).toArray)
    val stop = GtfsStop("S_HUB", "Hub", la, lo, "", "", 0)
    w.copy(nodes = w.nodes ++ (hub +: spokes) ++ (far +: out) ++ ring,
      ways = w.ways ++ spokeWays :+ outWay :+ ringWay, stops = w.stops :+ stop)
  }
  lazy val t2 = WorldTables(spark, world2)
  lazy val bbox2 = GraphBuilder.feedBBox(t2.stops).pad(cfg.bboxPaddingM)
  lazy val gt2 = GraphBuilder.build(spark, t2.osmNodes, t2.osmWays, t2.osmRels, bbox2, cfg)
  lazy val refined2 = StationSnap.refine(spark, gt2, cfg, gt2.blockers)._1

  /** the build's resolved way nodes of a world, as GraphBuilder.build
    * forms them (no nohup rules in the bus config) */
  private def resolved(tb: WorldTables.Tables, bb: GraphBuilder.BBox): DataFrame = {
    import GraphBuilder.{levelOf, tagMatches}
    tb.osmWays.filter(tagMatches($"tags", cfg.keepWays))
      .select($"id".as("way_id"), levelOf($"tags", cfg.levelRules).as("lvl"),
        when(tagMatches($"tags", cfg.onewayRules), lit(1)).otherwise(lit(0)).as("oneway"),
        posexplode($"nodes").as(Seq("pos", "node_id")))
      .join(tb.osmNodes.filter($"lat" >= bb.latMin && $"lat" <= bb.latMax &&
          $"lon" >= bb.lonMin && $"lon" <= bb.lonMax)
        .select($"id".as("node_id"), $"lat", $"lon",
          when(tagMatches($"tags", cfg.stationRules), lit(1)).as("from_tc")), Seq("node_id"))
  }

  private def withCost(segments: DataFrame): DataFrame =
    segments.withColumn("cost10", costToInt($"len_m" / lit(5.0)))

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
      .select(explode($"way_ids").as("way_id"), $"line_id",
        $"short_name", $"from_str", $"to_str", $"colour")
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
    val distinct = Matcher.distinctSeqs(Matcher.tripStopsWithKey(ts))
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
    val nowSeqs = now.seqRows.toDF().drop("trip_ids")
      .withColumn("cl_to_names", typedLit(now.toNames.map { case ((l, s), n) => s"$l|$s" -> n.toSeq })
        .getItem(concat_ws("|", $"c_line", $"c_stop")))
    assert(bag(nowSeqs) == bag(oldSeqs))
    assert(bag(now.candRows.toDF(oldCands.columns.toIndexedSeq: _*)) == bag(oldCands))
  }

  test("segments and contraction: the per-way walks equal the window formulations") {
    for ((tb, bb) <- Seq((t, bbox), (t2, bbox2))) {
      val r = resolved(tb, bb).cache()
      val seg = GraphBuilder.segments(r)
      assert(bag(seg) == bag(PriorPlans.segments(r)))
      val now = GraphBuilder.contractWithDegrees(withCost(seg))
      val old = PriorPlans.contractWithDegrees(withCost(PriorPlans.segments(r)))
      assert(now.columns.toSeq == old.columns.toSeq)
      val n = bag(now)
      assert(n.nonEmpty && n == bag(old))
      r.unpersist()
    }
    // the second world's cases reached the contraction: the way leaving
    // the bbox joins its nodes around the missing one, the ring closes on
    // its first node
    val c = GraphBuilder.contractWithDegrees(withCost(GraphBuilder.segments(resolved(t2, bbox2))))
    assert(c.filter($"way_id" === 9410000L).select($"from_id", $"to_id").as[(Long, Long)]
      .collect().toSeq == Seq((9310001L, 9310003L)))
    assert(c.filter($"way_id" === 9420000L).select($"from_id", $"to_id", size($"geom"))
      .as[(Long, Long, Int)].collect().toSeq == Seq((9320000L, 9320000L, 5)))
  }

  test("candidates: one group-by-stop pass equals the top-K window and merge join") {
    for ((tb, g) <- Seq((t, refined), (t2, refined2))) {
      val now = Matcher.buildCandsWithStations(spark, tb.stops, g.edges, g.stations, cfg)
      val old = PriorPlans.buildCandsTopKWindow(spark, tb.stops, g.edges, g.stations, cfg)
      assert(now.columns.toSeq == old.columns.toSeq)
      val n = bag(now)
      assert(n.nonEmpty && n == bag(old))
    }
    // the hub stop: 12 edges at 0 m, K = 8 kept, the lowest edge ids
    val hub = Matcher.buildCandsWithStations(spark, t2.stops, refined2.edges,
      refined2.stations, cfg).filter($"stop_id" === "S_HUB")
    assert(hub.count() == Matcher.MaxCandsPerStop)
    assert(hub.filter($"dist_m" === 0.0).count() == Matcher.MaxCandsPerStop)
  }

  test("match: one grouped pass per key equals the seq_key join-back") {
    for ((tb, g) <- Seq((t, refined), (t2, refined2))) {
      val ts = WorldTables.tripStops(tb)
      // some trips share a stop sequence
      assert(Matcher.tripStopsWithKey(ts).groupBy($"seq_key").count()
        .filter($"count" > 1).count() > 0)
      val graph = CompactGraph.fromEdges(g.edges, g.restrictions, g.wayLines,
        g.transitLines, g.turnCycles)
      val cands = Matcher.buildCandsWithStations(spark, tb.stops, g.edges, g.stations, cfg)
        .localCheckpoint()
      val now = Matcher.matchTripsFull(spark, ts, cands, graph, cfg)
      val old = PriorPlans.matchTripsFull(spark, ts, cands, graph, cfg)
      for ((a, b) <- Seq((now.shapes, old.shapes), (now.anchors, old.anchors),
          (now.hops, old.hops))) {
        assert(a.columns.toSeq == b.columns.toSeq)
        val n = bag(a)
        assert(n.nonEmpty && n == bag(b))
      }
    }
  }
  test("build: explodes, helpers and hash joins equal the lambdas and merge joins") {
    for ((tb, bb, g) <- Seq((t, bbox, gt), (t2, bbox2, gt2))) {
      val c = GraphBuilder.contractWithDegrees(withCost(GraphBuilder.segments(resolved(tb, bb))))
        .cache()
      assert(bag(c) == bag(PriorPlans.contractWithDegreesCount(
        withCost(GraphBuilder.segments(resolved(tb, bb))))))
      val ends = GraphBuilder.degreeOneEnds(c)
      assert(bag(ends) == bag(PriorPlans.degreeOneEnds(c)))
      // the merged edges keep their endpoint degrees
      val merged = GraphBuilder.mergeGaps(c, ends, 1.0)
      assert(Seq("from_deg", "to_deg").forall(merged.columns.contains))
      assert(bag(merged) == bag(PriorPlans.mergeGaps(c, PriorPlans.degreeOneEnds(c), 1.0)))
      assert(bag(g.stations) == bag(PriorPlans.stations(tb.osmNodes, tb.osmRels, bb, cfg)))
      assert(bag(g.restrictions) == bag(PriorPlans.restrictions(tb.osmRels)))
      assert(bag(g.wayLines) == bag(PriorPlans.wayLines(tb.osmRels)))
      c.unpersist()
    }
    // the 0.4 m gap merged: the second dead end's node is gone
    val c = GraphBuilder.contractWithDegrees(withCost(GraphBuilder.segments(resolved(t, bbox))))
    assert(GraphBuilder.mergeGaps(c, GraphBuilder.degreeOneEnds(c), 1.0)
      .filter($"from_id" === 9000003L || $"to_id" === 9000003L).count() == 0)
    assert(c.filter($"from_id" === 9000003L || $"to_id" === 9000003L).count() == 1)
    // the stop areas named the nameless station; the restrictions exist
    assert(gt.stations.filter($"node_id" === 9000010L).select($"name").as[String]
      .collect().toSeq == Seq("Area A"))
    assert(gt.restrictions.count() > 0)
  }

  test("candidates: one ring join and the per-stop helper equal two joins and a projection") {
    for ((tb, g) <- Seq((t, refined), (t2, refined2))) {
      val now = Matcher.buildCandsWithStations(spark, tb.stops, g.edges, g.stations, cfg)
      val old = PriorPlans.buildCandsGroupedPass(spark, tb.stops, g.edges, g.stations, cfg)
      assert(now.schema.map(f => (f.name, f.dataType)) == old.schema.map(f => (f.name, f.dataType)))
      val n = bag(now)
      assert(n.nonEmpty && n == bag(old))
      // some candidates touch a similar station
      assert(now.filter($"progr" === 0.0 || $"progr" === 1.0).count() > 0)
    }
  }

  test("per-trip keys: TripEnds and the relative stops equal the declarative aggregate") {
    for (tb <- Seq(t, t2)) {
      val ts = WorldTables.tripStops(tb)
      for (in <- Seq(ts, ts.drop("line_name"), ts.drop("stop_name", "line_name"))) {
        val now = Matcher.tripStopsWithKey(in)
        val old = PriorPlans.tripStopsWithKey(in)
        assert(now.columns.toSeq == old.columns.toSeq)
        val n = bag(now)
        assert(n.nonEmpty && n == bag(old))
        assert(now.select($"trip_id", $"seq_key").as[(String, String)].collect().toMap ==
          old.select($"trip_id", $"seq_key").as[(String, String)].collect().toMap)
      }
    }
  }

  test("driver edge collects: the one reader returns both prior collects' rows") {
    def rows(rs: Array[org.apache.spark.sql.Row], ix: Seq[Int]) = rs.map(r => ix.map(i =>
      r.get(i) match {
        case s: scala.collection.Seq[_] => s.toList
        case v => v
      })).toSeq.sortBy(_.head.asInstanceOf[Long])
    for (edges <- Seq(gt.edges, refined.edges, gt2.edges, refined2.edges)) {
      val now = CompactGraph.collectEdgeRows(edges)
      assert(now.nonEmpty)
      // the station snap read every column in the reader's order
      assert(rows(now, 0 until 11) == rows(PriorPlans.stationSnapEdgeRows(edges), 0 until 11))
      // the graph collect: id, way, from, to, cost10, len_m, oneway, glat, glon
      assert(rows(now, Seq(0, 1, 3, 4, 8, 7, 10, 5, 6)) ==
        rows(PriorPlans.compactGraphEdgeRows(edges), Seq(0, 1, 2, 3, 8, 9, 10, 11, 12)))
    }
  }
}

/** The formulations the fused plans replaced, verbatim. */
object PriorPlans {
  /** GraphBuilder.segments before the grouped pass: a lead window per way. */
  def segments(resolved: DataFrame): DataFrame = {
    import resolved.sparkSession.implicits._
    val w = Window.partitionBy($"way_id").orderBy($"pos")
    resolved
      .withColumn("to_id", lead($"node_id", 1).over(w))
      .withColumn("to_lat", lead($"lat", 1).over(w))
      .withColumn("to_lon", lead($"lon", 1).over(w))
      .filter($"to_id".isNotNull)
      .withColumn("len_m", haversineM($"lat", $"lon", $"to_lat", $"to_lon"))
      // deterministic edge id: way id in high bits, position in low
      .withColumn("edge_id", ($"way_id" * lit(65536L)) + $"pos")
      .select($"edge_id", $"way_id", $"pos",
        $"node_id".as("from_id"), $"to_id",
        $"lat".as("from_lat"), $"lon".as("from_lon"), $"to_lat", $"to_lon",
        $"len_m", $"lvl", $"oneway", $"from_tc")
  }

  /** GraphBuilder.contractWithDegrees before the grouped passes: a degree
    * window per node and a chain window per way. */
  def contractWithDegrees(edgesCost: DataFrame): DataFrame = {
    val spark = edgesCost.sparkSession
    import spark.implicits._
    val payload = edgesCost.columns.filterNot(Set("way_id", "pos"))
    val ends = edgesCost
      .select($"way_id", $"pos", struct(payload.map(col): _*).as("e"),
        explode(array(lit(0), lit(1))).as("side"))
      .select($"way_id", $"pos", $"side",
        when($"side" === 0, $"e.from_id").otherwise($"e.to_id").as("node_id"),
        when($"side" === 0, $"e").as("e"))
      .withColumn("deg", count(lit(1)).over(Window.partitionBy($"node_id")))
    // in (way, pos, side) order the row after an edge's from-row is its
    // to-row (lead: the to-node's degree), and the row before it is the
    // previous edge's to-row (lag: the node that edge ended at), so one
    // window pass pairs the degrees and finds where a chain breaks; to-rows
    // add no break to the running sum that numbers the chains
    val w = Window.partitionBy($"way_id").orderBy($"pos", $"side")
    val perEdge = ends
      .withColumn("to_deg", lead($"deg", 1).over(w))
      .withColumn("prev_to", lag($"node_id", 1).over(w))
      // a chain may continue through interior node n iff deg(n) == 2 and n
      // is not a break node: break when this segment does not continue the
      // previous one, or the shared node is an intersection (degree != 2)
      // or a turn cycle
      .withColumn("brk",
        when($"side" === 1, 0)
          .when($"prev_to".isNull || $"prev_to" =!= $"e.from_id" ||
            $"deg" =!= 2 || $"e.from_tc".isNotNull, 1).otherwise(0))
      .withColumn("chain", sum($"brk").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter($"side" === 0)
    val withBreak = perEdge
      .select(($"way_id" +: $"pos" +: $"chain" +: payload.map(c => $"e".getField(c).as(c))) ++
        Seq($"deg".as("from_deg"), $"to_deg"): _*)
    // order-explicit aggregation: Spark does not guarantee intra-group row
    // order through groupBy (first/last/collect_list only looked ordered
    // because partial aggregation happened to run on the window's sorted
    // partitions) — endpoints via min_by/max_by(pos), geometry via
    // sort_array on (pos,...) structs
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
        // geometry: every segment start (in pos order) + the final end point
        concat(
          transform(
            sort_array(collect_list(struct($"pos", $"from_lat".as("lat"), $"from_lon".as("lon")))),
            x => struct(x.getField("lat").as("lat"), x.getField("lon").as("lon"))),
          array(struct(max_by($"to_lat", $"pos").as("lat"), max_by($"to_lon", $"pos").as("lon"))))
          .as("geom"),
        min_by($"from_deg", $"pos").as("from_deg"), max_by($"to_deg", $"pos").as("to_deg"))
      .drop("chain")
  }

  /** Matcher.buildCandsWithStations before the one group-by-stop pass: a
    * (stop, edge) dedup, a top-K window and a per-stop station aggregate
    * merge-joined back on stop_id. */
  def buildCandsTopKWindow(spark: SparkSession, stops: DataFrame, edges: DataFrame,
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
    val cands = topKCandsWithEnds(spark, stops, edges, cfg, maxAbsLat)
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

  /** buildCands plus each candidate edge's endpoint node ids (from_id,
    * to_id), read in the same edge scan the cell join uses. */
  private def topKCandsWithEnds(spark: SparkSession, stops: DataFrame, edges: DataFrame,
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

  /** Matcher.tripSeqTables: the per-trip key table and the distinct
    * sequences from a second pass over tripStops for the representatives,
    * before one grouped pass per key replaced them. */
  def tripSeqTables(tripStops: DataFrame): (DataFrame, DataFrame) = {
    val ss = tripStops.sparkSession
    import ss.implicits._
    // seq_key depends on the collected stops array, but the projection
    // drops the array post-agg — it exists only transiently per group,
    // never in a shuffle file or checkpoint block
    val seqKeys = Boundary.deferred(tripStopsWithKey(tripStops)
      .select($"trip_id", $"seq_key", $"from_name", $"to_name"))
    val reps = seqKeys.groupBy($"seq_key").agg(min($"trip_id").as("trip_id"))
    val repRows = tripStops.join(reps.select($"trip_id"), Seq("trip_id"), "left_semi")
    val distinctSeqs = Boundary.deferred(tripStopsWithKey(repRows)
      .select($"seq_key", $"line_name", $"stops", $"from_name", $"to_name"))
    (seqKeys, distinctSeqs)
  }

  /** Matcher.matchTripsFull before the trip ids rode through the solve:
    * the solved sequences joined back to the trips on seq_key. */
  def matchTripsFull(spark: SparkSession, tripStops: DataFrame, cands: DataFrame,
                     graph: CompactGraph, cfg: OsmConfig): Matcher.MatchResult = {
    import spark.implicits._
    val (seqKeys, distinctSeqs) = tripSeqTables(tripStops)
    val solved = Boundary.eager(Matcher.solveSeqs(spark,
      distinctSeqs.withColumn("trip_ids", typedLit(Seq.empty[String])), cands,
      GraphPartitions.single(spark, graph), cfg).drop("trip_ids"))
    val joined = seqKeys.join(solved.hint("shuffle_merge"), Seq("seq_key"))
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
    Matcher.MatchResult(shapes, anchors, hops)
  }

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

  /** Matcher.buildCandsWithStations before the one ring join and the
    * per-stop helper: a ring join per pair kind, a per-stop aggregate that
    * mixes collect_set, collect_list and min_by, and a projection per
    * candidate. */
  def buildCandsGroupedPass(spark: SparkSession, stops: DataFrame, edges: DataFrame,
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
    // ring radius from the worst-case (highest) latitude in the feed —
    // callers that already computed the feed bbox pass it in (the agg is
    // otherwise a blocking driver round trip on the latency floor)
    val kc = Cell.kForMeters(cfg.maxSnapDistanceM,
      maxAbsLat.getOrElse(stops.agg(max(abs(col("lat")))).head().getDouble(0)), cfg.cellRes)
    // project onto the full edge polyline when present (contracted chains
    // are curved), else the straight segment
    val edgeCells =
      if (edges.columns.contains("geom"))
        edges.select($"edge_id", $"oneway", $"from_id", $"to_id",
          $"geom.lat".as("glat"), $"geom.lon".as("glon"),
          explode($"cells").as("cell"))
      else
        edges.select($"edge_id", $"oneway", $"from_id", $"to_id",
          array($"from_lat", $"to_lat").as("glat"),
          array($"from_lon", $"to_lon").as("glon"),
          explode($"cells").as("cell"))
    // stop x edge candidate pairs (codegen'd projection expression; was a
    // ScalaUDF whose Seq[Double] conversion boxed every coordinate), each
    // as one struct ordered by (dist_m, edge_id) — the top-K order
    val candPairs = stops
      .select($"stop_id", $"lat".as("s_lat"), $"lng".as("s_lng"))
      .withColumn("cell", explode(kring(gcell($"s_lat", $"s_lng", cfg.cellRes), kc)))
      .join(edgeCells, Seq("cell"))
      .withColumn("proj", polylineProject($"s_lat", $"s_lng", $"glat", $"glon"))
      .filter($"proj._4" <= cfg.maxSnapDistanceM)
      .select($"stop_id", struct($"proj._4".as("dist_m"), $"edge_id",
        $"proj._1".as("progr"), $"proj._2".as("py"), $"proj._3".as("px"),
        $"oneway", $"from_id", $"to_id").as("c"))
    // ONE group-by-stop pass over both pair sets serves everything the
    // candidates need, with no window and no join:
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
    // A candidate row has no station columns and a station row no
    // candidate: collect_* skip the nulls and min_by skips rows with a null
    // ordering.
    val perStop = candPairs
      .unionByName(simPairs.select($"stop_id",
        struct($"node_id", $"trk_mism").as("sim"),
        struct($"node_id", $"st_lat", $"st_lon").as("bv"),
        struct($"trk_mism", $"d_m", $"node_id").as("bo")), allowMissingColumns = true)
      .groupBy($"stop_id")
      .agg(slice(sort_array(collect_set($"c")), 1, Matcher.MaxCandsPerStop).as("top"),
        collect_list($"sim").as("sims"), min_by($"bv", $"bo").as("b"))
    val nonStationPen10 = graft.geo.Geo.costToInt(cfg.nonStationPenaltySec)
    val platformPen10 = graft.geo.Geo.costToInt(cfg.platformUnmatchedPenaltySec)
    // track mismatch of the similar stations at an endpoint (null: none):
    // the least over the endpoint's pairs, and a mismatch is 0 or 1
    def endMism(end: String) = {
      def has(m: Int) = array_contains($"sims",
        struct($"c".getField(end).as("node_id"), lit(m).as("trk_mism")))
      when(has(0), lit(0)).when(has(1), lit(1))
    }
    // an edge is a "station candidate" if either endpoint is a similar station
    perStop
      .select($"stop_id", $"sims", $"b", explode($"top").as("c"))
      .withColumn("from_mism", endMism("from_id"))
      .withColumn("to_mism", endMism("to_id"))
      .withColumn("pen10", ceil($"c.dist_m" * lit(cfg.distPenFactor) * 10.0).cast("long"))
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
      .withColumn("at_from", $"best_node".isNotNull && $"c.from_id" === $"best_node")
      .withColumn("at_to", $"best_node".isNotNull && $"c.to_id" === $"best_node")
      .select($"stop_id", $"c.edge_id".as("edge_id"),
        when($"at_from", lit(0.0)).when($"at_to", lit(1.0)).otherwise($"c.progr").as("progr"),
        when($"at_from" || $"at_to", $"b.st_lat").otherwise($"c.py").as("py"),
        when($"at_from" || $"at_to", $"b.st_lon").otherwise($"c.px").as("px"),
        $"c.dist_m".as("dist_m"), $"c.oneway".as("oneway"), $"pen10")
  }

  /** Matcher.tripStopsWithKey before the per-trip helper: sort_array,
    * first, min_by and max_by in one aggregate, and the key hashed through
    * an interpreted transform. */
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

  /** GraphBuilder.contractWithDegrees before the degree was the node's
    * list size: count and collect_list in one aggregate. */
  def contractWithDegreesCount(edgesCost: DataFrame): DataFrame = {
    val spark = edgesCost.sparkSession
    import spark.implicits._
    val e = struct($"edge_id", $"from_id", $"to_id", $"from_lat", $"from_lon",
      $"to_lat", $"to_lon", $"len_m", $"cost10", $"lvl", $"oneway", $"from_tc".as("tc"))
    edgesCost
      .select($"way_id", $"pos", e.as("e"), explode(array(lit(0), lit(1))).as("side"))
      .groupBy(when($"side" === 0, $"e.from_id").otherwise($"e.to_id").as("node_id"))
      .agg(count(lit(1)).as("deg"),
        collect_list(struct($"way_id", $"pos", $"side", when($"side" === 0, $"e").as("e")))
          .as("ends"))
      .select($"deg", explode($"ends").as("x"))
      .groupBy($"x.way_id".as("way_id"))
      .agg(collect_list(struct($"x.pos", $"x.side", $"deg", $"x.e")).as("ends"))
      .select($"way_id", explode(graft.functions.WayFunctions.contractChains($"ends")).as("c"))
      .select($"way_id", $"c.*")
  }

  /** GraphBuilder.degreeOneEnds before one scan emitted both ends: two
    * filtered scans and a union. The degree-1 endpoints (node_id, lat, lon) of edges that carry their
    * endpoint degrees (contractWithDegrees' output): a degree-1 node is
    * the end of exactly one edge, so a filter finds each once — no
    * aggregation. */
  def degreeOneEnds(edges: DataFrame): DataFrame = {
    import edges.sparkSession.implicits._
    edges.filter($"from_deg" === 1)
      .select($"from_id".as("node_id"), $"from_lat".as("lat"), $"from_lon".as("lon"))
      .unionByName(edges.filter($"to_deg" === 1)
        .select($"to_id".as("node_id"), $"to_lat".as("lat"), $"to_lon".as("lon")))
  }

  /** GraphBuilder.mergeGaps before the pair helper: the gap pairs through
    * an interpreted filter lambda. fixGaps over a given degree-1 endpoint table deg1(node_id, lat, lon). */
  def mergeGaps(edges: DataFrame, deg1: DataFrame, toleranceM: Double): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // res 24: cellDeg = 90/2^24 deg ~ 0.6 m — a k=1 ring covers 1 m.
    // Candidate pairs: a in the ring of b's cell. One exchange by cell
    // finds them: every endpoint is emitted into each cell of its ring
    // (its own cell included), and within a cell each endpoint pairs with
    // the endpoints whose OWN cell it is — the ring self-join, without
    // shuffling the two join sides separately.
    val res = 24
    val inCell = deg1
      .select($"node_id", $"lat", $"lon", gcell($"lat", $"lon", res).as("own"),
        explode(kring(gcell($"lat", $"lon", res), 1)).as("cell"))
      .groupBy($"cell")
      .agg(collect_list(struct($"node_id", $"lat", $"lon", ($"own" === $"cell").as("own"))).as("m"))
    val pairs = inCell
      .select($"m", explode($"m").as("x"))
      .select($"x.node_id".as("a"), $"x.lat".as("a_lat"), $"x.lon".as("a_lon"),
        explode(filter($"m", y => y.getField("own") &&
          $"x.node_id" < y.getField("node_id") &&
          haversineM($"x.lat", $"x.lon", y.getField("lat"), y.getField("lon")) <= toleranceM))
          .as("y"))
      .select($"a", $"a_lat", $"a_lon", $"y.node_id".as("b"))
    // short-circuit: no mergeable endpoint pairs (the common case on a
    // well-digitized extract, and always true on the synthetic bench
    // world). The full path below with an EMPTY mapping is a value-level
    // identity — every left_outer misses, coalesce keeps the original
    // node/geometry values — so skipping it changes nothing except the
    // plan: the mapping self-join, two broadcast builds and the geometry
    // rebuild projection disappear from the downstream checkpoint job.
    if (pairs.isEmpty) return edges
    // canonical target per merged node; resolve one chain hop (b->a, c->b)
    val m0 = pairs.groupBy($"b")
      .agg(min_by(struct($"a", $"a_lat", $"a_lon"), $"a").as("t"))
      .select($"b", $"t.a".as("a"), $"t.a_lat".as("a_lat"), $"t.a_lon".as("a_lon"))
    val mapping = m0.as("m1")
      .join(m0.as("m2"), col("m1.a") === col("m2.b"), "left_outer")
      .select(col("m1.b").as("b"),
        coalesce(col("m2.a"), col("m1.a")).as("a"),
        coalesce(col("m2.a_lat"), col("m1.a_lat")).as("a_lat"),
        coalesce(col("m2.a_lon"), col("m1.a_lon")).as("a_lon"))
    val fm = mapping.select($"b".as("from_id"), $"a".as("nf_id"),
      $"a_lat".as("nf_lat"), $"a_lon".as("nf_lon"))
    val tm = mapping.select($"b".as("to_id"), $"a".as("nt_id"),
      $"a_lat".as("nt_lat"), $"a_lon".as("nt_lon"))
    edges.join(broadcast(fm), Seq("from_id"), "left_outer")
      .join(broadcast(tm), Seq("to_id"), "left_outer")
      .withColumn("from_id2", coalesce($"nf_id", $"from_id"))
      .withColumn("from_lat2", coalesce($"nf_lat", $"from_lat"))
      .withColumn("from_lon2", coalesce($"nf_lon", $"from_lon"))
      .withColumn("to_id2", coalesce($"nt_id", $"to_id"))
      .withColumn("to_lat2", coalesce($"nt_lat", $"to_lat"))
      .withColumn("to_lon2", coalesce($"nt_lon", $"to_lon"))
      // geometry endpoints follow the merged node position
      .withColumn("geom", concat(
        array(struct($"from_lat2".as("lat"), $"from_lon2".as("lon"))),
        expr("slice(geom, 2, greatest(size(geom) - 2, 0))"),
        array(struct($"to_lat2".as("lat"), $"to_lon2".as("lon")))))
      .drop("from_id", "from_lat", "from_lon", "to_id", "to_lat", "to_lon",
        "nf_id", "nf_lat", "nf_lon", "nt_id", "nt_lat", "nt_lon")
      .withColumnRenamed("from_id2", "from_id")
      .withColumnRenamed("from_lat2", "from_lat")
      .withColumnRenamed("from_lon2", "from_lon")
      .withColumnRenamed("to_id2", "to_id")
      .withColumnRenamed("to_lat2", "to_lat")
      .withColumnRenamed("to_lon2", "to_lon")
  }

  /** GraphBuilder.deepAttr before the explode and the hash join: the
    * member refs through interpreted lambdas, a merge join. F6 deep attribute extraction (OsmBuilder.cpp:980-1029): first-match
    * over an ordered rule list, where relation-aware rules pull the tag
    * from the lowest-id containing relation (deterministic tie-break).
    * entities(id, tags); rels(id, tags, members); mtype selects the member
    * type (0 = node, 1 = way). Returns (id, <keep columns>, <out>). */
  def deepAttr(entities: DataFrame, rels: DataFrame, mtype: Int,
               rules: Seq[GraphBuilder.DeepAttrRule], out: String,
               keep: Seq[String] = Nil): DataFrame = {
    val spark = entities.sparkSession
    import spark.implicits._
    lazy val memberTags = rels.select($"id".as("rel_id"), $"tags".as("rtags"),
        explode(expr(s"transform(filter(members, m -> m.mtype = $mtype), m -> m.ref)")).as("id"))
    var df = entities.select(($"id" +: $"tags" +: keep.map(col)): _*)
    rules.zipWithIndex.foreach { case (r, i) =>
      if (!r.fromRelation) df = df.withColumn(s"v$i", $"tags".getItem(r.key))
      else {
        val rv = memberTags.filter($"rtags".getItem(r.key).isNotNull)
          .groupBy($"id")
          .agg(min_by($"rtags".getItem(r.key), $"rel_id").as(s"v$i"))
        // rv is already partitioned by id (its aggregate): merge join
        df = df.join(rv.hint("shuffle_merge"), Seq("id"), "left_outer")
      }
    }
    df.select(($"id" +: keep.map(col)) :+
      coalesce(rules.indices.map(i => col(s"v$i")): _*).as(out): _*)
  }

  /** GraphBuilder.build's stations, restrictions and way lines before the
    * explodes and the member-ref helper: interpreted lambdas over the
    * members, and the deepAttr above. */
  def stations(osmNodes: DataFrame, osmRels: DataFrame, bbox: GraphBuilder.BBox,
               cfg: OsmConfig): DataFrame = {
    val spark = osmNodes.sparkSession
    import spark.implicits._
    import GraphBuilder.tagMatches
    val bboxNodes = osmNodes
      .filter($"lat" >= bbox.latMin && $"lat" <= bbox.latMax &&
              $"lon" >= bbox.lonMin && $"lon" <= bbox.lonMax)
    val trackCol =
      if (cfg.platformTagKeys.isEmpty) lit(null).cast("string")
      else coalesce(cfg.platformTagKeys.map(k => $"tags".getItem(k)): _*)
    val stationNodes = bboxNodes.filter(tagMatches($"tags", cfg.stationRules))
      .select($"id", $"tags", $"lat", $"lon",
        gcell($"lat", $"lon", cfg.cellRes).as("cell"), trackCol.as("track"))
    deepAttr(stationNodes, osmRels, mtype = 0,
      Seq(GraphBuilder.DeepAttrRule("name", fromRelation = false),
        GraphBuilder.DeepAttrRule("name", fromRelation = true)), "name",
      keep = Seq("lat", "lon", "cell", "track"))
      .select($"id".as("node_id"), $"lat", $"lon", $"cell", $"track", $"name")
  }

  def restrictions(osmRels: DataFrame): DataFrame = {
    import osmRels.sparkSession.implicits._
    val restRels = osmRels.filter($"tags".getItem("type") === "restriction")
      .withColumn("positive",
        $"tags".getItem("restriction").startsWith("only_"))
    restRels.select($"id", $"positive",
        expr("filter(members, m -> m.role = 'from' AND m.mtype = 1)[0].ref").as("from_way"),
        expr("filter(members, m -> m.role = 'via' AND m.mtype = 0)[0].ref").as("via_node"),
        expr("filter(members, m -> m.role = 'to' AND m.mtype = 1)[0].ref").as("to_way"))
      .filter($"from_way".isNotNull && $"via_node".isNotNull && $"to_way".isNotNull)
      .select($"via_node", $"from_way", $"to_way", $"positive")
  }

  def wayLines(osmRels: DataFrame): DataFrame = {
    import osmRels.sparkSession.implicits._
    val routeRels = osmRels.filter($"tags".getItem("type") === "route")
      .select($"id".as("rel_id"),
        $"tags".getItem("ref").as("short_name"),
        $"tags".getItem("from").as("from_str"),
        $"tags".getItem("to").as("to_str"),
        $"tags".getItem("colour").as("colour"),
        expr("transform(filter(members, m -> m.mtype = 1), m -> m.ref)").as("way_ids"))
    val lineId = xxhash64($"short_name", $"from_str", $"to_str", $"colour")
    routeRels
      .filter($"short_name".isNotNull && $"from_str".isNotNull &&
        $"to_str".isNotNull && $"colour".isNotNull)
      .select(explode($"way_ids").as("way_id"), lineId.as("line_id"),
        $"short_name", $"from_str", $"to_str", $"colour")
      .distinct()
  }

  /** StationSnap.refine's edge collect before the shared reader. */
  def stationSnapEdgeRows(edges: DataFrame): Array[org.apache.spark.sql.Row] =
    edges.select(
      col("edge_id").cast("long"), col("way_id").cast("long"),
      col("pos").cast("long"),
      col("from_id").cast("long"), col("to_id").cast("long"),
      expr("transform(geom, p -> p.lat)"), expr("transform(geom, p -> p.lon)"),
      col("len_m").cast("double"), col("cost10").cast("long"),
      col("lvl").cast("int"), col("oneway").cast("int")).collect()

  /** CompactGraph.fromEdges' edge collect before the shared reader. */
  def compactGraphEdgeRows(edges: DataFrame): Array[org.apache.spark.sql.Row] =
    edges.select(org.apache.spark.sql.functions.col("edge_id"),
        org.apache.spark.sql.functions.col("way_id"),
        org.apache.spark.sql.functions.col("from_id"),
        org.apache.spark.sql.functions.col("to_id"),
        org.apache.spark.sql.functions.col("from_lat"),
        org.apache.spark.sql.functions.col("from_lon"),
        org.apache.spark.sql.functions.col("to_lat"),
        org.apache.spark.sql.functions.col("to_lon"),
        org.apache.spark.sql.functions.col("cost10"),
        org.apache.spark.sql.functions.col("len_m"),
        org.apache.spark.sql.functions.col("oneway"),
        org.apache.spark.sql.functions.expr("transform(geom, p -> p.lat)").as("glat"),
        org.apache.spark.sql.functions.expr("transform(geom, p -> p.lon)").as("glon"))
      .collect()
}
