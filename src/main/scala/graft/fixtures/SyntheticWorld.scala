package graft.fixtures

import graft.geo.Geo
import graft.model._

/** Deterministic synthetic world: an R x C street grid with tagged levels,
  * one-way streets, rail lines, station nodes, route relations, turn
  * restrictions, a GTFS feed whose trips run along grid lines, and a
  * georeferenced image+caption table. Everything derives from (rows, cols,
  * seed) — no external data.
  *
  * The tag vocabulary mirrors what the reference's default filter config
  * keeps (/root/reference/pfaedle.cfg: highway/railway levels, oneway,
  * public_transport=stop_position, route relations with ref/from/to/colour,
  * type=restriction) so our filter operators have realistic input.
  */
object SyntheticWorld {
  /** bump when the generated world changes — flows into snapshot
    * fingerprints so persisted checkpoints of an older fixture never serve */
  val FixtureVersion = 3

  // grid origin (Freiburg-ish, the reference's home town) and spacing
  val Lat0 = 48.0
  val Lon0 = 7.8
  val SpacingM = 200.0

  def nodeId(r: Int, c: Int, cols: Int): Long = (r.toLong * cols + c) + 1L

  def latOf(r: Int): Double = Lat0 + r * SpacingM / Geo.MPerDeg
  def lonOf(c: Int): Double = Lon0 + c * SpacingM / (Geo.MPerDeg * Geo.latLngDistFactor(Lat0))

  /** Deterministic hash-based PRN in [0,1) from a seed and ids. */
  def rnd(seed: Long, a: Long, b: Long = 0): Double = {
    var h = seed * 0x9e3779b97f4a7c15L + a * 0xc2b2ae3d27d4eb4fL + b * 0x165667b19e3779f9L
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL; h ^= h >>> 33
    (h >>> 11).toDouble / (1L << 53).toDouble
  }

  /** Generation parameters a trip's stop_times can be re-derived from —
    * lets WorldTables expand the O(trips x stops) stop_times table ON THE
    * EXECUTORS from the slim trips table instead of Java-serializing
    * millions of driver-built rows into parallelize tasks (measured: a
    * 102 MB task at the bench world, all of it driver CPU + network inside
    * the measured match phase). */
  case class WorldSpec(cols: Int, stopEvery: Int, variedTrips: Boolean)

  case class World(nodes: Seq[OsmNode], ways: Seq[OsmWay], rels: Seq[OsmRel],
                   stops: Seq[GtfsStop], routes: Seq[GtfsRoute], trips: Seq[GtfsTrip],
                   stopTimes: Seq[GtfsStopTime], truthShapes: Seq[GtfsShapePt],
                   spec: Option[WorldSpec] = None)

  /** Worlds are deterministic pure functions of their parameters; bench
    * harnesses build the same world for every rep and session of a run.
    * Rebuilding a tpr=4500 world allocates ~10^7 driver objects — enough
    * repeated old-gen churn that a 48g ParallelGC driver froze past the
    * executor heartbeat timeout mid-bench. Cache by parameters. */
  private val worldCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Long, Int, Int, Boolean), World]

  def buildCached(rows: Int, cols: Int, seed: Long = 42L, stopEvery: Int = 3,
                  tripsPerRoute: Int = 2, variedTrips: Boolean = false): World =
    worldCache.computeIfAbsent((rows, cols, seed, stopEvery, tripsPerRoute, variedTrips),
      _ => build(rows, cols, seed, stopEvery, tripsPerRoute, variedTrips))

  /** Build a world. Every 2nd row is a one-way street (eastbound), every
    * 4th row is rail; vertical streets are two-way residential; station
    * nodes every `stopEvery` columns on bus rows. Trips run along rows. */
  def build(rows: Int, cols: Int, seed: Long = 42L,
            stopEvery: Int = 3, tripsPerRoute: Int = 2,
            variedTrips: Boolean = false): World = {
    require(rows >= 2 && cols >= 4)
    val nodes = scala.collection.mutable.ArrayBuffer[OsmNode]()
    for (r <- 0 until rows; c <- 0 until cols) {
      val id = nodeId(r, c, cols)
      val isStation = r % 2 == 0 && r % 4 != 0 && c % stopEvery == 0
      val tags: Map[String, String] =
        if (isStation)
          Map("public_transport" -> "stop_position", "name" -> s"Stop $r/$c", "bus" -> "yes")
        else if (rnd(seed, id) < 0.05)
          Map("crossing" -> "traffic_signals") // noise tags, must be dropped by keep-filter
        else Map.empty[String, String]
      nodes += OsmNode(id, latOf(r), lonOf(c), tags)
    }
    // a few far-away outlier nodes (outside any bbox — F1 must drop them)
    for (k <- 0 until math.max(1, rows / 2)) {
      nodes += OsmNode(1000000L + k, -30.0 + k, 100.0 + k, Map("highway" -> "primary"))
    }
    // orphan curbside station nodes (highway=bus_stop BESIDE the way, not a
    // way member — real OSM's dominant bus-stop mapping): 8 m south of the
    // row street, 40 m east of the stop intersection. StationSnap (J4) must
    // insert these as graph vertices by splitting the row edge.
    for (r <- 0 until rows; c <- 0 until cols
         if r % 2 == 0 && r % 4 != 0 && c % stopEvery == 0) {
      nodes += OsmNode(3000000L + nodeId(r, c, cols),
        latOf(r) - 8.0 / Geo.MPerDeg,
        lonOf(c) + 40.0 / (Geo.MPerDeg * Geo.latLngDistFactor(Lat0)),
        Map("highway" -> "bus_stop", "name" -> s"Stop $r/$c"))
    }

    val ways = scala.collection.mutable.ArrayBuffer[OsmWay]()
    var wid = 10000L
    // horizontal ways: one way per row spanning all columns
    val rowWayId = new Array[Long](rows)
    for (r <- 0 until rows) {
      wid += 1; rowWayId(r) = wid
      val nds = (0 until cols).map(c => nodeId(r, c, cols)).toArray
      val tags: Map[String, String] =
        if (r % 4 == 0) Map("railway" -> "rail", "name" -> s"Rail $r")
        else if (r % 2 == 0) Map("highway" -> "secondary", "name" -> s"East St $r")
        else Map("highway" -> "secondary", "oneway" -> "yes", "name" -> s"OneWay St $r")
      ways += OsmWay(wid, tags, nds)
    }
    // vertical ways: one per column
    val colWayId = new Array[Long](cols)
    for (c <- 0 until cols) {
      wid += 1; colWayId(c) = wid
      val nds = (0 until rows).map(r => nodeId(r, c, cols)).toArray
      ways += OsmWay(wid, Map("highway" -> "residential", "name" -> s"North Ave $c"), nds)
    }
    // an ignored way (no matching keep tag)
    wid += 1
    ways += OsmWay(wid, Map("waterway" -> "river"), Array(nodeId(0, 0, cols), nodeId(0, 1, cols)))

    // relations: one bus route per even (non-rail) row + a couple of restrictions
    val rels = scala.collection.mutable.ArrayBuffer[OsmRel]()
    var rid = 50000L
    val busRows = (0 until rows).filter(r => r % 2 == 0 && r % 4 != 0)
    for (r <- busRows) {
      rid += 1
      rels += OsmRel(rid,
        Map("type" -> "route", "route" -> "bus", "ref" -> s"L$r",
          "from" -> s"Stop $r/0", "to" -> s"Stop $r/${(cols - 1) / stopEvery * stopEvery}",
          "colour" -> (if (r % 3 == 0) "#ff0000" else "#0066cc")),
        Array(OsmMember(rowWayId(r), 1, "")))
    }
    // turn restrictions: no left from row-way onto col-way at a mid node
    for (r <- busRows.take(2)) {
      val c = cols / 2
      rid += 1
      rels += OsmRel(rid,
        Map("type" -> "restriction", "restriction" -> "no_left_turn"),
        Array(OsmMember(rowWayId(r), 1, "from"),
              OsmMember(nodeId(r, c, cols), 0, "via"),
              OsmMember(colWayId(c), 1, "to")))
    }

    // GTFS: stops sit curbside — 10 m south of the row street and ~50 m
    // east of the intersection (mid-block). A stop placed ON the column
    // line would snap to the PERPENDICULAR street first (5 m vs 25 m) and
    // legitimately drag matched paths onto it — real stops are adjacent to
    // the street they serve.
    val stopIds = scala.collection.mutable.LinkedHashMap[(Int, Int), String]()
    val stops = scala.collection.mutable.ArrayBuffer[GtfsStop]()
    for (r <- busRows; c <- 0 until cols if c % stopEvery == 0) {
      val sid = s"S${r}_$c"
      stopIds((r, c)) = sid
      stops += GtfsStop(sid, s"Stop $r/$c",
        latOf(r) - 10.0 / Geo.MPerDeg,
        lonOf(c) + (50.0 + (rnd(seed, r, c) - 0.5) * 10.0) / Geo.MPerDeg,
        "", "", 0)
    }

    val routes = scala.collection.mutable.ArrayBuffer[GtfsRoute]()
    val trips = scala.collection.mutable.ArrayBuffer[GtfsTrip]()
    val stopTimes = scala.collection.mutable.ArrayBuffer[GtfsStopTime]()
    val truthShapes = scala.collection.mutable.ArrayBuffer[GtfsShapePt]()
    for (r <- busRows) {
      val routeId = s"R$r"
      routes += GtfsRoute(routeId, s"L$r", s"Line $r", 3, 0xff0000, 0xffffff)
      for (t <- 0 until tripsPerRoute) {
        val tripId = s"T${r}_$t"
        trips += GtfsTrip(tripId, routeId, "SVC1", null, s"L$r")
        stopTimes ++= tripStopTimes(tripId, "", r, t, cols, stopEvery, variedTrips)
      }
      // ground-truth shape: straight along the row
      for (c <- 0 until cols)
        truthShapes += GtfsShapePt(s"SHP_R$r", c, latOf(r), lonOf(c), (c * SpacingM).toFloat)
    }

    World(nodes.toSeq, ways.toSeq, rels.toSeq, stops.toSeq, routes.toSeq,
      trips.toSeq, stopTimes.toSeq, truthShapes.toSeq,
      spec = Some(WorldSpec(cols, stopEvery, variedTrips)))
  }

  /** The stop_times rows of one trip — the EXACT rows build() emits for
    * (r, t), factored out so WorldTables can regenerate them on executors
    * from the slim trips table (same arithmetic, same rows; a unit test
    * pins path equality). variedTrips: trip t skips one (or two) interior
    * stops -> every trip is a DISTINCT stop sequence (bench granularity;
    * mirrors real feeds where most sequences are unique). */
  def tripStopTimes(tripId: String, stopIdPrefix: String, r: Int, t: Int,
                    cols: Int, stopEvery: Int, variedTrips: Boolean): Seq[GtfsStopTime] = {
    val cs = (0 until cols).filter(_ % stopEvery == 0)
    val out = scala.collection.mutable.ArrayBuffer[GtfsStopTime]()
    var time = 8 * 3600 + t * 600
    // two varied skip positions -> up to (k-2)^2 distinct patterns
    val k = cs.length - 2
    val skipA = if (variedTrips && cs.length > 3) (t % k) + 1 else -1
    val skipB = if (variedTrips && cs.length > 5 && t >= k) ((t / k + t) % k) + 1 else -1
    var i2 = 0
    for ((c, i) <- cs.zipWithIndex if i != skipA && i != skipB) {
      val dist = (c * SpacingM).toFloat
      out += GtfsStopTime(tripId, i2, s"${stopIdPrefix}S${r}_$c", time, time + 30, dist)
      // 30 km/h between stops
      time += 30 + (stopEvery * SpacingM / (30.0 / 3.6)).toInt
      i2 += 1
    }
    out.toSeq
  }

  /** Re-derive one trip's stop_times from its trip id + the world spec —
    * handles the buildMulti city prefix ("C2_T12_7" -> prefix "C2_",
    * r=12, t=7). Executor-side worker for WorldTables' distributed
    * stop_times expansion. */
  def stopTimesOfTrip(tripId: String, spec: WorldSpec): Seq[GtfsStopTime] = {
    val tPos = tripId.lastIndexOf('T')
    val prefix = tripId.substring(0, tPos)
    val body = tripId.substring(tPos + 1)
    val us = body.indexOf('_')
    val r = body.substring(0, us).toInt
    val t = body.substring(us + 1).toInt
    tripStopTimes(tripId, prefix, r, t, spec.cols, spec.stopEvery, spec.variedTrips)
  }

  /** Translate a world north by dLatDeg and prefix/offset every id —
    * building block of the multi-component (multi-city) world. */
  def offsetWorld(w: World, idOff: Long, dLatDeg: Double, prefix: String): World = {
    def p(s: String): String = if (s == null) null else prefix + s
    World(
      w.nodes.map(n => n.copy(id = n.id + idOff, lat = n.lat + dLatDeg)),
      w.ways.map(wy => wy.copy(id = wy.id + idOff, nodes = wy.nodes.map(_ + idOff))),
      w.rels.map(r => r.copy(id = r.id + idOff,
        members = r.members.map(m => m.copy(ref = m.ref + idOff)))),
      w.stops.map(s => s.copy(stop_id = p(s.stop_id), lat = s.lat + dLatDeg)),
      w.routes.map(r => r.copy(route_id = p(r.route_id))),
      w.trips.map(t => t.copy(trip_id = p(t.trip_id), route_id = p(t.route_id),
        shape_id = t.shape_id)),
      w.stopTimes.map(st => st.copy(trip_id = p(st.trip_id), stop_id = p(st.stop_id))),
      w.truthShapes.map(s => s.copy(shape_id = p(s.shape_id), lat = s.lat + dLatDeg)),
      spec = w.spec)
  }

  /** Multi-component world: `cities` copies of the grid city, separated by
    * ~25 km of empty space — far beyond snap distance and bbox padding, so
    * the routing graph has (at least) one connected component per city.
    * Exercises DistGraphBuild's component bins (GraphPartitions): every
    * solver cluster's candidates live in exactly one city's
    * component(s). */
  def buildMulti(cities: Int, rows: Int, cols: Int, seed: Long = 42L,
                 stopEvery: Int = 3, tripsPerRoute: Int = 2,
                 variedTrips: Boolean = false): World = {
    require(cities >= 1)
    val base = build(rows, cols, seed, stopEvery, tripsPerRoute, variedTrips)
    val sepDeg = (rows * SpacingM + 25000.0) / Geo.MPerDeg
    val parts = (0 until cities).map { k =>
      if (k == 0) base
      else offsetWorld(base, k.toLong * 1000000000L, k * sepDeg, s"C${k}_")
    }
    World(parts.flatMap(_.nodes), parts.flatMap(_.ways), parts.flatMap(_.rels),
      parts.flatMap(_.stops), parts.flatMap(_.routes), parts.flatMap(_.trips),
      parts.flatMap(_.stopTimes), parts.flatMap(_.truthShapes), spec = base.spec)
  }
}
