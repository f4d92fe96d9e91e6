package graft.osm

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.geo.{Cell, Geo}
import graft.functions.StringSim

/** J4/J6/F4: orphan-station snapping with edge splitting — the Spark recast
  * of the reference's snapStats pass
  * (/root/reference/src/pfaedle/osm/OsmBuilder.cpp:1806-1821 snapStats,
  * 1246-1313 snapStation, 1153-1228 depthSearch/eqStatReach/isBlocked).
  *
  * For every OSM station node that is NOT part of the road graph ("orphan"),
  * project it onto nearby edges (within cfg.maxOsmStationDistanceM). Per
  * candidate edge, nearest first:
  *  - J6 eq-station reach: a bounded graph walk (2d meters, 0 full turns)
  *    from the edge looking for an already-snapped station with name
  *    similarity >= 0.9 — if found, this station ALIASES to it instead of
  *    snapping again (two OSM nodes for one physical station produce ONE
  *    station vertex);
  *  - F4 blockers: a walk within cfg.maxBlockDistanceM that finds a blocker
  *    node (cfg.stationBlockerRules, e.g. barrier=gate) or a DISsimilar
  *    station (simi < 0.5) vetoes the snap on this edge;
  *  - J4 snap: if the projection lands < 0.5 m from an edge endpoint, the
  *    endpoint becomes the station vertex; otherwise a new node is inserted
  *    at the projection point and the edge is SPLIT in two (costs re-derived
  *    from split lengths at the edge's level speed), so later candidate
  *    generation and routing see the refined topology and matched shapes
  *    can terminate exactly at the station vertex.
  *
  * Scale design: the road graph and its stations are the bounded broadcast
  * dimension of this engine (CompactGraph already collects the same rows);
  * the sequential, order-deterministic refinement runs once on the driver —
  * mirroring the reference's in-memory pass — and re-enters the distributed
  * plan as a tiny replacement-edge DataFrame unioned against the untouched
  * (anti-joined) remainder. Nothing here touches the unbounded fact tables.
  */
object StationSnap {

  /** half a meter: projection closer than this to an endpoint reuses the
    * endpoint as the station vertex (OsmBuilder.cpp:1283-1289) */
  val EndpointSnapM = 0.5
  /** EqSearch minimum similarity (OsmBuilder.h:60-64) */
  val EqMinSimi = 0.9
  /** BlockSearch dissimilar-station threshold (OsmBuilder.h:66-71) */
  val BlockMaxSimi = 0.5

  /** graded station similarity in [0,1] (max over the statsimi family;
    * 1.0 for equal normalized names) — EqSearch/BlockSearch thresholds.
    * The normalizer chain is config-driven (U1). */
  def stationSimi(a: String, b: String, distM: Double,
                  norm: StringSim.Normalizer = StringSim.stationNormalizer): Double = {
    val na = norm.norm(a)
    val nb = norm.norm(b)
    if (na == null || nb == null) return 0.0
    if (na == nb) return 1.0
    math.max(math.max(StringSim.jaccardGeoDist(na, nb, distM),
      StringSim.editSimi(na, nb)),
      math.max(StringSim.prefixEditSimi(na, nb), StringSim.btsSimi(na, nb)))
  }

  private[graft] final class WEdge(val id: Long, val wayId: Long, val pos: Long,
                            var from: Long, var to: Long,
                            val lat: Array[Double], val lon: Array[Double],
                            val lenM: Double, val cost10: Long,
                            val lvl: Int, val oneway: Int)

  /** Mutable in-memory working graph for the sequential snap pass. */
  private[graft] final class Work(cellRes: Int) {
    val edges = mutable.ArrayBuffer[WEdge]()
    val alive = mutable.ArrayBuffer[Boolean]()
    val adj = mutable.HashMap[Long, mutable.ArrayBuffer[Int]]()
    val grid = mutable.HashMap[Long, mutable.ArrayBuffer[Int]]()
    val nodeLat = mutable.HashMap[Long, Double]()
    val nodeLon = mutable.HashMap[Long, Double]()
    /** station info per graph node (name) */
    val statOf = mutable.HashMap[Long, String]()
    val blockers = mutable.HashSet[Long]()

    def addEdge(e: WEdge): Int = {
      edges += e; alive += true
      val i = edges.length - 1
      adj.getOrElseUpdate(e.from, mutable.ArrayBuffer()) += i
      adj.getOrElseUpdate(e.to, mutable.ArrayBuffer()) += i
      nodeLat.getOrElseUpdate(e.from, e.lat.head); nodeLon.getOrElseUpdate(e.from, e.lon.head)
      nodeLat.getOrElseUpdate(e.to, e.lat.last); nodeLon.getOrElseUpdate(e.to, e.lon.last)
      Cell.coverPolyline(e.lat.indices.map(k => (e.lat(k), e.lon(k))).toArray, cellRes)
        .foreach(c => grid.getOrElseUpdate(c, mutable.ArrayBuffer()) += i)
      i
    }

    def killEdge(i: Int): Unit = {
      alive(i) = false
      adj.get(edges(i).from).foreach(_ -= i)
      adj.get(edges(i).to).foreach(_ -= i)
      // grid entries are lazily skipped via alive()
    }

    def degree(node: Long): Int = adj.get(node).map(_.count(alive)).getOrElse(0)

    /** candidate edges within dM of (lat, lon), nearest first, with the
      * polyline projection (progr, pLat, pLon, dist). */
    def edgeCands(lat: Double, lon: Double, dM: Double): Seq[(Int, Double, Double, Double, Double)] = {
      val k = Cell.kForMeters(dM, lat, cellRes)
      val seen = mutable.HashSet[Int]()
      val out = mutable.ArrayBuffer[(Int, Double, Double, Double, Double)]()
      Cell.kRing(Cell.encode(lat, lon, cellRes), k).foreach { c =>
        grid.get(c).foreach(_.foreach { i =>
          if (alive(i) && seen.add(i)) {
            val e = edges(i)
            val line = e.lat.indices.map(j => (e.lat(j), e.lon(j))).toArray
            val (progr, pLat, pLon, d) = Geo.projectOnPolyline(lat, lon, line)
            if (d <= dM) out += ((i, progr, pLat, pLon, d))
          }
        })
      }
      out.sortBy(c => (c._5, edges(c._1).id)).toSeq
    }
  }

  /** the reference's depthSearch (OsmBuilder.cpp:1154-1215): walk the graph
    * from edge i's endpoints, bounded by maxD meters of straight-line edge
    * lengths and maxFullTurns intersection turns sharper than minAngle;
    * return the first node satisfying pred. */
  private def depthSearch(w: Work, ei: Int, pLat: Double, pLon: Double,
                          maxD: Double, maxFullTurns: Int, minAngleDeg: Double,
                          pred: Long => Boolean): Option[Long] = {
    val e = w.edges(ei)
    val dFrom = Geo.haversineM(pLat, pLon, w.nodeLat(e.from), w.nodeLon(e.from))
    val dTo = Geo.haversineM(pLat, pLon, w.nodeLat(e.to), w.nodeLon(e.to))
    if (dFrom > maxD && dTo > maxD) return None
    if (dFrom <= maxD && pred(e.from)) return Some(e.from)
    if (dTo <= maxD && pred(e.to)) return Some(e.to)

    // NodeCand ordering: fewer full turns first, then shorter distance
    case class NC(dist: Double, node: Long, fromEdge: Int, fullTurns: Int)
    implicit val ord: Ordering[NC] =
      Ordering.by((c: NC) => (-c.fullTurns, -c.dist, -c.node))
    val pq = mutable.PriorityQueue[NC]()
    val closed = mutable.HashSet[Long]()
    pq.enqueue(NC(dFrom, e.from, ei, 0))
    if (e.from != e.to) pq.enqueue(NC(dTo, e.to, ei, 0))

    while (pq.nonEmpty) {
      val cur = pq.dequeue()
      if (closed.add(cur.node)) {
        val adjE = w.adj.getOrElse(cur.node, mutable.ArrayBuffer.empty)
        adjE.foreach { ai =>
          if (w.alive(ai)) {
            val ae = w.edges(ai)
            val cand = if (ae.from == cur.node) ae.to else ae.from
            if (cand != cur.node) {
              var fullTurn = 0
              if (cur.fromEdge >= 0 && w.degree(cur.node) > 2) {
                val fe = w.edges(cur.fromEdge)
                val other = if (fe.from == cur.node) fe.to else fe.from
                if (Geo.innerAngleDeg(
                    w.nodeLat(other), w.nodeLon(other),
                    w.nodeLat(cur.node), w.nodeLon(cur.node),
                    w.nodeLat(cand), w.nodeLon(cand)) < minAngleDeg)
                  fullTurn = 1
              }
              val eLen = Geo.haversineM(w.nodeLat(ae.from), w.nodeLon(ae.from),
                w.nodeLat(ae.to), w.nodeLon(ae.to))
              if (cur.fullTurns + fullTurn <= maxFullTurns &&
                  cur.dist + eLen < maxD && !closed.contains(cand)) {
                if (pred(cand)) return Some(cand)
                pq.enqueue(NC(cur.dist + eLen, cand, ai, cur.fullTurns + fullTurn))
              }
            }
          }
        }
      }
    }
    None
  }

  case class SnapStats(nSplit: Int, nEndpoint: Int, nAliased: Int, nOffGraph: Int)

  /** Content-derived synthetic ids for split vertices/edges: deterministic
    * under ANY processing order — the driver's sequential pass and the
    * per-bin distributed pass (DistGraphBuild) mint the SAME id for the
    * same (station, host edge) split, so both builds produce identical
    * edge-id sets and hence identical dense-index routing tie-breaks.
    * Negative (disjoint from OSM-derived ids), splitmix64-style avalanche;
    * collisions over the station x edge space are ~2^-63 per pair. */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def synthId(a: Long, b: Long, c: Long): Long =
    -((mix64(mix64(mix64(a) ^ b) ^ c) & Long.MaxValue) | 1L)

  /** placement detail per station: the final vertex plus the (prio, dist,
    * edge id) of the placing candidate — prio 0 = the station node already
    * IS a graph node (placed before the candidate loop), prio 1 = placed
    * via a candidate edge. The tuple is the arbitration key when several
    * per-bin passes place the same station: min (prio, dist, edgeId)
    * reproduces the sequential pass's first-placing-candidate order. */
  case class Placement(node: Long, lat: Double, lon: Double,
                       prio: Int, dist: Double, edgeId: Long, kind: Int)

  /** The sequential snap pass over one in-memory working graph — shared by
    * the driver-side refine() (one Work for the whole graph) and the
    * distributed per-bin pass (one Work per component bin; DistGraphBuild).
    * Mutates `w` (splits/marks) and returns the placements.
    *
    * `sidOwnerOk(sid)`: whether THIS pass may reuse the station's own node
    * id for an inserted split vertex. The driver pass always may; a per-bin
    * pass may only when it is the station's owner bin (the bin of its
    * globally nearest candidate edge) — two bins both claiming `sid` would
    * alias two distinct vertices into one node id in a cross-bin merge. */
  def runPass(w: Work, stations: Seq[(Long, Double, Double, String, String)],
              cfg: OsmConfig,
              sidOwnerOk: Long => Boolean = _ => true): mutable.HashMap[Long, Placement] = {
    // stations whose node already IS a graph node carry their info in place
    // (the reference sets SI while reading nodes; only orphans snap)
    stations.foreach { case (id, _, _, name, _) =>
      if (w.nodeLat.contains(id) && name != null) w.statOf(id) = name
    }

    val placed = mutable.HashMap[Long, Placement]()
    val speeds = cfg.levelSpeedsKmh.map(_ / 3.6)
    val d = cfg.maxOsmStationDistanceM

    stations.foreach { case (sid, sLat, sLon, name0, _) =>
      val name = if (name0 == null) "" else name0
      if (w.nodeLat.contains(sid)) {
        placed(sid) = Placement(sid, w.nodeLat(sid), w.nodeLon(sid), 0, 0.0, 0L, -1)
      } else {
        w.edgeCands(sLat, sLon, d).foreach { case (ei, progr, pLat, pLon, cDist) =>
          if (w.alive(ei)) {
            val e = w.edges(ei)
            val eqPred = (n: Long) => w.statOf.get(n).exists(sn =>
              stationSimi(name, sn,
                Geo.haversineM(sLat, sLon, w.nodeLat(n), w.nodeLon(n)),
                cfg.stationNorm) >= EqMinSimi)
            depthSearch(w, ei, pLat, pLon, 2 * d, 0, cfg.fullTurnAngleDeg, eqPred) match {
              case Some(eq) =>
                if (!placed.contains(sid)) {
                  placed(sid) = Placement(eq, w.nodeLat(eq), w.nodeLon(eq),
                    1, cDist, e.id, 0)
                }
              case None if e.lvl > cfg.maxSnapLevel => ()
              case None =>
                val blockPred = (n: Long) => w.blockers.contains(n) ||
                  w.statOf.get(n).exists(sn => stationSimi(name, sn,
                    Geo.haversineM(sLat, sLon, w.nodeLat(n), w.nodeLon(n)),
                    cfg.stationNorm) < BlockMaxSimi)
                val blocked = depthSearch(w, ei, pLat, pLon,
                  cfg.maxBlockDistanceM, 0, cfg.fullTurnAngleDeg, blockPred).isDefined
                if (!blocked) {
                  val dF = Geo.haversineM(pLat, pLon, w.nodeLat(e.from), w.nodeLon(e.from))
                  val dT = Geo.haversineM(pLat, pLon, w.nodeLat(e.to), w.nodeLon(e.to))
                  if (!w.statOf.contains(e.from) && dF < EndpointSnapM) {
                    w.statOf(e.from) = name
                    if (!placed.contains(sid)) {
                      placed(sid) = Placement(e.from, w.nodeLat(e.from), w.nodeLon(e.from),
                        1, cDist, e.id, 1)
                    }
                  } else if (!w.statOf.contains(e.to) && dT < EndpointSnapM) {
                    w.statOf(e.to) = name
                    if (!placed.contains(sid)) {
                      placed(sid) = Placement(e.to, w.nodeLat(e.to), w.nodeLon(e.to),
                        1, cDist, e.id, 1)
                    }
                  } else {
                    // insert the station vertex + split the edge
                    val nodeId =
                      if (sidOwnerOk(sid) && !w.nodeLat.contains(sid)) sid
                      else synthId(sid, e.id, 0)
                    w.nodeLat(nodeId) = pLat; w.nodeLon(nodeId) = pLon
                    w.statOf(nodeId) = name
                    val line = e.lat.indices.map(k => (e.lat(k), e.lon(k))).toArray
                    val g1 = normEnds(Geo.subPolyline(line, 0.0, progr),
                      (w.nodeLat(e.from), w.nodeLon(e.from)), (pLat, pLon))
                    val g2 = normEnds(Geo.subPolyline(line, progr, 1.0),
                      (pLat, pLon), (w.nodeLat(e.to), w.nodeLon(e.to)))
                    val l1 = Geo.polylineLenM(g1); val l2 = Geo.polylineLenM(g2)
                    val sp = speeds(math.min(e.lvl, speeds.length - 1))
                    val id1 = synthId(sid, e.id, 1)
                    val id2 = synthId(sid, e.id, 2)
                    w.killEdge(ei)
                    w.addEdge(new WEdge(id1, e.wayId, e.pos, e.from, nodeId,
                      g1.map(_._1), g1.map(_._2), l1, Geo.costToInt(l1 / sp),
                      e.lvl, e.oneway))
                    w.addEdge(new WEdge(id2, e.wayId, e.pos, nodeId, e.to,
                      g2.map(_._1), g2.map(_._2), l2, Geo.costToInt(l2 / sp),
                      e.lvl, e.oneway))
                    if (!placed.contains(sid)) {
                      placed(sid) = Placement(nodeId, pLat, pLon, 1, cDist, e.id, 2)
                    }
                  }
                }
            }
          }
        }
      }
    }
    placed
  }

  /** Refine a built GraphTables: snap orphan stations into the edge set.
    * Returns the refined tables + stats. blockerNodes may be null/empty. */
  def refine(spark: SparkSession, gt: GraphBuilder.GraphTables, cfg: OsmConfig,
             blockerNodes: DataFrame = null): (GraphBuilder.GraphTables, SnapStats) = {
    import spark.implicits._
    val snapRes = 20 // ~10 m cells: right-sized for the 15 m snap radius
    val w = new Work(snapRes)

    // the two input collects are independent jobs — submit them
    // concurrently (same rationale as CompactGraph.fromEdges: back-to-back
    // driver collects pay serial scheduler/AQE round-trips)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val edgeRowsF = Future(gt.edges.select(
      col("edge_id").cast("long"), col("way_id").cast("long"),
      col("pos").cast("long"),
      col("from_id").cast("long"), col("to_id").cast("long"),
      expr("transform(geom, p -> p.lat)"), expr("transform(geom, p -> p.lon)"),
      col("len_m").cast("double"), col("cost10").cast("long"),
      col("lvl").cast("int"), col("oneway").cast("int")).collect())
    // stations and blocker nodes: one query (a union tagged by kind)
    val hasTrack = gt.stations.columns.contains("track")
    val trackCol = if (hasTrack) col("track") else lit(null).cast("string")
    val nodesF = Future {
      val st = gt.stations.select(lit(0).as("kind"), col("node_id").cast("long"),
        col("lat").cast("double"), col("lon").cast("double"), col("name").cast("string"),
        trackCol.cast("string"))
      (if (blockerNodes == null) st
       else st.union(blockerNodes.select(lit(1), col("node_id").cast("long"),
         lit(null).cast("double"), lit(null).cast("double"), lit(null).cast("string"),
         lit(null).cast("string"))))
        .collect().partition(_.getInt(0) == 0)
    }
    Await.result(edgeRowsF, Duration.Inf).sortBy(_.getLong(0)).foreach { r =>
      w.addEdge(new WEdge(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getSeq[Double](5).toArray, r.getSeq[Double](6).toArray,
        r.getDouble(7), r.getLong(8), r.getInt(9), r.getInt(10)))
    }
    val (stationRows, blockerRows) = Await.result(nodesF, Duration.Inf)
    blockerRows.foreach(r => w.blockers += r.getLong(1))
    val stations = stationRows
      .map(r => (r.getLong(1), r.getDouble(2), r.getDouble(3),
        if (r.isNullAt(4)) null else r.getString(4),
        if (r.isNullAt(5)) null else r.getString(5)))
      .sortBy(_._1)

    val placed = runPass(w, stations, cfg)

    var nSplit = 0; var nEndpoint = 0; var nAliased = 0
    placed.values.foreach { p =>
      if (p.prio == 1) p.kind match {
        case 0 => nAliased += 1
        case 1 => nEndpoint += 1
        case _ => nSplit += 1
      }
    }

    // ---- back to DataFrames ----
    val changedIds = w.edges.indices
      .filter(i => !w.alive(i) && w.edges(i).id >= 0).map(i => w.edges(i).id)
    val newEdges = w.edges.indices.filter(i => w.alive(i) && w.edges(i).id < 0)
      .map { i =>
        val e = w.edges(i)
        EdgeOut(e.id, e.wayId, e.pos, e.from, e.to,
          e.lat.head, e.lon.head, e.lat.last, e.lon.last,
          e.lenM, e.cost10, e.lvl, e.oneway,
          e.lat.indices.map(k => GeoPt(e.lat(k), e.lon(k))),
          Cell.cover(e.lat.min, e.lon.min, e.lat.max, e.lon.max, cfg.cellRes))
      }
    val edges2 =
      if (newEdges.isEmpty) gt.edges
      else {
        // a local relation, not a parallelized RDD: its exact size lets
        // every consumer plan it without a stats-less shuffle first
        val newDf0 = spark.createDataFrame(newEdges.toSeq)
        val actualTypes = newDf0.schema.map(f => f.name -> f.dataType).toMap
        val schema = gt.edges.schema
        val newDf = newDf0.select(schema.map { f =>
          val c = col(camelOf(f.name))
          // cast only on a REAL type mismatch — casting a non-nullable
          // struct to its nullable twin is rejected by Catalyst
          // catalogString carries no nullability -> equality ignores it
          val same = actualTypes(camelOf(f.name)).catalogString == f.dataType.catalogString
          val cc = if (same) c else c.cast(f.dataType)
          cc.as(f.name)
        }: _*)
        // the split edges leave through a set-membership filter: an
        // anti-join against the id list cost a broadcast job of its own
        gt.edges.filter(col("edge_id").isNull || !col("edge_id").isin(changedIds: _*))
          .unionByName(newDf)
      }

    // refined stations table: every input station at its placed vertex
    // (snapped coords), off-graph stations unchanged
    val placedRows = stations.map { case (sid, sLat, sLon, name, track) =>
      placed.get(sid) match {
        case Some(p) => (p.node, p.lat, p.lon, name, track)
        case None => (sid, sLat, sLon, name, track)
      }
    }.distinct
    val stations2 = spark.createDataFrame(placedRows.toSeq)
      .toDF("node_id", "lat", "lon", "name", "track")
      .withColumn("cell", graft.functions.GeoFunctions.gcell(
        col("lat"), col("lon"), cfg.cellRes))
      .select("node_id", "lat", "lon", "cell", "name", "track")

    val nOff = stations.count(s => !placed.contains(s._1))
    (gt.copy(edges = edges2, stations = stations2),
      SnapStats(nSplit, nEndpoint, nAliased, nOff))
  }

  /** pin exact endpoint coordinates onto a sub-polyline (interpolation
    * jitter must not detach the part from its vertices) */
  private def normEnds(g: Array[(Double, Double)],
                       a: (Double, Double), b: (Double, Double)): Array[(Double, Double)] = {
    val out = if (g.length >= 2) g.clone() else Array(a, b)
    out(0) = a; out(out.length - 1) = b
    out
  }

  /** edges-DF column name (snake_case) -> EdgeOut field name (camelCase) */
  private def camelOf(snake: String): String =
    "_([a-z])".r.replaceAllIn(snake, m => m.group(1).toUpperCase)

  case class GeoPt(lat: Double, lon: Double)
  case class EdgeOut(edgeId: Long, wayId: Long, pos: Long, fromId: Long, toId: Long,
                     fromLat: Double, fromLon: Double, toLat: Double, toLon: Double,
                     lenM: Double, cost10: Long, lvl: Int, oneway: Int,
                     geom: Seq[GeoPt], cells: Seq[Long])
}
