package graft.router

import graft.geo.Geo

/** Compact primitive-array road graph — the broadcastable analog of the
  * reference's in-memory trgraph::Graph
  * (/root/reference/src/pfaedle/trgraph/Graph.h:24-28). Built once from the
  * edges DataFrame, serialized to executors via a Spark broadcast; all
  * matcher kernels route over it without touching Spark rows.
  *
  * Directed expansion: stored edge i yields directed edge 2*i (forward,
  * from->to) and 2*i+1 (backward, to->from) — the reference's
  * writeODirEdgs (/root/reference/src/pfaedle/osm/OsmBuilder.cpp:1697-1706).
  * Travel AGAINST a oneway edge is PENALIZED, not blocked — the reference's
  * writeOneWayPens (OsmBuilder.cpp:1740-1751: cost * oneWaySpeedPen +
  * oneWayEntryCost); hard-blocking made buses that legally travel short
  * one-way stretches unroutable.
  */
class CompactGraph(
    val edgeIds: Array[Long], // stable external edge ids
    val edgeFrom: Array[Long], // node ids
    val edgeTo: Array[Long],
    val cost10: Array[Long], // decisecond fixed point per stored edge
    val lenM: Array[Double],
    val oneway: Array[Int], // 0 both, 1 fwd only, 2 rev only
    val wayId: Array[Long],
    val geomLat: Array[Array[Double]], // polyline per stored edge (>= 2 pts)
    val geomLon: Array[Array[Double]],
    val edgeLines: Array[Array[String]], // transit line short names per edge
    restrictionsIn: Array[(Long, Long, Long, Boolean)], // (via, fromWay, toWay, positive)
    /** per-edge transit line from/to strings, aligned with edgeLines — the
      * G2 name/from/to factor split (RoutingAttrs.h:40-42); null = none */
    val edgeLinesFrom: Array[Array[String]] = null,
    val edgeLinesTo: Array[Array[String]] = null,
    /** wrong-way cost shaping (reference defaults: pfaedle.cfg:408-412
      * osm_one_way_speed_penalty_fac 5 / osm_one_way_entry_cost 300) */
    val oneWaySpeedPen: Double = 5.0,
    val oneWayEntryCostSec: Double = 300.0,
    /** turn-cycle nodes (roundabouts etc.): no full-turn or restriction
      * cost there (Weights.cpp:125 guard) */
    turnCycleNodesIn: Array[Long] = Array.empty
) extends Serializable {

  /** constructor inputs retained for subset/concat (GraphPartitions) */
  val rawRestrictions: Array[(Long, Long, Long, Boolean)] = restrictionsIn
  val rawTurnCycles: Array[Long] = turnCycleNodesIn

  private val turnCycleSet: java.util.HashSet[Long] = {
    val s = new java.util.HashSet[Long]()
    turnCycleNodesIn.foreach(s.add)
    s
  }
  @inline def isTurnCycleNode(nodeId: Long): Boolean =
    !turnCycleSet.isEmpty && turnCycleSet.contains(nodeId)

  /** process-unique instance token (serialized with the broadcast copy) —
    * scopes HopCache entries to this graph so two graphs in one JVM never
    * cross-serve memoized costs over coinciding dense indices. The counter
    * is seeded with a random per-JVM base (low 20 bits zero) so tokens
    * minted on the DRIVER (and shipped inside a broadcast) can never
    * collide with tokens minted locally on an executor — with a bare
    * 1,2,3... counter, a driver-built bin (token 2) and an executor-built
    * merged graph (local token 2) sharing one executor JVM would
    * cross-serve dense-edge-indexed memo arrays between different graphs. */
  val token: Long = CompactGraph.TokenCounter.incrementAndGet()

  /** top-level build epoch: subset/concat graphs inherit their parent's,
    * so one pipeline run — whose component bins and on-demand merges are
    * all alive at once — forms ONE cache generation (HopCache.gen). A
    * fresh top-level build starts a new generation and retires old ones:
    * without that, a long-lived executor that serves many graph builds
    * accumulates dead-token entries until the no-eviction caches hit
    * capacity and stop memoizing entirely. Serialized with the broadcast
    * copy (monotonic: TokenCounter). */
  private var epochVar: Long = -1L
  def epoch: Long = if (epochVar >= 0) epochVar else token
  private[router] def setEpoch(e: Long): this.type = { epochVar = e; this }

  val numEdges: Int = edgeFrom.length

  /** external edge id -> dense index. Boxed value type: with a primitive
    * Int value Scala silently unboxes a missing-key null to 0, so "is the
    * id known" checks compile to always-false (a missing edge id would
    * alias dense index 0). */
  val edgeIndex: java.util.HashMap[Long, java.lang.Integer] = {
    val m = new java.util.HashMap[Long, java.lang.Integer](numEdges * 2)
    var i = 0
    while (i < numEdges) { m.put(edgeIds(i), i); i += 1 }
    m
  }

  /** node id -> dense node index (boxed value: see edgeIndex) */
  val nodeIndex: java.util.HashMap[Long, java.lang.Integer] = {
    val m = new java.util.HashMap[Long, java.lang.Integer]()
    var i = 0
    while (i < numEdges) {
      if (!m.containsKey(edgeFrom(i))) m.put(edgeFrom(i), m.size)
      if (!m.containsKey(edgeTo(i))) m.put(edgeTo(i), m.size)
      i += 1
    }
    m
  }
  val numNodes: Int = nodeIndex.size

  /** dense node indices per stored edge — the hot path must never touch
    * nodeIndex (HashMap<Long> boxes a Long per lookup; that allocation in
    * the Dijkstra inner loop dominated kernel time) */
  val edgeFromIdx: Array[Int] = Array.tabulate(numEdges)(i => nodeIndex.get(edgeFrom(i)).intValue())
  val edgeToIdx: Array[Int] = Array.tabulate(numEdges)(i => nodeIndex.get(edgeTo(i)).intValue())
  @inline def dirFromIdx(de: Int): Int = if ((de & 1) == 0) edgeFromIdx(de >> 1) else edgeToIdx(de >> 1)
  @inline def dirToIdx(de: Int): Int = if ((de & 1) == 0) edgeToIdx(de >> 1) else edgeFromIdx(de >> 1)

  @inline def dirFrom(de: Int): Long = if ((de & 1) == 0) edgeFrom(de >> 1) else edgeTo(de >> 1)
  @inline def dirTo(de: Int): Long = if ((de & 1) == 0) edgeTo(de >> 1) else edgeFrom(de >> 1)

  private def onewayPen(c: Long): Long =
    Geo.costToInt((c / 10.0) * oneWaySpeedPen + oneWayEntryCostSec)
  /** per-direction cost: the banned direction of a oneway edge pays the
    * wrong-way penalty (writeOneWayPens, OsmBuilder.cpp:1740-1751) */
  val fwdCost10: Array[Long] =
    Array.tabulate(numEdges)(i => if (oneway(i) == 2) onewayPen(cost10(i)) else cost10(i))
  val revCost10: Array[Long] =
    Array.tabulate(numEdges)(i => if (oneway(i) == 1) onewayPen(cost10(i)) else cost10(i))
  @inline def dirCost10(de: Int): Long =
    if ((de & 1) == 0) fwdCost10(de >> 1) else revCost10(de >> 1)

  /** CSR adjacency: directed edges leaving each node (by dense index) —
    * both directions of every edge (wrong-way is penalized, not absent). */
  val (adjOffsets, adjEdges) = {
    val counts = new Array[Int](numNodes + 1)
    var i = 0
    while (i < numEdges) {
      counts(nodeIndex.get(edgeFrom(i)) + 1) += 1
      counts(nodeIndex.get(edgeTo(i)) + 1) += 1
      i += 1
    }
    var j = 1
    while (j <= numNodes) { counts(j) += counts(j - 1); j += 1 }
    val fill = counts.clone()
    val adj = new Array[Int](counts(numNodes))
    i = 0
    while (i < numEdges) {
      val f = nodeIndex.get(edgeFrom(i)).intValue(); adj(fill(f)) = 2 * i; fill(f) += 1
      val t = nodeIndex.get(edgeTo(i)).intValue(); adj(fill(t)) = 2 * i + 1; fill(t) += 1
      i += 1
    }
    (counts, adj)
  }

  /** out-degree of a node (directed). */
  def outDegree(nodeId: Long): Int = {
    val n = nodeIndex.get(nodeId)
    if (n == null) 0 else adjOffsets(n + 1) - adjOffsets(n)
  }

  /** turn restrictions grouped by via node: (fromWay, toWay, positive) */
  val restrictions: java.util.HashMap[Long, Array[(Long, Long, Boolean)]] = {
    val m = new java.util.HashMap[Long, Array[(Long, Long, Boolean)]]()
    restrictionsIn.groupBy(_._1).foreach { case (via, rs) =>
      m.put(via, rs.map(r => (r._2, r._3, r._4)))
    }
    m
  }

  /** May we transition fromDir -> toDir at the shared node? Restrictor
    * semantics (/root/reference/src/pfaedle/osm/Restrictor.cpp): a negative
    * rule (from,to) forbids exactly that pair; a positive rule at the node
    * allows ONLY its listed to-way from its from-way. */
  def mayTurn(viaNode: Long, fromDir: Int, toDir: Int): Boolean = {
    val rules = restrictions.get(viaNode)
    if (rules == null) return true
    val fw = wayId(fromDir >> 1); val tw = wayId(toDir >> 1)
    var onlyRuleForFrom = false
    var allowedByOnly = false
    var i = 0
    while (i < rules.length) {
      val (rf, rt, pos) = rules(i)
      if (pos) {
        if (rf == fw) {
          onlyRuleForFrom = true
          if (rt == tw) allowedByOnly = true
        }
      } else if (rf == fw && rt == tw) return false
      i += 1
    }
    !onlyRuleForFrom || allowedByOnly
  }

  /** Connected components over the undirected skeleton (union-find on the
    * driver — the graph is already the collected broadcast side; the
    * distributed CC operator lives in graft.plans.ConnectedComponents). */
  val compOf: Array[Int] = {
    val parent = Array.tabulate(numNodes)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }; r }
    var i = 0
    while (i < numEdges) {
      val a = find(nodeIndex.get(edgeFrom(i))); val b = find(nodeIndex.get(edgeTo(i)))
      if (a != b) parent(a) = b
      i += 1
    }
    Array.tabulate(numNodes)(find)
  }
  /** max speed (m/s) per component label — the reference's per-component
    * Component{maxSpeed} (NodePL.h:23-25), used to sharpen the A* heuristic
    * (a global vmax over-estimates and quadratically widens the search). */
  val compMaxSpeedMs: java.util.HashMap[Int, java.lang.Double] = {
    val m = new java.util.HashMap[Int, java.lang.Double]()
    var i = 0
    while (i < numEdges) {
      if (cost10(i) > 0) {
        val v = lenM(i) * 10.0 / cost10(i)
        val c = compOf(edgeFromIdx(i))
        val cur = m.get(c)
        if (cur == null || v > cur.doubleValue()) m.put(c, v)
      }
      i += 1
    }
    m
  }
  def compMaxSpeed(comp: Int): Double = {
    val v = compMaxSpeedMs.get(comp)
    if (v == null) 1.0 else v.doubleValue()
  }

  def compOfNode(nodeId: Long): Int = {
    val n = nodeIndex.get(nodeId)
    if (n == null) -1 else compOf(n)
  }
  def compOfDir(de: Int): Int = compOfNode(dirFrom(de))
  /** component label of a stored edge (both endpoints share it) */
  @inline def compOfEdge(i: Int): Int = compOf(edgeFromIdx(i))

  /** G9 deg-2 chain label per stored edge (ShapeBuilder.cpp:287-316):
    * edges meeting at a degree-2, non-turn-cycle node belong to one
    * physical street — candidate generation keeps only the best snap per
    * chain (O1, ShapeBuilder.cpp:241-276). Union-find over the broadcast
    * dimension, like the reference's in-memory walk. */
  val chainOf: Array[Int] = {
    val parent = Array.tabulate(numEdges)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }; r }
    val degArr = new Array[Int](numNodes)
    var i = 0
    while (i < numEdges) {
      degArr(edgeFromIdx(i)) += 1; degArr(edgeToIdx(i)) += 1
      i += 1
    }
    val firstEdge = Array.fill(numNodes)(-1)
    i = 0
    while (i < numEdges) {
      var s = 0
      while (s < 2) {
        val n = if (s == 0) edgeFromIdx(i) else edgeToIdx(i)
        val nid = if (s == 0) edgeFrom(i) else edgeTo(i)
        if (degArr(n) == 2 && !isTurnCycleNode(nid)) {
          if (firstEdge(n) == -1) firstEdge(n) = i
          else {
            val a = find(i); val b = find(firstEdge(n))
            if (a != b) parent(a) = b
          }
        }
        s += 1
      }
      i += 1
    }
    Array.tabulate(numEdges)(find)
  }

  @inline def dirToLat(de: Int): Double = {
    val i = de >> 1
    if ((de & 1) == 0) geomLat(i)(geomLat(i).length - 1) else geomLat(i)(0)
  }
  @inline def dirToLon(de: Int): Double = {
    val i = de >> 1
    if ((de & 1) == 0) geomLon(i)(geomLon(i).length - 1) else geomLon(i)(0)
  }
  /** point just before the directed end (for turn angles), no allocation */
  @inline def dirPrevLat(de: Int): Double = {
    val i = de >> 1
    if ((de & 1) == 0) geomLat(i)(geomLat(i).length - 2) else geomLat(i)(1)
  }
  @inline def dirPrevLon(de: Int): Double = {
    val i = de >> 1
    if ((de & 1) == 0) geomLon(i)(geomLon(i).length - 2) else geomLon(i)(1)
  }

  val hasRestrictions: Boolean = restrictionsIn.nonEmpty

  /** any edge carrying transit-line info (memoized: relaxParams asked this
    * with an O(numEdges) scan once per solve) */
  lazy val hasLineInfo: Boolean = edgeLines.exists(l => l != null && l.nonEmpty)

  /** Geometry of a directed edge (oriented). */
  def dirGeom(de: Int): Array[(Double, Double)] = {
    val i = de >> 1
    val pts = geomLat(i).indices.map(k => (geomLat(i)(k), geomLon(i)(k))).toArray
    if ((de & 1) == 0) pts else pts.reverse
  }

  /** Angle-based full-turn test between consecutive directed edges at their
    * shared node (Weights.cpp:136-155 semantics): reverse edge, or sharp
    * angle at a node with degree > 2. Allocation-free — runs once per
    * Dijkstra relaxation. */
  def isFullTurn(fromDir: Int, toDir: Int, fullTurnAngleDeg: Double): Boolean = {
    val ni = dirToIdx(fromDir)
    val deg = adjOffsets(ni + 1) - adjOffsets(ni)
    if ((fromDir >> 1) == (toDir >> 1) && fromDir != toDir)
      // U-turn on same edge — free at a degree-1 terminus, where turning
      // back is the only way onward (the reference reaches the same effect
      // with writeSelfEdgs' infinite self-loops at end-stations,
      // OsmBuilder.cpp:1709-1724: 'this is a problem at end-stations')
      return deg > 1
    if (deg <= 2) return false
    // angle at the shared node: fromDir's last segment vs toDir's first
    // (toDir's second point = prev point of its reverse direction)
    Geo.innerAngleDeg(
      dirPrevLat(fromDir), dirPrevLon(fromDir),
      dirToLat(fromDir), dirToLon(fromDir),
      dirPrevLat(toDir ^ 1), dirPrevLon(toDir ^ 1)) < fullTurnAngleDeg
  }
}

object CompactGraph {
  /** seeded with a random non-negative per-JVM base (low 20 bits clear →
    * ~1M local builds of headroom before spilling into another base's
    * range; 2^43 possible bases makes a cross-JVM overlap negligible).
    * Non-negative so `epoch`'s `epochVar >= 0` sentinel stays valid.
    * Within one JVM tokens stay monotonic, which HopCache's
    * evict-the-minimum generation retirement relies on; across JVMs
    * ordering is meaningless but eviction order is only a perf heuristic. */
  private[router] val TokenCounter = new java.util.concurrent.atomic.AtomicLong(
    new java.security.SecureRandom().nextLong() & 0x7FFFFFFFFFF00000L)

  /** a fresh cache generation id for a partition set whose bins were built
    * off-driver (FileBin stamps it onto each loaded graph) */
  def newEpoch(): Long = TokenCounter.incrementAndGet()

  /** Convenience builder from simple tuples (tests): (from, to, costSec,
    * oneway, wayId). Geometry = straight line between supplied coords.
    * Edge id = index. */
  def fromSegments(segs: Seq[(Long, Long, Double, Int, Long)],
                   coords: Map[Long, (Double, Double)],
                   restrictions: Seq[(Long, Long, Long, Boolean)] = Nil,
                   edgeLineTriples: Map[Int, Seq[(String, String, String)]] = Map.empty): CompactGraph = {
    val n = segs.length
    val ids = Array.tabulate(n)(_.toLong)
    val ef = new Array[Long](n); val et = new Array[Long](n)
    val c10 = new Array[Long](n); val lm = new Array[Double](n)
    val ow = new Array[Int](n); val wy = new Array[Long](n)
    val gla = new Array[Array[Double]](n); val glo = new Array[Array[Double]](n)
    val lines = Array.tabulate(n)(i =>
      edgeLineTriples.getOrElse(i, Nil).map(_._1).toArray)
    val linesF = Array.tabulate(n)(i =>
      edgeLineTriples.getOrElse(i, Nil).map(_._2).toArray)
    val linesT = Array.tabulate(n)(i =>
      edgeLineTriples.getOrElse(i, Nil).map(_._3).toArray)
    segs.zipWithIndex.foreach { case ((f, t, cost, o, w), i) =>
      ef(i) = f; et(i) = t; c10(i) = Geo.costToInt(cost); ow(i) = o; wy(i) = w
      val (fl, fo) = coords(f); val (tl, to) = coords(t)
      gla(i) = Array(fl, tl); glo(i) = Array(fo, to)
      lm(i) = Geo.haversineM(fl, fo, tl, to)
    }
    new CompactGraph(ids, ef, et, c10, lm, ow, wy, gla, glo, lines,
      restrictions.toArray, edgeLinesFrom = linesF, edgeLinesTo = linesT)
  }

  /** Subset graph over the stored edges whose dense index passes `keep`
    * (ascending dense order, which is ascending GLOBAL edge-id order —
    * fromEdges sorts by edge id — so dense-index tie-breaking inside any
    * subset is order-consistent with the full graph and routing restricted
    * to a closed component set is bit-identical to routing on the full
    * graph). Edge/node/way ids stay global; restrictions and turn-cycle
    * nodes are filtered to the surviving node set. */
  def subset(g: CompactGraph, keep: Int => Boolean): CompactGraph = {
    val idx = (0 until g.numEdges).filter(keep).toArray
    val n = idx.length
    val nodeSet = new java.util.HashSet[Long]()
    val ids = new Array[Long](n); val ef = new Array[Long](n); val et = new Array[Long](n)
    val c10 = new Array[Long](n); val lm = new Array[Double](n)
    val ow = new Array[Int](n); val wy = new Array[Long](n)
    val gla = new Array[Array[Double]](n); val glo = new Array[Array[Double]](n)
    val eln = new Array[Array[String]](n)
    val elnF = if (g.edgeLinesFrom == null) null else new Array[Array[String]](n)
    val elnT = if (g.edgeLinesTo == null) null else new Array[Array[String]](n)
    var k = 0
    while (k < n) {
      val i = idx(k)
      ids(k) = g.edgeIds(i); ef(k) = g.edgeFrom(i); et(k) = g.edgeTo(i)
      c10(k) = g.cost10(i); lm(k) = g.lenM(i); ow(k) = g.oneway(i); wy(k) = g.wayId(i)
      gla(k) = g.geomLat(i); glo(k) = g.geomLon(i); eln(k) = g.edgeLines(i)
      if (elnF != null) elnF(k) = g.edgeLinesFrom(i)
      if (elnT != null) elnT(k) = g.edgeLinesTo(i)
      nodeSet.add(ef(k)); nodeSet.add(et(k))
      k += 1
    }
    new CompactGraph(ids, ef, et, c10, lm, ow, wy, gla, glo, eln,
      g.rawRestrictions.filter(r => nodeSet.contains(r._1)),
      edgeLinesFrom = elnF, edgeLinesTo = elnT,
      oneWaySpeedPen = g.oneWaySpeedPen, oneWayEntryCostSec = g.oneWayEntryCostSec,
      turnCycleNodesIn = g.rawTurnCycles.filter(nodeSet.contains))
      .setEpoch(g.epoch)
  }

  /** Merge disjoint subset graphs back into one, restoring global
    * edge-id order (so the merged graph's dense indices — hence Dijkstra
    * tie-breaks — equal those of the equivalent subset of the full
    * graph). Used for the rare solver cluster whose candidates span
    * partition bins. */
  def concat(parts: Seq[CompactGraph]): CompactGraph = {
    require(parts.nonEmpty)
    if (parts.length == 1) return parts.head
    val order = parts.iterator.zipWithIndex.flatMap { case (p, pi) =>
      (0 until p.numEdges).iterator.map(i => (p.edgeIds(i), pi, i))
    }.toArray.sortBy(_._1)
    val n = order.length
    val ids = new Array[Long](n); val ef = new Array[Long](n); val et = new Array[Long](n)
    val c10 = new Array[Long](n); val lm = new Array[Double](n)
    val ow = new Array[Int](n); val wy = new Array[Long](n)
    val gla = new Array[Array[Double]](n); val glo = new Array[Array[Double]](n)
    val eln = new Array[Array[String]](n)
    val hasF = parts.forall(_.edgeLinesFrom != null)
    val elnF = if (hasF) new Array[Array[String]](n) else null
    val elnT = if (hasF) new Array[Array[String]](n) else null
    var k = 0
    while (k < n) {
      val (_, pi, i) = order(k)
      val p = parts(pi)
      ids(k) = p.edgeIds(i); ef(k) = p.edgeFrom(i); et(k) = p.edgeTo(i)
      c10(k) = p.cost10(i); lm(k) = p.lenM(i); ow(k) = p.oneway(i); wy(k) = p.wayId(i)
      gla(k) = p.geomLat(i); glo(k) = p.geomLon(i); eln(k) = p.edgeLines(i)
      if (hasF) { elnF(k) = p.edgeLinesFrom(i); elnT(k) = p.edgeLinesTo(i) }
      k += 1
    }
    new CompactGraph(ids, ef, et, c10, lm, ow, wy, gla, glo, eln,
      parts.flatMap(_.rawRestrictions).distinct.toArray,
      edgeLinesFrom = elnF, edgeLinesTo = elnT,
      oneWaySpeedPen = parts.head.oneWaySpeedPen,
      oneWayEntryCostSec = parts.head.oneWayEntryCostSec,
      turnCycleNodesIn = parts.flatMap(_.rawTurnCycles).distinct.toArray)
      .setEpoch(parts.head.epoch)
  }

  /** Build from the GraphBuilder edges + restrictions DataFrames (collect on
    * the driver, then broadcast — the graph is the bounded dimension side;
    * the reference holds the same graph fully in RAM single-node). */
  def fromEdges(edges: org.apache.spark.sql.DataFrame,
                restrictions: org.apache.spark.sql.DataFrame): CompactGraph =
    fromEdges(edges, restrictions, null, null)

  /** Full builder: also attaches transit line short names per edge (from
    * wayLines(way_id, line_id) x lines(line_id, short_name)) for the
    * line-similarity cost shaping (G2/U6), and the turn-cycle node set. */
  def fromEdges(edges: org.apache.spark.sql.DataFrame,
                restrictions: org.apache.spark.sql.DataFrame,
                wayLines: org.apache.spark.sql.DataFrame,
                lines: org.apache.spark.sql.DataFrame,
                turnCycles: org.apache.spark.sql.DataFrame = null): CompactGraph = {
    val hasGeom = edges.columns.contains("geom")
    import org.apache.spark.sql.functions.{broadcast, coalesce, col => fcol, lit}
    // the three driver collects below are INDEPENDENT jobs; running them
    // sequentially paid three scheduler/AQE round-trips back to back
    // (guide: overlap independent jobs so the next job's tasks back-fill
    // the current job's tail). Futures on the global pool submit them
    // concurrently; results are deterministic either way.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val rowsF = Future((if (hasGeom)
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
    else edges.select("edge_id", "way_id", "from_id", "to_id",
      "from_lat", "from_lon", "to_lat", "to_lon", "cost10", "len_m", "oneway"))
      .collect())
    // (short_name, from_str, to_str) triples per way — G2 needs the
    // from/to split (RoutingAttrs.h:40-42); columns may be absent on
    // older line dims
    val wayToNamesF: Future[Map[Long, Array[(String, String, String)]]] = Future {
      if (wayLines == null || lines == null) Map.empty
      else {
        val hasFt = lines.columns.contains("from_str")
        // the line dim is bounded by the feed's transit lines: broadcast
        // it rather than shuffle both sides and convert at run time
        wayLines.join(broadcast(lines), "line_id")
          .select(fcol("way_id"), coalesce(fcol("short_name"), lit("")),
            if (hasFt) coalesce(fcol("from_str"), lit("")) else lit(""),
            if (hasFt) coalesce(fcol("to_str"), lit("")) else lit(""))
          .collect()
          .groupBy(_.getLong(0))
          .map { case (w, rs) =>
            w -> rs.map(r => (r.getString(1), r.getString(2), r.getString(3))).distinct
          }
      }
    }
    // restrictions and turn-cycle nodes are both small: one query (a union
    // tagged by kind) collects them in one job
    val smallF = Future {
      val restr = restrictions.select(lit(0).as("kind"), fcol("via_node").cast("long"),
        fcol("from_way").cast("long"), fcol("to_way").cast("long"), fcol("positive"))
      (if (turnCycles == null) restr
       else restr.union(turnCycles.select(lit(1), fcol("node_id").cast("long"),
         lit(null).cast("long"), lit(null).cast("long"), lit(null).cast("boolean"))))
        .collect()
    }
    val rows = Await.result(rowsF, Duration.Inf)
    val wayToNames = Await.result(wayToNamesF, Duration.Inf)
    val edgeRows = rows.map { r =>
      val (glat, glon) =
        if (hasGeom) (r.getSeq[Double](11).toArray, r.getSeq[Double](12).toArray)
        else (Array(r.getDouble(4), r.getDouble(6)), Array(r.getDouble(5), r.getDouble(7)))
      EdgeRowIn(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        glat, glon, r.getLong(8), r.getDouble(9), r.getInt(10))
    }
    val (restrRows, tcyRows) = Await.result(smallF, Duration.Inf).partition(_.getInt(0) == 0)
    val restr = restrRows.map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    val tcy = tcyRows.map(_.getLong(1))
    fromRows(edgeRows, wayToNames, restr, tcy)
  }

  /** one pre-parsed edge row (id-sorted by the caller or fromRows) */
  case class EdgeRowIn(id: Long, wayId: Long, from: Long, to: Long,
                       glat: Array[Double], glon: Array[Double],
                       cost10: Long, lenM: Double, oneway: Int)

  /** Array-level builder shared by the driver-side fromEdges collect and
    * the executor-side per-bin build (DistGraphBuild): rows are sorted by
    * edge id here, so any caller yields the same dense-index order (the
    * Dijkstra tie-break order) for the same edge set. */
  def fromRows(rowsIn: Array[EdgeRowIn],
               wayToNames: Map[Long, Array[(String, String, String)]],
               restr: Array[(Long, Long, Long, Boolean)],
               turnCycles: Array[Long]): CompactGraph = {
    val rows = rowsIn.sortBy(_.id)
    val n = rows.length
    val ids = new Array[Long](n); val ef = new Array[Long](n); val et = new Array[Long](n)
    val c10 = new Array[Long](n); val lm = new Array[Double](n)
    val ow = new Array[Int](n); val wy = new Array[Long](n)
    val gla = new Array[Array[Double]](n); val glo = new Array[Array[Double]](n)
    val eln = new Array[Array[String]](n)
    val elnF = new Array[Array[String]](n)
    val elnT = new Array[Array[String]](n)
    var i = 0
    while (i < n) {
      val r = rows(i)
      ids(i) = r.id; wy(i) = r.wayId; ef(i) = r.from; et(i) = r.to
      gla(i) = r.glat; glo(i) = r.glon
      c10(i) = r.cost10; lm(i) = r.lenM; ow(i) = r.oneway
      val triples = wayToNames.getOrElse(wy(i), Array.empty)
      eln(i) = triples.map(_._1)
      elnF(i) = triples.map(_._2)
      elnT(i) = triples.map(_._3)
      i += 1
    }
    new CompactGraph(ids, ef, et, c10, lm, ow, wy, gla, glo, eln, restr,
      edgeLinesFrom = elnF, edgeLinesTo = elnT, turnCycleNodesIn = turnCycles)
  }
}
