package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.router._
import graft.geo.Geo

/** Exact-cost routing tests on a toy graph — semantics mirror the reference's
  * unit surface (/root/reference/src/pfaedle/tests/TestMain.cpp:47-307:
  * small graph, exact cost matrices, progression offsets, cutoff behavior). */
class RouterSpec extends AnyFunSuite {
  // A -- B -- C -- D chain + B -- E spur; costs in seconds.
  //  coordinates on a line so geometry is simple
  val coords = Map(
    1L -> (48.000, 7.800), 2L -> (48.000, 7.810), 3L -> (48.000, 7.820),
    4L -> (48.000, 7.830), 5L -> (48.010, 7.810))
  // (from, to, costSec, oneway, wayId)
  val segs = Seq(
    (1L, 2L, 10.0, 0, 100L), // e0 A-B (way 100)
    (2L, 3L, 6.0, 0, 150L),  // e1 B-C (way 150)
    (3L, 4L, 100.0, 0, 160L),// e2 C-D (way 160)
    (2L, 5L, 7.0, 0, 200L))  // e3 B-E (way 200)
  lazy val g = CompactGraph.fromSegments(segs, coords)

  def noPen: (Int, Int) => Long = (_, _) => 0L

  test("directed expansion and adjacency") {
    assert(g.numEdges == 4 && g.numNodes == 5)
    assert(g.dirFrom(0) == 1L && g.dirTo(0) == 2L)  // e0 fwd
    assert(g.dirFrom(1) == 2L && g.dirTo(1) == 1L)  // e0 rev
    assert(g.outDegree(2L) == 3) // B: ->A, ->C, ->E
  }

  test("1->N dijkstra exact costs (deciseconds)") {
    // source: e0 fwd (A->B, cost 100 ds), targets: e1 fwd end C, e2 fwd end D
    val ws = new RouterWorkspace(2 * g.numEdges)
    val reached = Dijkstra.oneToMany(g, ws, 0, 0L, Array(2, 4), Long.MaxValue / 8, noPen)
    assert(ws.costOf(0) == 100L)          // settle source: full e0
    assert(ws.costOf(2) == 100L + 60L)    // A->B->C
    assert(ws.costOf(4) == 100L + 60L + 1000L) // A->B->C->D
    assert(reached == 2)
    // path materialization
    assert(Dijkstra.path(ws, 0, 4).toSeq == Seq(0, 2, 4))
    // workspace reuse: a second call must fully reset state
    val reached2 = Dijkstra.oneToMany(g, ws, 0, 0L, Array(2), Long.MaxValue / 8, noPen)
    assert(reached2 == 1 && ws.costOf(2) == 160L && !ws.isSettled(4))
  }

  test("cutoff stops expansion") {
    val ws = new RouterWorkspace(2 * g.numEdges)
    val reached = Dijkstra.oneToMany(g, ws, 0, 0L, Array(4), 200L, noPen)
    assert(reached == 0)
    assert(!ws.isSettled(4))
  }

  test("oneway: wrong-way travel is penalized, not blocked (writeOneWayPens)") {
    val segsOw = segs.map { case (f, t, c, _, w) => (f, t, c, 1, w) } // all fwd-only
    val gw = CompactGraph.fromSegments(segsOw, coords)
    // from e1 fwd (B->C), back to A rides BOTH edges wrong-way: source e1
    // fwd (60) + e1 reverse (6s*5+300s)*10 = 3300 + e0 reverse
    // (10s*5+300s)*10 = 3500
    val ws = new RouterWorkspace(2 * gw.numEdges)
    val reached = Dijkstra.oneToMany(gw, ws, 2, 0L, Array(1), Long.MaxValue / 8, noPen)
    assert(reached == 1)
    assert(ws.costOf(1) == 60L + 3300L + 3500L)
    // with the right-way alternative present, the penalty steers around:
    // A->B then B->C direct (both legal) stays at base cost
    val ws2 = new RouterWorkspace(2 * gw.numEdges)
    Dijkstra.oneToMany(gw, ws2, 0, 0L, Array(2), Long.MaxValue / 8, noPen)
    assert(ws2.costOf(2) == 160L)
  }

  test("terminus U-turn is free; mid-graph U-turn penalized (writeSelfEdgs analog)") {
    // D is degree-1 (only e2 touches it): turning back there is free
    assert(!g.isFullTurn(4, 5, 58.0)) // e2 fwd (C->D) -> e2 rev at D
    // B has degree 3: U-turn on e0 there is a full turn
    assert(g.isFullTurn(0, 1, 58.0))  // e0 fwd (A->B) -> e0 rev at B
  }

  test("fixGaps merges sub-meter endpoint gaps (graph becomes routable)") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.{lit, array, struct}
    // two 2-edge chains; the right chain's west endpoint is ~0.55 m east
    // of the left chain's east endpoint (0.000005 deg lon at lat 48)
    val rows = Seq(
      (1L, 10L, 0, 1L, 2L, 48.0, 7.800, 48.0, 7.810, 745.0, 5, 0),
      (2L, 10L, 1, 2L, 3L, 48.0, 7.810, 48.0, 7.820, 745.0, 5, 0),
      (3L, 20L, 0, 4L, 5L, 48.0, 7.820005, 48.0, 7.830, 745.0, 5, 0),
      (4L, 20L, 1, 5L, 6L, 48.0, 7.830, 48.0, 7.840, 745.0, 5, 0))
    val edges = rows.toDF("edge_id", "way_id", "pos", "from_id", "to_id",
        "from_lat", "from_lon", "to_lat", "to_lon", "len_m", "lvl", "oneway")
      .withColumn("cost10", lit(100L))
      .withColumn("geom", array(
        struct($"from_lat".as("lat"), $"from_lon".as("lon")),
        struct($"to_lat".as("lat"), $"to_lon".as("lon"))))
    val fixed = graft.osm.GraphBuilder.fixGaps(edges, toleranceM = 1.0)
    val g2 = CompactGraph.fromEdges(fixed,
      spark.emptyDataFrame.selectExpr("CAST(1 AS LONG) via_node",
        "CAST(1 AS LONG) from_way", "CAST(1 AS LONG) to_way", "true positive").limit(0))
    // node 4 merged into node 3 -> one component, route end to end
    assert(g2.compOfNode(1L) == g2.compOfNode(6L))
    // geometry endpoint follows the merged node
    val merged = fixed.filter($"edge_id" === 3L).head()
    assert(merged.getAs[Long]("from_id") == 3L)
    assert(math.abs(merged.getAs[Double]("from_lon") - 7.820) < 1e-9)
    // a 5 m gap must NOT merge
    val far = rows.map { case r @ (id, w, p, f, t, fla, flo, tla, tlo, l, lv, ow) =>
      if (id == 3L) (id, w, p, f, t, fla, 7.820070, tla, tlo, l, lv, ow) else r }
    val edgesFar = far.toDF("edge_id", "way_id", "pos", "from_id", "to_id",
        "from_lat", "from_lon", "to_lat", "to_lon", "len_m", "lvl", "oneway")
      .withColumn("cost10", lit(100L))
      .withColumn("geom", array(
        struct($"from_lat".as("lat"), $"from_lon".as("lon")),
        struct($"to_lat".as("lat"), $"to_lon".as("lon"))))
    val fixedFar = graft.osm.GraphBuilder.fixGaps(edgesFar, toleranceM = 1.0)
    assert(fixedFar.filter($"edge_id" === 3L).head().getAs[Long]("from_id") == 4L)
  }

  test("turn restriction forbids via transition, detour via U-turn works") {
    // forbid way 100 -> way 200 at node B
    val gr = CompactGraph.fromSegments(segs, coords, Seq((2L, 100L, 200L, false)))
    val pen: (Int, Int) => Long = (f, t) =>
      if (!gr.mayTurn(gr.dirTo(f), f, t)) -1L else 0L
    val ws = new RouterWorkspace(2 * gr.numEdges)
    val reached = Dijkstra.oneToMany(gr, ws, 0, 0L, Array(6), Long.MaxValue / 8, pen)
    // direct turn blocked; cheapest legal: A->B, B->C, C->B (U-turn onto
    // way 150), then 150->200 at B is unrestricted: 100+60+60+70 ds
    assert(reached == 1 && ws.costOf(6) == 100L + 60L + 60L + 70L)
    assert(Dijkstra.path(ws, 0, 6).toSeq == Seq(0, 2, 3, 6))
  }

  test("positive (only_) restriction allows only listed turn") {
    val gr = CompactGraph.fromSegments(segs, coords, Seq((2L, 100L, 150L, true)))
    // from way 100 at B, ONLY way 150 is allowed
    assert(gr.mayTurn(2L, 0, 2))  // e0 fwd -> e1 fwd (100 -> 150) listed
    assert(!gr.mayTurn(2L, 0, 6)) // e0 fwd -> e3 fwd (100 -> 200) blocked
    assert(gr.mayTurn(2L, 3, 6))  // from way 150 no rule -> allowed
    assert(gr.mayTurn(3L, 2, 4))  // rules at other nodes unaffected
  }

  test("viterbi: single-hop exact cost with progression offsets") {
    // stop X snaps to e0 at progr 0.5; stop Y snaps to e2 at progr 0.5
    // expected hop cost: 0.5*e0 + e1 + 0.5*e2 = 50 + 60 + 500 = 610 ds
    val cands = Array(
      Array(Cand(0, 0.5, 0L, 48.0, 7.805)),
      Array(Cand(4, 0.5, 0L, 48.0, 7.825)))
    val res = Viterbi.solve(g, cands, Array(600.0), noPen)
    assert(res.totalCost10 == 610L)
    assert(res.hops(0).edges.toSeq == Seq(0, 2, 4))
    assert(res.hops(0).reachable)
  }

  test("viterbi picks cheaper of two candidate chains") {
    // stop Y has two candidates: on e2 (via 100s edge) and on e3 (via 7s edge)
    val cands = Array(
      Array(Cand(0, 0.5, 0L, 48.0, 7.805)),
      Array(Cand(4, 0.5, 0L, 48.0, 7.825),   // 50+60+500 = 610
            Cand(6, 0.5, 0L, 48.005, 7.81))) // 50+35 = 85
    val res = Viterbi.solve(g, cands, Array(600.0), noPen)
    assert(res.bestCands(1) == 1)
    assert(res.totalCost10 == 85L)
  }

  test("viterbi: emission penalties shift the choice") {
    val cands = Array(
      Array(Cand(0, 0.5, 0L, 48.0, 7.805)),
      Array(Cand(4, 0.5, 0L, 48.0, 7.825),
            Cand(6, 0.5, 600L, 48.005, 7.81))) // +60 s penalty: 85+600=685 > 610
    val res = Viterbi.solve(g, cands, Array(600.0), noPen)
    assert(res.bestCands(1) == 0)
    assert(res.totalCost10 == 610L)
  }

  test("viterbi: unroutable hop falls back, does not dead-end") {
    // two disconnected sub-graphs
    val coords2 = coords ++ Map(10L -> (49.0, 8.0), 11L -> (49.0, 8.01))
    val g2 = CompactGraph.fromSegments(segs :+ ((10L, 11L, 5.0, 0, 300L)), coords2)
    val cands = Array(
      Array(Cand(0, 0.5, 0L, 48.0, 7.805)),
      Array(Cand(8, 0.5, 0L, 49.0, 8.005))) // e4 in the other component
    val res = Viterbi.solve(g2, cands, Array(60.0), noPen)
    assert(res.hops(0).edges.isEmpty && !res.hops(0).reachable)
    // comp shortcut must prevent any dijkstra iterations for this hop
  }

  test("viterbi: real path found at deep retry beats the fallback ladder") {
    // hop cost 4660 ds lies in (2x, 8x] of the base cutoff 1800 ds
    // (sched 60 s): only the 2nd doubling finds it. The fallback must NOT
    // win (r1 priced a per-pair fallback at 2x base, shadowing real paths
    // found at 4x/8x and emitting them as unreachable straight lines).
    val segsSlow = Seq(
      (1L, 2L, 10.0, 0, 100L), (2L, 3L, 6.0, 0, 150L),
      (3L, 4L, 450.0, 0, 160L))
    val gs = CompactGraph.fromSegments(segsSlow, coords)
    val cands = Array(
      Array(Cand(0, 0.0, 0L, 48.0, 7.80)),
      Array(Cand(4, 1.0, 0L, 48.0, 7.83)))
    val res = Viterbi.solve(gs, cands, Array(60.0), noPen)
    assert(res.hops(0).reachable, "deep-retry path must be found")
    assert(res.totalCost10 == 4660L)
    assert(res.hops(0).edges.toSeq == Seq(0, 2, 4))
  }

  test("viterbi: transition penalty scales hop cost, not emission pens") {
    val cands = Array(
      Array(Cand(0, 0.5, 30L, 48.0, 7.805)),
      Array(Cand(4, 0.5, 40L, 48.0, 7.825)))
    val res = Viterbi.solve(g, cands, Array(600.0), noPen, transitionPenalty = 2.0)
    // 30 (pen) + 2 * 610 (hop) + 40 (pen) = 1290
    assert(res.totalCost10 == 30L + 1220L + 40L)
  }

  test("viterbi: normdistr transition weight") {
    val cands = Array(
      Array(Cand(0, 0.5, 0L, 48.0, 7.805)),
      Array(Cand(4, 0.5, 0L, 48.0, 7.825)))
    val res = Viterbi.solve(g, cands, Array(600.0), noPen, transModel = "normdistr")
    // t = 61 s, t0 = 600 s: w10 = round(((61/600 - 1)^2) * 10 + 610) = 618
    val cNorm = 61.0 / 600.0 - 1.0
    assert(res.totalCost10 == math.round(cNorm * cNorm * 10.0 + 610.0))
  }

  test("viterbi: distdiff transition weight uses traveled vs straight dist") {
    val cands = Array(
      Array(Cand(0, 0.0, 0L, 48.000, 7.800)),
      Array(Cand(4, 1.0, 0L, 48.000, 7.830)))
    // path A->B->C->D along the straight line: traveled == straight dist
    val hopD = Geo.haversineM(48.000, 7.800, 48.000, 7.830)
    val res = Viterbi.solve(g, cands, Array(600.0), noPen,
      hopDistM = Array(hopD), transModel = "distdiff")
    // |d - d0| ~ 0 -> weight ~ 0; pens are 0
    assert(res.hops(0).reachable)
    assert(res.totalCost10 <= 10L, s"got ${res.totalCost10}")
  }

  test("hop memo is scoped per graph instance (no cross-graph reuse)") {
    HopCache.clear()
    // identical topology/indices, different costs: without the graph token
    // in the key the second solve would reuse the first graph's cached hop
    val gA = CompactGraph.fromSegments(segs, coords)
    val segsB = segs.map { case (f, t, c, o, w) => (f, t, c * 2, o, w) }
    val gB = CompactGraph.fromSegments(segsB, coords)
    val cands = Array(
      Array(Cand(0, 0.5, 0L, 48.0, 7.805)),
      Array(Cand(4, 0.5, 0L, 48.0, 7.825)))
    val ctxA = HopCache.mixCtx(gA.token, 0L, Seq("L1"))
    val ctxB = HopCache.mixCtx(gB.token, 0L, Seq("L1"))
    val rA = Viterbi.solve(gA, cands, Array(600.0), noPen, cacheCtx = ctxA)
    val rB = Viterbi.solve(gB, cands, Array(600.0), noPen, cacheCtx = ctxB)
    assert(rA.totalCost10 == 610L)
    assert(rB.totalCost10 == 1220L)
  }

  test("connected components") {
    val coords2 = coords ++ Map(10L -> (49.0, 8.0), 11L -> (49.0, 8.01))
    val g2 = CompactGraph.fromSegments(segs :+ ((10L, 11L, 5.0, 0, 300L)), coords2)
    assert(g2.compOfNode(1L) == g2.compOfNode(4L))
    assert(g2.compOfNode(1L) != g2.compOfNode(10L))
  }

  test("full turn detection: U-turn and sharp angle") {
    assert(g.isFullTurn(0, 1, 58.0))   // e0 fwd -> e0 rev = U-turn
    assert(!g.isFullTurn(0, 2, 58.0))  // straight on
  }
  test("hopsFast N->N layer pass matches the per-source slow path exactly (G5)") {
    // 3 sources x 3 targets with distinct progr offsets and pens — enough
    // real sources to trigger the fast pass (fastMinSources = 3)
    val layer0 = Array(
      Cand(0, 0.25, 5L, 48.0, 7.8025),   // on e0 fwd
      Cand(2, 0.10, 0L, 48.0, 7.811),    // on e1 fwd
      Cand(6, 0.50, 3L, 48.005, 7.81))   // on e3 fwd
    val layer1 = Array(
      Cand(4, 0.50, 0L, 48.0, 7.825),    // on e2 fwd
      Cand(6, 0.90, 7L, 48.009, 7.81),   // on e3 fwd
      Cand(2, 0.80, 2L, 48.0, 7.818))    // on e1 fwd (same-edge pairs exist)
    val cands = Array(layer0, layer1)
    def solveBoth(): (SolveResult, SolveResult) = {
      HopCache.clear()
      val slow = Viterbi.solve(g, cands, Array(600.0), noPen,
        fastMinSources = Int.MaxValue)        // slow reference
      HopCache.clear()
      val fast = Viterbi.solve(g, cands, Array(600.0), noPen,
        fastMinSources = 3)                   // fast path
      (slow, fast)
    }
    val (slow, fast) = solveBoth()
    assert(fast.totalCost10 == slow.totalCost10)
    assert(fast.bestCands.toSeq == slow.bestCands.toSeq)
    assert(fast.hops.map(_.edges.toSeq).toSeq == slow.hops.map(_.edges.toSeq).toSeq)
    // and a second fast run must serve from the layer memo with the same result
    val m0 = HopCache.Hits.sum()
    val fast2 = Viterbi.solve(g, cands, Array(600.0), noPen)
    assert(fast2.totalCost10 == fast.totalCost10)
    assert(HopCache.Hits.sum() > m0, "second fast solve should hit the layer memo")
  }

  test("G5: overflow seeds (poisoned lattice) are excluded from the N->N heap and still priced") {
    // two components: A-B-C-D/E chain (comp 0) and X-Y (comp 1). One
    // layer-0 cand is fallback-poisoned (pen ~6e17 deciseconds, the
    // Inf/200*100 scale) — its RELATIVE init overflows the 32-bit packed
    // heap, so pre-fix the N->N pass silently dropped it and the only
    // target reachable from it fell to the fallback ladder.
    val coords2 = coords ++ Map(10L -> (49.0, 8.0), 11L -> (49.0, 8.01))
    val segs2 = segs ++ Seq((10L, 11L, 5.0, 0, 300L)) // e4 X-Y, comp 1
    val g2 = CompactGraph.fromSegments(segs2, coords2)
    val poison = 600000000000000000L // ~Inf/200*100 scale
    val layer0 = Array(
      Cand(0, 0.1, 0L, 48.0, 7.801),      // e0 fwd (comp 0)
      Cand(2, 0.1, 5L, 48.0, 7.811),      // e1 fwd (comp 0)
      Cand(8, 0.1, poison, 49.0, 8.001))  // e4 fwd (comp 1), poisoned
    val layer1 = Array(
      Cand(4, 0.5, 0L, 48.0, 7.825),      // e2 fwd (comp 0)
      Cand(8, 0.9, 0L, 49.0, 8.009))      // e4 fwd (comp 1): only the
                                          // poisoned source reaches this
    val cands = Array(layer0, layer1)
    def run(fastMin: Int): SolveResult = {
      HopCache.clear()
      Viterbi.solve(g2, cands, Array(600.0), noPen, fastMinSources = fastMin)
    }
    val slow = run(Int.MaxValue)
    val fast = run(3)
    assert(fast.totalCost10 == slow.totalCost10)
    assert(fast.bestCands.toSeq == slow.bestCands.toSeq)
    // the comp-1 target was really priced through the overflow source:
    // same-edge special case, (0.9-0.1)*50ds on e4
    val t2 = Array(Array(layer0(2)), Array(layer1(1)))
    val only = run(1) // single source: slow path, ground truth
    assert(only.totalCost10 < Dijkstra.Inf)
    val t2fast = { HopCache.clear(); Viterbi.solve(g2, t2, Array(600.0), noPen) }
    assert(t2fast.totalCost10 == poison + 40L)
  }

  test("G5 property: randomized hopsFast vs per-source parity (cost-exact)") {
    // random 4x4 grid worlds x random layered lattices: the N->N pass with
    // its residual/overflow masks must price every layer exactly like the
    // per-source pass (expo model, transitionPenalty 1). Costs are drawn
    // from a wide range so equal-cost pred ties (where the two passes may
    // legitimately pick different but equally-cheap predecessors) are
    // vanishingly unlikely; totals and chosen candidates are asserted.
    val rnd = new scala.util.Random(4242)
    for (iter <- 0 until 25) {
      val n = 4
      def nid(r: Int, c: Int): Long = (r * n + c + 1).toLong
      val gridCoords = (for (r <- 0 until n; c <- 0 until n)
        yield nid(r, c) -> (48.0 + r * 0.002, 7.8 + c * 0.002)).toMap
      val gridSegs = scala.collection.mutable.ArrayBuffer[(Long, Long, Double, Int, Long)]()
      for (r <- 0 until n; c <- 0 until n) {
        if (c + 1 < n) gridSegs += ((nid(r, c), nid(r, c + 1),
          1.0 + rnd.nextInt(100000) / 100.0, rnd.nextInt(3) match { case 2 => 0; case x => x }, 500L + r))
        if (r + 1 < n) gridSegs += ((nid(r, c), nid(r + 1, c),
          1.0 + rnd.nextInt(100000) / 100.0, 0, 600L + c))
      }
      val gg = CompactGraph.fromSegments(gridSegs.toSeq, gridCoords)
      val nLayers = 2 + rnd.nextInt(3)
      val cands: Array[Array[Cand]] = Array.tabulate(nLayers) { _ =>
        val nc = 2 + rnd.nextInt(4)
        val edges = rnd.shuffle((0 until gg.numEdges).toList).take(nc)
        edges.map { e =>
          val de = 2 * e + rnd.nextInt(2)
          val (la, lo) = gridCoords(gg.dirTo(de))
          Cand(de, rnd.nextDouble(), rnd.nextInt(1000000).toLong, la, lo)
        }.toArray
      }
      val sched = Array.fill(nLayers - 1)(60.0 + rnd.nextInt(600))
      def run(fastMin: Int): SolveResult = {
        HopCache.clear()
        Viterbi.solve(gg, cands, sched, noPen, fastMinSources = fastMin)
      }
      val slow = run(Int.MaxValue)
      val fast = run(2)
      assert(fast.totalCost10 == slow.totalCost10,
        s"iter $iter: fast ${fast.totalCost10} != slow ${slow.totalCost10}")
      assert(fast.bestCands.toSeq == slow.bestCands.toSeq, s"iter $iter pred divergence")
    }
  }

  test("G2 from/to line-factor split: same short name, wrong terminals loses (Weights.cpp:93-118)") {
    // two parallel equal-cost chains B->C: e1 (way 150) and a twin via E
    // (e3+e4). Both carry line "L1", but e1's relation says X->Y while the
    // twin's says P->Q. A trip on L1 from "X" to "Y" must prefer e1; with
    // no from/to attrs the twin (cheaper base cost 6+6=12 > 6... use equal)
    val coords2 = coords + (6L -> (48.005, 7.815))
    val segs2 = Seq(
      (1L, 2L, 10.0, 0, 100L),  // e0 A-B (no line)
      (2L, 3L, 20.0, 0, 150L),  // e1 B-C direct, line L1 X->Y
      (2L, 6L, 8.0, 0, 210L),   // e2 B-F \  twin, line L1 P->Q
      (6L, 3L, 8.0, 0, 210L),   // e3 F-C /   (base cost 16 < 20: wins raw)
      (3L, 4L, 10.0, 0, 160L))  // e4 C-D (no line; equal tail for both)
    val lines = Map(
      1 -> Seq(("L1", "X", "Y")),
      2 -> Seq(("L1", "P", "Q")),
      3 -> Seq(("L1", "P", "Q")))
    val g2 = CompactGraph.fromSegments(segs2, coords2, edgeLineTriples = lines)
    val cfg = graft.osm.OsmConfig.bus.copy(
      lineFromUnmatchedPenaltyFactor = 0.5, lineToUnmatchedPenaltyFactor = 0.5)
    val cands = Array(
      Array(Cand(0, 1.0, 0L, 48.0, 7.810)),   // at B, end of e0
      Array(Cand(8, 0.5, 0L, 48.0, 7.825)))   // mid e4 past C
    def route(fromName: String, toNames: Array[String]): Set[Long] = {
      HopCache.clear()
      val p = graft.router.MatcherKernel.relaxParams(g2, cfg, "L1", fromName, toNames)
      val res = Viterbi.solve(g2, cands, Array(600.0), p.turnPen10,
        cutoffFactor = p.cutoffFactor, cacheCtx = p.cacheCtx)
      res.hops(0).edges.map(de => g2.edgeIds(de >> 1)).toSet
    }
    // without terminal attrs the twin's lower base cost wins
    assert(route("", Array.empty) == Set(0L, 2L, 3L, 4L))
    // with X->Y attrs the twin pays from+to surcharges and loses
    assert(route("X", Array("Y")) == Set(0L, 1L, 4L))
  }

  test("U1 config-driven normalizer chains change station similarity") {
    import graft.functions.StringSim
    // default chain: "Hauptbahnhof" vs "Hbf." are NOT equal
    assert(!StringSim.stationsSimilar("Hauptbahnhof", "Hbf.", 500.0))
    // a config chain mapping the abbreviation makes them equal
    val cfg = graft.osm.OsmConfig.bus.copy(stationNormRules =
      graft.osm.OsmConfig.DefaultStationNormRules ++ Seq("\\bhbf\\b\\.?" -> "hauptbahnhof"))
    assert(StringSim.stationsSimilar("Hauptbahnhof", "Hbf.", 500.0, cfg.stationNorm))
    // and the chain feeds StationSnap similarity too
    assert(graft.osm.StationSnap.stationSimi("Hauptbahnhof", "Hbf.", 500.0,
      cfg.stationNorm) == 1.0)
  }

}
