package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.router._

/** Trip-trie solver: prefix sharing, arr/dep dual nodes with dwell
  * penalties, leaf sharing, exact-cost parity with the linear solve,
  * one-stop sequences as departure leaves (reference semantics:
  * TripTrie.tpp:36-105, Router.tpp:23-198). */
class TrieSpec extends AnyFunSuite {
  // A -- B -- C -- D chain + B -- E spur (same toy graph as RouterSpec)
  val coords = Map(
    1L -> (48.000, 7.800), 2L -> (48.000, 7.810), 3L -> (48.000, 7.820),
    4L -> (48.000, 7.830), 5L -> (48.010, 7.810))
  val segs = Seq(
    (1L, 2L, 10.0, 0, 100L), (2L, 3L, 6.0, 0, 150L),
    (3L, 4L, 100.0, 0, 160L), (2L, 5L, 7.0, 0, 200L))
  lazy val g = CompactGraph.fromSegments(segs, coords)
  val cfg = graft.osm.OsmConfig.bus

  def ts(stop: String, i: Int, arr: Int, dep: Int, lat: Double, lng: Double) =
    Matcher.TS(i, stop, arr, dep, lat, lng)

  // candidate map: stop X on e0@0.5, stop Y on e2@0.5 / e3@0.5, stop Z on e2@0.9
  val candMap: Map[String, Array[(Long, Double, Long, Double, Double, Int)]] = Map(
    "X" -> Array((0L, 0.5, 0L, 48.0, 7.805)).map(t => (t._1, t._2, t._3, t._4, t._5, 0)),
    "Y" -> Array((2L, 0.5, 0L, 48.0, 7.825)).map(t => (t._1, t._2, t._3, t._4, t._5, 0)),
    "E" -> Array((3L, 0.5, 0L, 48.005, 7.81)).map(t => (t._1, t._2, t._3, t._4, t._5, 0)))

  /** solveCluster with no routing attrs, as every test here calls it */
  def solve(seqs: (String, Array[Matcher.TS])*): Array[Matcher.SolvedSeq] =
    MatcherKernel.solveCluster("", "", Array.empty, seqs.toArray, g, candMap, cfg)

  /** every field of a solved sequence, comparable with == */
  def sig(s: Matcher.SolvedSeq) = (s.seq_key, s.lats.toSeq, s.lngs.toSeq, s.dists.toSeq,
    s.anchors.toSeq, s.hops.toSeq.map(h => (h.hop_idx, h.edge_ids.toSeq, h.reachable)),
    s.n_hops, s.n_unroutable, s.cost10)

  test("trie build: shared prefix merges, forest splits on first stop") {
    val seqA = Array(ts("X", 0, 0, 0, 48.0, 7.805), ts("Y", 1, 600, 600, 48.0, 7.825))
    val seqB = Array(ts("X", 0, 0, 0, 48.0, 7.805), ts("E", 1, 600, 600, 48.005, 7.81))
    val seqC = Array(ts("Y", 0, 0, 0, 48.0, 7.825), ts("X", 1, 600, 600, 48.0, 7.805))
    val forest = TrieSolver.buildForest(Array(
      ("a", seqA), ("b", seqB), ("c", seqC)))
    assert(forest.length == 2) // first stops X and Y
    val tx = forest.find(_.nodes(1).stopId == "X").get
    // root + shared dep(X) + arr(Y) + arr(E) = 4 nodes
    assert(tx.nodes.length == 4)
    assert(tx.leafSeqs.size == 2)
  }

  test("trie solve matches the linear solve exactly (zero dwell)") {
    val seq = Array(ts("X", 0, 0, 0, 48.0, 7.805), ts("Y", 1, 600, 600, 48.0, 7.825))
    val linear = solve(("k", seq))
    assert(linear.length == 1)
    // expected: 0.5*e0 + e1 + 0.5*e2 = 610 ds (RouterSpec's single-hop case)
    assert(linear(0).cost10 == 610L)
    assert(linear(0).hops(0).edge_ids.toSeq == Seq(0L, 1L, 2L))
  }

  test("two sequences with a shared prefix solve once and both get results") {
    val seqA = Array(ts("X", 0, 0, 0, 48.0, 7.805), ts("Y", 1, 600, 600, 48.0, 7.825))
    val seqB = Array(ts("X", 0, 0, 0, 48.0, 7.805), ts("E", 1, 600, 600, 48.005, 7.81))
    val out = solve(("a", seqA), ("b", seqB))
    assert(out.length == 2)
    val byKey = out.map(s => s.seq_key -> s).toMap
    assert(byKey("a").cost10 == 610L)
    assert(byKey("b").cost10 == 85L) // 0.5*e0 + 0.5*e3 = 50 + 35
  }

  test("same stops, different times: one leaf, shared geometry, averaged sched") {
    val seqA = Array(ts("X", 0, 0, 0, 48.0, 7.805), ts("Y", 1, 600, 600, 48.0, 7.825))
    val seqB = Array(ts("X", 0, 0, 0, 48.0, 7.805), ts("Y", 1, 1200, 1200, 48.0, 7.825))
    val forest = TrieSolver.buildForest(Array(("a", seqA), ("b", seqB)))
    assert(forest.length == 1 && forest.head.leafSeqs.size == 1)
    val arrY = forest.head.nodes.find(n => n.stopId == "Y" && n.arr).get
    assert(arrY.trips == 2 && math.abs(arrY.avgTime - 900.0) < 1e-9) // W4 averaging
    val out = solve(("a", seqA), ("b", seqB))
    assert(out.length == 2)
    assert(out(0).lats.toSeq == out(1).lats.toSeq &&
      out(0).lngs.toSeq == out(1).lngs.toSeq &&
      out(0).dists.toSeq == out(1).dists.toSeq) // shared shape
  }

  test("dwell penalty: arr->dep in-node transition pays timePen") {
    // 3 stops so Y is interior (arr+dep pair); 600 s dwell at Y
    // -> pen10 = ((600/300)^2)*10 = 40
    val noDwell = Array(
      ts("X", 0, 0, 0, 48.0, 7.805), ts("Y", 1, 600, 600, 48.0, 7.825),
      ts("E", 2, 1200, 1200, 48.005, 7.81))
    val dwell = Array(
      ts("X", 0, 0, 0, 48.0, 7.805), ts("Y", 1, 600, 1200, 48.0, 7.825),
      ts("E", 2, 1800, 1800, 48.005, 7.81))
    val a = solve(("a", noDwell))
    val b = solve(("b", dwell))
    assert(TrieSolver.dwellPen10(600.0) == 40L)
    assert(b(0).cost10 == a(0).cost10 + 40L)
  }

  test("a one-stop sequence solves as Viterbi.solve on its one layer") {
    // W: two candidates, the farther one cheaper; Q: no candidate at all
    val cm = candMap ++ Map(
      "W" -> Array((0L, 0.5, 30L, 48.0, 7.805, 0), (1L, 0.5, 10L, 48.0, 7.815, 0)))
    for ((stop, lat, lng) <- Seq(("W", 48.0, 7.81), ("Q", 48.002, 7.812))) {
      val one = Array(ts(stop, 0, 300, 360, lat, lng))
      val out = MatcherKernel.solveCluster("", "", Array.empty, Array(("s", one)), g, cm, cfg)
      val layers = Array(MatcherKernel.expandLayer(g, cm, stop, lat, lng))
      val ref = Viterbi.solve(g, layers, Array.empty[Double], (_, _) => 0L)
      val (lats, lngs, _, anchors, _, _) = MatcherKernel.materialize(g, cfg, layers, ref)
      assert(out.length == 1)
      val s = out(0)
      assert(s.lats.toSeq == lats.toSeq && s.lngs.toSeq == lngs.toSeq && s.lats.length == 1)
      assert(s.cost10 == ref.totalCost10 && s.n_hops == 0 && s.hops.isEmpty)
      assert(s.anchors.toSeq == anchors.toSeq && s.anchors.toSeq == Seq(0))
    }
    val w = MatcherKernel.solveCluster("", "", Array.empty,
      Array(("w", Array(ts("W", 0, 0, 0, 48.0, 7.81)))), g, cm, cfg)(0)
    assert(w.cost10 == 10L && w.lngs.toSeq == Seq(7.815)) // the min-pen snap
    val q = MatcherKernel.solveCluster("", "", Array.empty,
      Array(("q", Array(ts("Q", 0, 0, 0, 48.002, 7.812)))), g, cm, cfg)(0)
    assert(q.cost10 == MatcherKernel.NullCandPen10 && q.lats.toSeq == Seq(48.002))
  }

  test("a one-stop sequence beside a longer one leaves the longer one bit-equal") {
    // X is the first stop of both; Y has a dwell, so node times matter
    val long = Array(ts("X", 0, 100, 100, 48.0, 7.805), ts("Y", 1, 700, 1300, 48.0, 7.825),
      ts("E", 2, 1900, 1900, 48.005, 7.81))
    val one = Array(ts("X", 0, 5000, 5060, 48.0, 7.805))
    val alone = solve(("a", long))
    val both = solve(("a", long), ("s", one))
    assert(both.length == 2)
    val byKey = both.map(s => s.seq_key -> s).toMap
    assert(sig(byKey("a")) == sig(alone(0)))
    assert(sig(byKey("s")) == sig(solve(("s", one))(0)))
    assert(byKey("s").n_hops == 0 && byKey("s").anchors.toSeq == Seq(0))
  }
}
