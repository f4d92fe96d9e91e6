package graft.router

import scala.collection.mutable

import graft.geo.Geo

/** Trip-trie DAG solver — the reference's prefix-sharing TripTrie with
  * arrival/departure dual nodes and in-node transitions:
  *  - trie build: /root/reference/src/pfaedle/router/TripTrie.tpp:36-105
  *    (per stop an arrival node, then a departure node; matching children
  *    merge and accumulate time — the W4 averaging accTime/trips);
  *  - DAG solve: /root/reference/src/pfaedle/router/Router.tpp:23-198
  *    (arr->dep in-node transitions via depPrede — the identity mapping
  *    with the reference's time expansion disabled, timeExpand loops once,
  *    ShapeBuilder.cpp:845-860 — plus the dwell time penalty timePen,
  *    ShapeBuilder.cpp:835-843);
  *  - time expansion parity note: in the reference's DEFAULT config the
  *    timeEx retry (ShapeBuilder.cpp:845-860, with TripTrie.tpp:190-204
  *    requiring equal RELATIVE node times when enabled) loops exactly
  *    once with expansion off — which is what this solver implements:
  *    interior nodes average times across member sequences (W4), leaves
  *    are time-exact because the cluster key hashes the full relative
  *    arr/dep lattice (Matcher.tripStopsWithKey — trips differing in any
  *    relative time never share a seq_key). The timeEx=on variant (split
  *    tries until interior nodes are time-exact too) would correspond to
  *    keying tries by the full lattice instead of (line, first stop) —
  *    trading all prefix sharing for exactness the emission model rarely
  *    needs; not implemented, matching upstream defaults;
  *  - backtrace per leaf skipping in-node hops: Router.tpp:200-283.
  *
  * Sequences sharing a stop-sequence prefix relax each shared layer ONCE —
  * the reference's core clustering optimization beyond exact-duplicate
  * collapse (SURVEY 4.5).
  */
object TrieSolver {

  final class Node(val stopId: String, val lat: Double, val lng: Double,
                   val arr: Boolean, val parent: Int) {
    var accTime: Double = 0.0
    var trips: Int = 0
    val childs = mutable.ArrayBuffer[Int]()
    def avgTime: Double = if (trips == 0) 0.0 else accTime / trips
  }

  final class Trie {
    val nodes = mutable.ArrayBuffer[Node](new Node("", 0.0, 0.0, arr = false, parent = -1))
    /** leaf node -> seq keys whose full stop sequence ends there (the
      * reference's _ndTrips; trips landing on the same leaf share a shape) */
    val leafSeqs = mutable.LinkedHashMap[Int, mutable.ArrayBuffer[String]]()

    private def matchChild(parent: Int, stopId: String, arr: Boolean): Int = {
      val cs = nodes(parent).childs
      var i = 0
      while (i < cs.length) {
        val c = cs(i)
        if (nodes(c).arr == arr && nodes(c).stopId == stopId) return c
        i += 1
      }
      -1
    }

    private def step(parent: Int, st: Matcher.TS, relTime: Int, arr: Boolean): Int = {
      val m = matchChild(parent, st.stop_id, arr)
      if (m >= 0) {
        nodes(m).accTime += relTime; nodes(m).trips += 1
        m
      } else {
        val nd = new Node(st.stop_id, st.lat, st.lng, arr, parent)
        nd.accTime = relTime; nd.trips = 1
        nodes += nd
        nodes(parent).childs += (nodes.length - 1)
        nodes.length - 1
      }
    }

    /** add one stop sequence; times are made relative to the first
      * departure (TripTrie.tpp:40-44). A one-stop sequence ends on its
      * departure node: its leaf is one layer with no hop, and its relative
      * time 0 is every first departure's, so sharing the node changes no
      * other sequence's node times. */
    def add(seqKey: String, stops: Array[Matcher.TS]): Unit = {
      val t0 = stops(0).dep_s
      var cur = 0
      var i = 0
      while (i < stops.length) {
        val st = stops(i)
        if (i > 0) cur = step(cur, st, st.arr_s - t0, arr = true)
        if (i == 0 || i < stops.length - 1) cur = step(cur, st, st.dep_s - t0, arr = false)
        i += 1
      }
      leafSeqs.getOrElseUpdate(cur, mutable.ArrayBuffer()) += seqKey
    }
  }

  /** forest: one trie per distinct first stop — the reference rejects a
    * trip whose first stop diverges (TripTrie.tpp:94-96) and keeps a
    * forest per cluster (ShapeBuilder.cpp:862-937). */
  def buildForest(seqs: Array[(String, Array[Matcher.TS])]): Seq[Trie] =
    seqs.groupBy(_._2.head.stop_id).valuesIterator.map { group =>
      val t = new Trie
      group.foreach { case (k, stops) => t.add(k, stops) }
      t
    }.toSeq

  /** dwell time penalty in deciseconds: ((dwellSec)/300)^2 scaled x10 —
    * timePen with a 5-minute standard deviation (ShapeBuilder.cpp:835-843) */
  def dwellPen10(dwellSec: Double): Long =
    math.round((dwellSec / 300.0) * (dwellSec / 300.0) * 10.0)

  final case class LeafResult(seqKeys: Seq[String], layers: Array[Array[Cand]],
                              res: SolveResult)

  /** Solve one trie. layerOf supplies the emission candidate group for
    * arrival nodes and the first departure node; non-first departure nodes
    * mirror their arrival parent's group with the dwell penalty as the
    * only emission pen (getECM, ShapeBuilder.cpp:806-824: the dep twin's
    * pen is REASSIGNED to timePen — the snap pen was paid at arrival). */
  def solveTrie(g: CompactGraph, trie: Trie, layerOf: Node => Array[Cand],
                p: Viterbi.RelaxParams): Seq[LeafResult] = {
    val Inf = Dijkstra.Inf
    val n = trie.nodes.length
    val groups = new Array[Array[Cand]](n)
    val cost = new Array[Array[Long]](n)
    val pred = new Array[Array[Int]](n)
    val path = new Array[Array[Array[Int]]](n)

    def groupFor(ni: Int): Array[Cand] = {
      if (groups(ni) == null) {
        val nd = trie.nodes(ni)
        if (!nd.arr && nd.parent != 0) {
          val arrG = groupFor(nd.parent)
          val dp = dwellPen10(math.max(0.0, nd.avgTime - trie.nodes(nd.parent).avgTime))
          groups(ni) = arrG.map(c => c.copy(pen10 = dp))
        } else groups(ni) = layerOf(nd)
      }
      groups(ni)
    }

    // init the root children (first departure layers)
    val stack = mutable.Stack[Int]()
    trie.nodes(0).childs.foreach { c =>
      val gC = groupFor(c)
      cost(c) = gC.map(_.pen10)
      pred(c) = Array.fill(gC.length)(-1)
      path(c) = new Array[Array[Int]](gC.length)
      stack.push(c)
    }

    // DFS relaxation: each node has exactly one parent (a trie), so a
    // single visit finalizes its lattice row
    while (stack.nonEmpty) {
      val fr = stack.pop()
      val frNd = trie.nodes(fr)
      val frG = groupFor(fr)
      var ci = 0
      while (ci < frNd.childs.length) {
        val to = frNd.childs(ci)
        val toNd = trie.nodes(to)
        val toG = groupFor(to)
        if (cost(to) == null) {
          cost(to) = Array.fill(toG.length)(Inf)
          pred(to) = Array.fill(toG.length)(-1)
          path(to) = new Array[Array[Int]](toG.length)
        }
        if (frNd.arr && !toNd.arr) {
          // in-node arr->dep transition: identity depPrede (Router.tpp:68-81)
          var i = 0
          while (i < toG.length) {
            if (cost(fr)(i) < Inf) {
              val nc = cost(fr)(i) + toG(i).pen10
              if (nc < cost(to)(i)) {
                cost(to)(i) = nc; pred(to)(i) = i; path(to)(i) = null
              }
            }
            i += 1
          }
        } else {
          // routing hop: scheduled time from the trie's averaged node times
          val sched = math.max(1.0, toNd.avgTime - frNd.avgTime)
          val hopD = Geo.haversineM(frNd.lat, frNd.lng, toNd.lat, toNd.lng)
          Viterbi.relaxLayer(g, frG, toG, cost(fr), cost(to), pred(to),
            path(to), sched, hopD, p)
        }
        stack.push(to)
        ci += 1
      }
    }

    // backtrace per leaf (Router.tpp:200-283), skipping in-node hops
    trie.leafSeqs.toSeq.map { case (leaf, keys) =>
      val chainRev = mutable.ArrayBuffer[Int]()
      var cur = leaf
      while (cur != 0) { chainRev += cur; cur = trie.nodes(cur).parent }
      val chain = chainRev.reverse

      var best = 0; var bc = Inf
      var i = 0
      while (i < cost(leaf).length) {
        if (cost(leaf)(i) < bc) { bc = cost(leaf)(i); best = i }
        i += 1
      }
      val chosenAt = new Array[Int](chain.length)
      var idx = best
      var k = chain.length - 1
      while (k >= 0) {
        chosenAt(k) = idx
        idx = pred(chain(k))(idx)
        k -= 1
      }
      // hop endpoints: the first node (first dep) + every arrival node
      val hopK = chain.indices.filter(k2 => k2 == 0 || trie.nodes(chain(k2)).arr)
      val layers = hopK.map(k2 => groups(chain(k2))).toArray
      val chosen = hopK.map(k2 => chosenAt(k2)).toArray
      val hops = new Array[HopPath](math.max(0, hopK.length - 1))
      var h = 0
      while (h < hops.length) {
        val toNode = chain(hopK(h + 1))
        val toIdx = chosen(h + 1)
        val p0 = path(toNode)(toIdx)
        val edges = if (p0 == null) Array.empty[Int] else p0
        val frC = layers(h)(chosen(h)); val toC = layers(h + 1)(toIdx)
        hops(h) = HopPath(edges,
          if (frC.dirEdge >= 0) frC.progr else 0.0,
          if (toC.dirEdge >= 0) toC.progr else 0.0,
          reachable = edges.nonEmpty)
        h += 1
      }
      LeafResult(keys.toSeq, layers, SolveResult(chosen, hops, bc))
    }
  }
}
