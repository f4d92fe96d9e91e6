package graft.router

import graft.geo.Geo

/** One snap candidate of a stop onto a directed edge — the reference's
  * EdgeCand (/root/reference/src/pfaedle/router/Misc.h:27-34). progr is the
  * position along the DIRECTED edge in [0,1]; pen10 the emission penalty in
  * deciseconds. dirEdge == -1 is the null placeholder candidate
  * (ShapeBuilder.cpp:171-173) used when a stop has no snap. */
final case class Cand(dirEdge: Int, progr: Double, pen10: Long,
                      pLat: Double, pLon: Double)

/** Result of a layered solve: per hop the directed-edge path and partial
  * progress on first/last edge; cost for stats. */
final case class HopPath(edges: Array[Int], progrStart: Double, progrEnd: Double,
                         reachable: Boolean)
final case class SolveResult(bestCands: Array[Int], hops: Array[HopPath], totalCost10: Long)

/** Layered Viterbi DAG solve over stop layers — the reference's Router
  * (/root/reference/src/pfaedle/router/Router.tpp:23-280): for each adjacent
  * stop layer compute an n x m hop-cost matrix via 1->N edge Dijkstra
  * (Router.tpp:284-430 "hops"), apply the transition-weight model, relax
  * cost[to] = min(cost[fr] + pen[to] + w(hop)), backtrace.
  *
  * Cutoff-doubling is LAYER-level (Router.tpp:96-148): the whole n x m
  * matrix is retried at doubled cutoff (<= 3 steps) until any pair relaxes;
  * only if NOTHING in the layer was found does the fallback ladder fire
  * (Router.tpp:150-180): null candidates get cost + finalCutoff*100, real
  * candidates get zero-hop "dummy edges" (pen only, path empty). A found
  * real path therefore always beats the fallback — r1 priced a per-pair
  * fallback at 2x base cutoff, which silently beat real paths found at the
  * 4x/8x retry depths.
  */
object Viterbi {
  val MaxDoublingSteps = 3
  /** ExpoTransWeight.maxCost (Weights.cpp:189-196): cutoff10 =
    * ceil(max(hopTimeSec, 60) * 3 * punishFactor * 10). */
  def maxHopCost10(hopTimeSec: Double, punishFactor: Double = 1.0): Long =
    math.ceil(math.max(hopTimeSec, 60.0) * 3.0 * punishFactor * 10.0).toLong

  /** Transition-weight models (Weights.cpp:175-259, Weights.h:25-156),
    * returning deciseconds-scaled weights (w10 = round(wSeconds * 10)):
    *  - expo:      w = transitionPen * c/10            (ExpoTransWeight)
    *  - normdistr: w = ((t/t0 - 1))^2 + expo, inf if t0<0, t0>=10s
    *  - distdiff:  w = transitionPen * |d - d0| meters (needs distances,
    *               no cutoff)
    */
  def transWeight10(model: String, transitionPen: Double, hop10: Long,
                    distM: Double, schedSec: Double, hopDistM: Double): Long =
    model match {
      case "normdistr" =>
        if (schedSec < 0) Dijkstra.Inf
        else {
          val t0 = math.max(10.0, schedSec)
          val cNorm = (hop10 / 10.0) / t0 - 1.0
          math.round(cNorm * cNorm * 10.0 + transitionPen * hop10)
        }
      case "distdiff" =>
        math.round(transitionPen * math.abs(distM - hopDistM) * 10.0)
      case _ => // expo
        math.round(transitionPen * hop10)
    }

  /** The per-layer knobs shared by the linear solve and the trie solve.
    * @param fastMinSources minimum real sources for the hopsFast N->N
    *        pass — below this the per-source memoized path wins
    *        (finer-grained cross-layer reuse). Tests pass Int.MaxValue to
    *        compare both paths exactly. */
  final case class RelaxParams(turnPen10: (Int, Int) => Long,
                               vmaxMs: Double = 85.0 / 3.6,
                               transitionPenalty: Double = 1.0,
                               transModel: String = "expo",
                               cutoffFactor: Double = 1.0,
                               cacheCtx: Long = 0L,
                               fastMinSources: Int = 3)

  /** Relax ONE from->to layer pair in place (hop matrix + doubling +
    * fallback ladder): costTo/predTo/pathTo are updated for every to-cand
    * whose best predecessor improved. The reusable core of both the linear
    * chain solve and the trip-trie DAG solve. */
  def relaxLayer(g: CompactGraph,
                 from: Array[Cand], to: Array[Cand],
                 costFr: Array[Long], costTo: Array[Long],
                 predTo: Array[Int], pathTo: Array[Array[Int]],
                 schedSecHop: Double, hopDistHopM: Double,
                 p: RelaxParams): Unit = {
    val Inf = Dijkstra.Inf
    val needDist = p.transModel == "distdiff"

    // hop time: scheduled, floored by straight-line dist / fastest source
    // component speed (Router.tpp:57-72 maxSpeed + minTime)
    val hopTime = {
      var t = schedSecHop
      if (hopDistHopM > 0) {
        var maxV = 0.0
        var fi = 0
        while (fi < from.length) {
          if (from(fi).dirEdge >= 0) {
            val v = g.compMaxSpeed(g.compOfDir(from(fi).dirEdge))
            if (v > maxV) maxV = v
          }
          fi += 1
        }
        if (maxV > 0 && hopDistHopM / maxV > t) t = hopDistHopM / maxV
      }
      t
    }
    val baseCutoff =
      if (needDist) Inf / 2 else maxHopCost10(hopTime, p.cutoffFactor)

      // A* heuristic (reference Weights.cpp:15-62): centroid of the target
      // candidates + the max centroid->target distance keeps it admissible
      // AND consistent; h(target) = 0 so cutoff termination stays exact.
      var ctLat = 0.0; var ctLon = 0.0; var nT = 0
      var ti0 = 0
      while (ti0 < to.length) {
        if (to(ti0).dirEdge >= 0) { ctLat += to(ti0).pLat; ctLon += to(ti0).pLon; nT += 1 }
        ti0 += 1
      }
      val heur: Int => Long = if (nT == 0) null else {
        ctLat /= nT; ctLon /= nT
        var maxCentD = 0.0
        // vmax: fastest edge among the TARGET components (reference's
        // per-component maxSpeed, NodePL.h:23-25) — a reachable path stays
        // within the source=target component, so this stays admissible
        var vmax = 1.0
        var ti1 = 0
        while (ti1 < to.length) {
          if (to(ti1).dirEdge >= 0) {
            val d = Geo.approxDistM(ctLat, ctLon, to(ti1).pLat, to(ti1).pLon)
            if (d > maxCentD) maxCentD = d
            val v = g.compMaxSpeed(g.compOfDir(to(ti1).dirEdge))
            if (v > vmax) vmax = v
          }
          ti1 += 1
        }
        val cLat = ctLat; val cLon = ctLon; val mcd = maxCentD
        val vm = math.min(vmax, p.vmaxMs)
        (de: Int) => {
          val d = Geo.approxDistM(g.dirToLat(de), g.dirToLon(de), cLat, cLon) - mcd
          if (d <= 0) 0L else (d / vm * 10.0).toLong
        }
      }
      // targets: real candidate edges of the next layer (hoisted: shared
      // by every source candidate of this layer)
      val targets = to.collect { case c if c.dirEdge >= 0 => c.dirEdge }
      val tHash = HopCache.targetsHash(targets)

      // ---- per-source pass (memoized 1->N Dijkstras), optionally
      // restricted to a target mask (the hopsFast residual fill-in) ----
      def slowPass(cutoff: Long, onlyTarget: Array[Boolean],
                   onlySource: Array[Boolean] = null): Boolean = {
        var foundL = false
        var fr = 0
        while (fr < from.length) {
          val fc = from(fr)
          if ((onlySource == null || onlySource(fr)) &&
              costFr(fr) < Inf && fc.dirEdge >= 0 && targets.nonEmpty) {
            // init cost: remaining part of the source edge after progr —
            // Router.tpp progression offset math, in deciseconds.
            // Dijkstra pays the FULL source edge cost, so subtract the
            // consumed part: init = -progr * cost(e).
            val srcCost = g.dirCost10(fc.dirEdge)
            val init = -math.min(srcCost, math.round(fc.progr * srcCost))
            // comp shortcut (Router.tpp:329-331): if all targets in other
            // components, skip the search entirely
            val srcComp = g.compOfDir(fc.dirEdge)
            var anySameComp = false
            var ti = 0
            while (ti < targets.length && !anySameComp) {
              if (g.compOfDir(targets(ti)) == srcComp) anySameComp = true
              ti += 1
            }
            if (anySameComp) {
              // hop-cost memo (reference HopCache + cross-trie reuse):
              // the same (source cand, target set, cutoff) repeats across
              // thousands of trip patterns. getOrCompute dedups concurrent
              // identical computations (cold-memo stampede at high thread
              // counts); the closure takes its own thread-local workspace
              // because it may run on whichever thread reaches the entry
              // first.
              val key = HopCache.Key(p.cacheCtx, fc.dirEdge,
                math.round(fc.progr * 10000).toInt, cutoff, tHash)
              val hv = HopCache.getOrCompute(g.epoch, key, targets, () => {
                val cws = WorkspacePool.get(2 * g.numEdges)
                Dijkstra.oneToMany(g, cws, fc.dirEdge, init, targets,
                  cutoff, p.turnPen10, heur)
                val costs = new Array[Long](targets.length)
                val paths = new Array[Array[Int]](targets.length)
                var i = 0
                while (i < targets.length) {
                  val td = targets(i)
                  if (cws.isSettled(td)) {
                    costs(i) = cws.costOf(td)
                    paths(i) = Dijkstra.path(cws, fc.dirEdge, td)
                  } else costs(i) = Inf
                  i += 1
                }
                HopCache.Val(targets, costs, paths)
              })
              var t2 = 0
              while (t2 < to.length) {
                val tc = to(t2)
                if (tc.dirEdge >= 0 && (onlyTarget == null || onlyTarget(t2))) {
                  // index of this cand's edge in the target array
                  var ti2 = 0
                  while (ti2 < targets.length && targets(ti2) != tc.dirEdge) ti2 += 1
                  var path: Array[Int] = null
                  var hop = Inf
                  if (tc.dirEdge == fc.dirEdge) {
                    // same-edge special case: directly along one edge;
                    // backwards on a directed edge stays unreachable (the
                    // Dijkstra self-cost would clamp it to 0)
                    if (tc.progr >= fc.progr) {
                      hop = math.round((tc.progr - fc.progr) * srcCost)
                      path = Array(fc.dirEdge)
                    }
                  } else if (hv.costs(ti2) < Inf) {
                    // subtract un-traversed tail of the target edge
                    val tgtCost = g.dirCost10(tc.dirEdge)
                    hop = hv.costs(ti2) -
                      math.min(tgtCost, math.round((1.0 - tc.progr) * tgtCost))
                    if (hop < 0) hop = 0
                    path = hv.paths(ti2)
                  }
                  if (hop < Inf) {
                    // transition weight on the raw hop cost (G6)
                    val distM =
                      if (!needDist) 0.0
                      else pathDistM(g, path, fc.progr, tc.progr)
                    val w = transWeight10(p.transModel, p.transitionPenalty, hop,
                      distM, schedSecHop, hopDistHopM)
                    if (w < Inf) {
                      val total = costFr(fr) + w + tc.pen10
                      if (total < costTo(t2)) {
                        costTo(t2) = total
                        predTo(t2) = fr
                        pathTo(t2) = path
                        foundL = true
                      }
                    }
                  }
                }
                t2 += 1
              }
            }
          }
          fr += 1
        }
        foundL
      }

      // ---- hopsFast N->N pass (Router.tpp:434-526): ONE multi-source
      // Dijkstra per layer, each source seeded with its lattice cost as an
      // init offset, memoized at layer granularity on RELATIVE costs.
      // Exact for the expo model at transitionPenalty 1 (w == hop): every
      // case where the N->N winner could diverge from the per-source pass
      // (self-won target, per-source cutoff exceeded, active hop>=0 clamp,
      // 32-bit init overflow) is routed through the per-source pass via
      // the residual/overflow masks instead of being approximated —
      // RouterSpec's randomized parity property pins this. ----
      def fastPass(cutoff: Long): Boolean = {
        var foundL = false
        // scalar same-edge pairs (the special case of the slow path)
        var t2 = 0
        while (t2 < to.length) {
          val tc = to(t2)
          if (tc.dirEdge >= 0) {
            var fr = 0
            while (fr < from.length) {
              val fc = from(fr)
              if (fc.dirEdge == tc.dirEdge && costFr(fr) < Inf && tc.progr >= fc.progr) {
                val srcCost = g.dirCost10(fc.dirEdge)
                val total = costFr(fr) +
                  math.round((tc.progr - fc.progr) * srcCost) + tc.pen10
                if (total < costTo(t2)) {
                  costTo(t2) = total; predTo(t2) = fr
                  pathTo(t2) = Array(fc.dirEdge); foundL = true
                }
              }
              fr += 1
            }
          }
          t2 += 1
        }
        // seeds: finite-cost real sources with >= 1 same-component target
        val nF = from.length
        val seedFr = new Array[Int](nF)
        val seedDir = new Array[Int](nF)
        val seedInit = new Array[Long](nF)
        var nSeeds = 0
        var minInit = Long.MaxValue
        var fi = 0
        while (fi < nF) {
          val fc = from(fi)
          if (fc.dirEdge >= 0 && costFr(fi) < Inf) {
            val srcComp = g.compOfDir(fc.dirEdge)
            var any = false
            var ti = 0
            while (ti < targets.length && !any) {
              if (g.compOfDir(targets(ti)) == srcComp) any = true
              ti += 1
            }
            if (any) {
              val srcCost = g.dirCost10(fc.dirEdge)
              val init = costFr(fi) - math.min(srcCost, math.round(fc.progr * srcCost))
              seedFr(nSeeds) = fi; seedDir(nSeeds) = fc.dirEdge; seedInit(nSeeds) = init
              if (init < minInit) minInit = init
              nSeeds += 1
            }
          }
          fi += 1
        }
        if (nSeeds == 0) return foundL
        // seeds whose RELATIVE init would overflow the 32-bit-packed heap
        // are excluded and their pairs searched per-source instead:
        // manyToMany never enqueues f >= Int.MaxValue, so such a seed (a
        // lattice poisoned by the Inf/200*100 null-candidate fallback can
        // spread inits by ~5.8e17 deciseconds) would silently drop from
        // the N->N search and its only-reachable-from-here targets would
        // degrade to the fallback ladder.
        val SafeRelInit = Int.MaxValue.toLong / 2
        var overflowSrc: Array[Boolean] = null
        var keepSeeds = 0
        var s0 = 0
        while (s0 < nSeeds) {
          if (seedInit(s0) - minInit > SafeRelInit) {
            if (overflowSrc == null) overflowSrc = new Array[Boolean](nF)
            overflowSrc(seedFr(s0)) = true
          } else {
            seedFr(keepSeeds) = seedFr(s0); seedDir(keepSeeds) = seedDir(s0)
            seedInit(keepSeeds) = seedInit(s0)
            keepSeeds += 1
          }
          s0 += 1
        }
        nSeeds = keepSeeds
        if (nSeeds == 0) {
          if (overflowSrc != null)
            foundL = slowPass(cutoff, null, overflowSrc) || foundL
          return foundL
        }
        // lattice-cost envelope of the kept seeds, used to prune residual
        // deferrals exactly (overflow sources are priced by their own
        // slowPass independently, so they don't enter these bounds)
        var minSeedCost = Long.MaxValue
        var maxSeedCost = Long.MinValue
        var sb = 0
        while (sb < nSeeds) {
          val c = costFr(seedFr(sb))
          if (c < minSeedCost) minSeedCost = c
          if (c > maxSeedCost) maxSeedCost = c
          sb += 1
        }
        val relInits = new Array[Long](nSeeds)
        val srcs = new Array[Long](2 * nSeeds)
        var maxRel = 0L
        var s = 0
        while (s < nSeeds) {
          relInits(s) = seedInit(s) - minInit
          if (relInits(s) > maxRel) maxRel = relInits(s)
          srcs(2 * s) = (seedDir(s).toLong << 32) |
            (math.round(from(seedFr(s)).progr * 10000) & 0xffffffffL)
          srcs(2 * s + 1) = relInits(s)
          s += 1
        }
        val seedDirs = java.util.Arrays.copyOf(seedDir, nSeeds)
        val key = HopCache.LayerKey(p.cacheCtx, HopCache.srcsHash(srcs), cutoff, tHash)
        val lv = HopCache.layerGetOrCompute(g.epoch, key, srcs, targets, () => {
          val cws = WorkspacePool.get(2 * g.numEdges)
          val fCut =
            if (cutoff >= Inf / 2 - maxRel) Inf / 2 else maxRel + cutoff
          Dijkstra.manyToMany(g, cws, seedDirs,
            java.util.Arrays.copyOf(relInits, nSeeds), targets, fCut,
            p.turnPen10, heur)
          val costsRel = new Array[Long](targets.length)
          val winners = new Array[Int](targets.length)
          val paths = new Array[Array[Int]](targets.length)
          var i = 0
          while (i < targets.length) {
            val td = targets(i)
            if (cws.isSettled(td)) {
              costsRel(i) = cws.costOf(td)
              paths(i) = Dijkstra.path(cws, -2, td)
              winners(i) = if (paths(i).nonEmpty) paths(i)(0) else -1
            } else { costsRel(i) = Inf; winners(i) = -1 }
            i += 1
          }
          HopCache.LayerVal(srcs, targets, costsRel, winners, paths)
        })
        // apply per target; self-won targets go to the residual slow pass
        var residual: Array[Boolean] = null
        t2 = 0
        while (t2 < to.length) {
          val tc = to(t2)
          if (tc.dirEdge >= 0) {
            var ti2 = 0
            while (ti2 < targets.length && targets(ti2) != tc.dirEdge) ti2 += 1
            if (ti2 < targets.length && lv.costsRel(ti2) < Inf) {
              val winner = lv.winners(ti2)
              if (winner == tc.dirEdge) {
                // self-won: the target's own seed shadowed every other
                // source in the N->N search — only the per-source pass can
                // price the others (the same-edge scalar pre-pass already
                // priced the self pair)
                if (residual == null) residual = new Array[Boolean](to.length)
                residual(t2) = true
              } else {
                // map the winning seed edge back to its from-cand index
                var si = 0
                while (si < nSeeds && seedDir(si) != winner) si += 1
                if (si < nSeeds) {
                  val fr = seedFr(si)
                  val cAbs = lv.costsRel(ti2) + minInit
                  val tgtCost = g.dirCost10(tc.dirEdge)
                  val tail = math.min(tgtCost, math.round((1.0 - tc.progr) * tgtCost))
                  // Two divergences from the per-source pass are handled
                  // WITHOUT approximating, deferring to it only when the
                  // cheap exact bounds below cannot already decide:
                  if (cAbs - costFr(fr) > cutoff) {
                    // (1) the shared fCut (maxRel + cutoff) admitted this
                    // pair through another seed's offset but the WINNER's
                    // own per-source hop exceeds the layer cutoff. Another
                    // source fr' can settle t this step only if its path
                    // (>= cAbs - costFr(fr')) fits the cutoff, i.e.
                    // costFr(fr') >= cAbs - cutoff. If even the max-cost
                    // seed fails that, NO per-source search finds t at
                    // this cutoff — skip, keeping the doubling step at
                    // which the pair is "found" aligned with the slow path.
                    if (maxSeedCost >= cAbs - cutoff) {
                      if (residual == null) residual = new Array[Boolean](to.length)
                      residual(t2) = true
                    }
                  } else if (cAbs - tail < costFr(fr)) {
                    // (2) the hop>=0 clamp is active (path shorter than the
                    // un-traversed target tail): the winner's clamped total
                    // is costFr(fr) + pen. Any seed's total is bounded
                    // below by minSeedCost + pen (hop >= 0), so a winner
                    // that IS a min-cost source is provably optimal; only
                    // otherwise must the per-source pass price all sources.
                    if (costFr(fr) <= minSeedCost) {
                      val total = costFr(fr) + tc.pen10
                      if (total < costTo(t2)) {
                        costTo(t2) = total; predTo(t2) = fr
                        pathTo(t2) = lv.paths(ti2); foundL = true
                      }
                    } else {
                      if (residual == null) residual = new Array[Boolean](to.length)
                      residual(t2) = true
                    }
                  } else {
                    val total = cAbs - tail + tc.pen10
                    if (total < costTo(t2)) {
                      costTo(t2) = total; predTo(t2) = fr
                      pathTo(t2) = lv.paths(ti2); foundL = true
                    }
                  }
                }
              }
            }
          }
          t2 += 1
        }
        if (residual != null)
          foundL = slowPass(cutoff, residual) || foundL
        if (overflowSrc != null)
          foundL = slowPass(cutoff, null, overflowSrc) || foundL
        foundL
      }

      // ---- layer-level cutoff doubling (Router.tpp:96-148) ----
      var nRealSrc = 0
      var fi0 = 0
      while (fi0 < from.length) {
        if (from(fi0).dirEdge >= 0 && costFr(fi0) < Inf) nRealSrc += 1
        fi0 += 1
      }
      val useFast = p.transModel == "expo" && p.transitionPenalty == 1.0 &&
        nRealSrc >= p.fastMinSources && targets.nonEmpty
      var cutoff = baseCutoff
      var step = 0
      var found = false
      var done = false
      while (!done) {
        val f = if (useFast) fastPass(cutoff) else slowPass(cutoff, null)
        found = found || f
        done = found || step == MaxDoublingSteps || cutoff >= Inf / 2
        if (!done) { cutoff *= 2; step += 1 }
      }

      // ---- fallback ladder, only when NOTHING was found in this layer
      // (Router.tpp:150-180) ----
      if (!found) {
        var fr = 0
        while (fr < from.length) {
          if (costFr(fr) < Inf) {
            var t3 = 0
            while (t3 < to.length) {
              val tc = to(t3)
              val fallback =
                if (tc.dirEdge < 0)
                  // null candidate: far above any real path (maxCost * 100).
                  // Saturate: under distdiff the cutoff is Inf/2 and a raw
                  // *100 overflows Long to a NEGATIVE cost that would beat
                  // every real path and corrupt the backtrace.
                  // (kept strictly below Inf so a later layer can still
                  // relax FROM this candidate — chained all-null layers
                  // must not freeze the lattice at Inf)
                  math.min(costFr(fr) + math.min(cutoff, Inf / 200) * 100,
                    Inf - 1)
                else
                  // dummy edge to a real candidate: pen only, empty path
                  costFr(fr) + tc.pen10
              if (fallback < costTo(t3)) {
                costTo(t3) = fallback
                predTo(t3) = fr
                pathTo(t3) = Array.empty[Int]
              }
              t3 += 1
            }
          }
          fr += 1
        }
      }
  }

  /** Solve one linear trip (chain of stop layers).
    * @param cands candidate group per stop layer (each non-empty; may hold
    *              the null candidate)
    * @param schedSec scheduled seconds between consecutive stops (n-1)
    * @param turnPen10 transition penalty oracle (-1 = forbidden)
    * @param hopDistM straight-line stop-to-stop meters per hop (optional;
    *        enables the reference's min-time cutoff bound and distdiff)
    * @param cutoffFactor widens the hop cutoff (the reference multiplies
    *        maxCost by its line-punish factors, Weights.cpp:192-195)
    * @param cacheCtx graph+config+line identity folded into hop-memo keys
    * @param fastMinSources see RelaxParams
    */
  def solve(g: CompactGraph, cands: Array[Array[Cand]], schedSec: Array[Double],
            turnPen10: (Int, Int) => Long,
            vmaxMs: Double = 85.0 / 3.6,
            hopDistM: Array[Double] = null,
            transitionPenalty: Double = 1.0,
            transModel: String = "expo",
            cutoffFactor: Double = 1.0,
            cacheCtx: Long = 0L,
            fastMinSources: Int = 3): SolveResult = {
    val nLayers = cands.length
    require(nLayers >= 1 && schedSec.length == nLayers - 1)
    val Inf = Dijkstra.Inf
    val p = RelaxParams(turnPen10, vmaxMs, transitionPenalty, transModel,
      cutoffFactor, cacheCtx, fastMinSources)

    // cost/pred lattice (CostsDAG/PredeDAG, Router.h:38-40)
    val cost = Array.tabulate(nLayers)(l => Array.fill[Long](cands(l).length)(Inf))
    val pred = Array.tabulate(nLayers)(l => Array.fill[Int](cands(l).length)(-1))
    // best directed-edge path INTO each (layer, cand) — only the current
    // winner is kept (a keyed map of every (fr,to) path churned ~MBs/solve)
    val bestPath = Array.tabulate(nLayers)(l => new Array[Array[Int]](cands(l).length))

    var c0 = 0
    while (c0 < cands(0).length) {
      cost(0)(c0) = cands(0)(c0).pen10
      c0 += 1
    }

    var layer = 0
    while (layer < nLayers - 1) {
      relaxLayer(g, cands(layer), cands(layer + 1),
        cost(layer), cost(layer + 1), pred(layer + 1), bestPath(layer + 1),
        schedSec(layer), if (hopDistM == null) 0.0 else hopDistM(layer), p)
      layer += 1
    }

    // sink selection: argmin over last layer (O3), tie -> lowest index
    val last = nLayers - 1
    var best = 0; var bestCost = Inf
    var i = 0
    while (i < cands(last).length) {
      if (cost(last)(i) < bestCost) { bestCost = cost(last)(i); best = i }
      i += 1
    }

    // backtrace
    val chosen = new Array[Int](nLayers)
    chosen(last) = best
    var l = last
    while (l > 0) {
      chosen(l - 1) = pred(l)(chosen(l))
      l -= 1
    }
    val hops = new Array[HopPath](math.max(0, nLayers - 1))
    l = 0
    while (l < nLayers - 1) {
      val fr = chosen(l); val t = chosen(l + 1)
      val p = bestPath(l + 1)(t)
      val edges = if (p == null) Array.empty[Int] else p
      hops(l) = HopPath(edges,
        if (fr >= 0) cands(l)(fr).progr else 0.0,
        if (t >= 0) cands(l + 1)(t).progr else 0.0,
        reachable = edges.nonEmpty)
      l += 1
    }
    SolveResult(chosen, hops, bestCost)
  }

  /** Traveled meters of a directed-edge path with partial first/last edges
    * (the reference's dists matrix for DistDiffTransWeight, NEED_DIST). */
  def pathDistM(g: CompactGraph, path: Array[Int],
                progrFr: Double, progrTo: Double): Double = {
    if (path == null || path.isEmpty) return 0.0
    if (path.length == 1)
      return g.lenM(path(0) >> 1) * math.max(0.0, progrTo - progrFr)
    var d = 0.0
    var i = 0
    while (i < path.length) { d += g.lenM(path(i) >> 1); i += 1 }
    d - g.lenM(path(0) >> 1) * progrFr -
      g.lenM(path(path.length - 1) >> 1) * (1.0 - progrTo)
  }
}
