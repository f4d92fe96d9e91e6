package graft.router

import org.scalatest.funsuite.AnyFunSuite

/** Generational memo caches (HopCache.gen): one cache generation per
  * top-level graph-build epoch, bins/merges inherit their parent's epoch,
  * and only the newest two generations stay alive — so a long-lived
  * executor that serves many sequential builds never fills the no-eviction
  * maps with dead-token entries (pre-generation behavior: after enough
  * builds the capacity cap rejected every new entry and routing ran
  * unmemoized forever). */
class GenCacheSpec extends AnyFunSuite {

  private def toyGraph(): CompactGraph = {
    val coords = Map(1L -> (48.0, 7.8), 2L -> (48.001, 7.8), 3L -> (48.002, 7.8))
    CompactGraph.fromSegments(
      Seq((1L, 2L, 10.0, 0, 100L), (2L, 3L, 10.0, 0, 100L)), coords)
  }

  /** one straight edge `id` from (lat, 7.8) to (lat + 0.001, 7.8) */
  private def oneEdgeBin(id: Long, lat: Double): CompactGraph =
    CompactGraph.fromRows(Array(CompactGraph.EdgeRowIn(id, 100L, 2 * id, 2 * id + 1,
      Array(lat, lat + 0.001), Array(7.8, 7.8), 1000L, 111.0, 0)),
      Map.empty, Array.empty, Array.empty)

  test("concat keeps the parts' epoch; top-level builds get fresh epochs") {
    val g = toyGraph()
    assert(g.epoch == g.token)
    // two bins of one distributed build share its epoch (FileBin stamps it)
    val epoch = CompactGraph.newEpoch()
    val bin0 = oneEdgeBin(0L, 48.0).setEpoch(epoch)
    val bin1 = oneEdgeBin(1L, 49.0).setEpoch(epoch)
    assert(bin0.token != bin1.token)
    val merged = CompactGraph.concat(Seq(bin1, bin0))
    assert(merged.epoch == epoch && merged.token != bin0.token)
    assert(merged.edgeIds.toSeq == Seq(0L, 1L)) // global edge-id order
    val g2 = toyGraph()
    assert(g2.epoch != g.epoch)
  }

  test("only the two newest generations survive; eviction recomputes, never corrupts") {
    HopCache.clear()
    val e1 = 101L; val e2 = 102L; val e3 = 103L
    val key = HopCache.Key(ctx = 7L, fromDir = 0, progrQ = 0, cutoff10 = 100L, tHash = 1L)
    val targets = Array(0)
    var computes = 0
    def value(): HopCache.Val = {
      computes += 1
      HopCache.Val(targets, Array(42L), Array(Array(0)))
    }
    assert(HopCache.getOrCompute(e1, key, targets, () => value()).costs(0) == 42L)
    assert(computes == 1)
    // same epoch: memo hit, no recompute
    HopCache.getOrCompute(e1, key, targets, () => value())
    assert(computes == 1)
    // two more epochs retire e1 (MaxGens = 2, newest kept)
    HopCache.getOrCompute(e2, key, targets, () => value())
    HopCache.getOrCompute(e3, key, targets, () => value())
    assert(computes == 3)
    // e1's generation is gone: touching it recomputes (and retires e2)
    HopCache.getOrCompute(e1, key, targets, () => value())
    assert(computes == 4)
    // e3 stayed (newest two are {e3, e1-recreated}): still a hit
    HopCache.getOrCompute(e3, key, targets, () => value())
    assert(computes == 4)
    HopCache.clear()
    assert(HopCache.size() == 0)
  }

  test("line-surcharge arrays are scoped per generation and die with it") {
    HopCache.clear()
    val a = Array(1L, 2L)
    HopCache.gen(201L).lineExtra.put((1L, 2, 1L, "x"), a)
    assert(HopCache.gen(201L).lineExtra.get((1L, 2, 1L, "x")) eq a)
    HopCache.gen(202L); HopCache.gen(203L)
    assert(HopCache.gen(201L).lineExtra.get((1L, 2, 1L, "x")) == null)
    HopCache.clear()
  }
}
