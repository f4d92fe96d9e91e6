package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.fixtures.{SyntheticWorld, WorldTables}
import graft.osm.{GraphBuilder, OsmConfig}
import graft.plans.ExecutedPlans
import graft.router.{CompactGraph, GraphPartitions, Matcher}

/** Component-level graph partitioning (SURVEY §7.3): a multi-city world's
  * routing graph splits into per-component bins, solver tasks resolve only
  * the bins their candidates touch, and routing over a resolved bin is
  * bit-identical to routing over the full broadcast graph. */
class PartitionSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  lazy val cfg = OsmConfig.bus
  lazy val world = SyntheticWorld.buildMulti(cities = 3, rows = 8, cols = 12)
  lazy val t = WorldTables(spark, world)
  lazy val bbox = GraphBuilder.feedBBox(t.stops).pad(cfg.bboxPaddingM)
  lazy val gt = GraphBuilder.build(spark, t.osmNodes, t.osmWays, t.osmRels, bbox, cfg)
  lazy val graph = CompactGraph.fromEdges(gt.edges, gt.restrictions,
    gt.wayLines, gt.transitLines, gt.turnCycles)
  lazy val parts = GraphPartitions.build(spark, graph, minBinEdges = 1, maxBins = 8)

  test("multi-city world splits into one component bin per city") {
    val comps = (0 until graph.numEdges).map(graph.compOfEdge).distinct
    assert(comps.length == 3) // 25 km gaps: one routing component per city
    assert(parts.bins.length == 3)
    // bins partition the edge set exactly, ids stay global
    val binIds = parts.bins.map(_.get.edgeIds.toSet)
    assert(binIds.map(_.size).sum == graph.numEdges)
    assert(binIds.reduce(_ ++ _) == graph.edgeIds.toSet)
  }

  test("a task holds less graph: largest bin ships smaller than the full graph") {
    def serializedBytes(o: AnyRef): Long = {
      val bos = new java.io.ByteArrayOutputStream()
      val oos = new java.io.ObjectOutputStream(bos)
      oos.writeObject(o); oos.close()
      bos.size().toLong
    }
    assert(parts.bins.map(b => serializedBytes(b.get)).max < serializedBytes(graph))
    // the edge->bin index covers every edge, each in the bin holding it
    val idx = parts.binOfEdge.value
    val binEdges = parts.bins.map(_.get.edgeIds.toSet)
    assert(idx.size == graph.numEdges)
    graph.edgeIds.foreach { id =>
      val b = idx.get(id)
      assert(b != null && binEdges(b.intValue).contains(id))
    }
  }

  test("subset keeps global edge-id order, restrictions and turn cycles") {
    val all = CompactGraph.subset(graph, _ => true)
    assert(all.edgeIds.sameElements(graph.edgeIds))
    assert(all.rawRestrictions.toSet == graph.rawRestrictions.toSet)
    parts.bins.foreach { b =>
      val g = b.get
      assert(g.edgeIds.sameElements(g.edgeIds.sorted)) // ascending global ids
      // restrictions land in the bin holding their via node
      g.rawRestrictions.foreach(r => assert(g.nodeIndex.containsKey(r._1)))
    }
    assert(parts.bins.map(_.get.rawRestrictions.length).sum ==
      graph.rawRestrictions.length)
  }

  test("resolve: single bin for one city's edges, merged for cross-bin sets") {
    val bin0 = parts.bins(0).get
    val bin1 = parts.bins(1).get
    assert(parts.resolve(bin0.edgeIds.take(5)) eq bin0)
    assert(parts.resolve(Array.empty[Long]) eq bin0) // null-cand cluster
    assert(parts.resolve(Array(-1L)) eq bin0)        // unknown ids ignored
    val m = parts.resolve(Array(bin0.edgeIds(0), bin1.edgeIds(0)))
    assert(m.numEdges == bin0.numEdges + bin1.numEdges)
    assert(m.edgeIds.sameElements((bin0.edgeIds ++ bin1.edgeIds).sorted))
    // memoized: the same bin set shares one merged instance (stable token)
    assert(parts.resolve(Array(bin0.edgeIds(5), bin1.edgeIds(3))) eq m)
  }

  test("BinBlockPlacement: weighted blocks, in-range, untagged spread") {
    val keys = for (b <- 0 until 4; c <- 0 until 6; s <- 0 until 8)
      yield (s"L$b-$c", s"S$c", s)
    val groupBin = keys.map(k => k -> k._1.drop(1).takeWhile(_ != '-').toInt).toMap
    // bin 0 dominates: 5x the groups of the others
    val weights = Map(0 -> 50, 1 -> 10, 2 -> 10, 3 -> 10)
    val p = new Matcher.BinBlockPlacement(16, 4, weights)
    val byBin = keys.groupBy(groupBin).map { case (b, ks) =>
      b -> ks.map(k => p(k, groupBin(k))).toSet
    }
    // every partition index in range
    byBin.values.flatten.foreach(i => assert(i >= 0 && i < 16))
    // the dominant bin gets the widest block; every bin gets >= 1 partition
    assert(byBin(0).size > byBin(1).size)
    byBin.foreach { case (_, ps) => assert(ps.nonEmpty) }
    // a bin's partitions are FEW (its weighted share), not the whole range
    assert(byBin(1).size <= 3 && byBin(2).size <= 3 && byBin(3).size <= 3)
    // untagged keys fall back to the full range without throwing
    val untagged = (0 until 100).map(i => p(("zz", s"q$i", i), -1))
    assert(untagged.forall(i => i >= 0 && i < 16) && untagged.distinct.size > 4)
  }

  // untagged candidates: the solve places its groups by plain hash
  lazy val cands = Matcher.buildCandsWithStations(spark, t.stops, gt.edges,
    gt.stations, cfg).localCheckpoint()
  lazy val keyed = Matcher.tripStopsWithKey(WorldTables.tripStops(t)).localCheckpoint()
  private def run(p: GraphPartitions) = {
    graft.router.HopCache.clear()
    MatchHelpers.solveKeyedSeqs(spark, keyed, cands, p, cfg)
      .select($"seq_key", $"cost10", $"n_hops", $"n_unroutable",
        to_json(arrays_zip($"lats", $"lngs", $"dists")).as("pts"), to_json($"anchors").as("an"))
      .collect().map(_.toSeq).sortBy(_.head.toString)
  }
  /** the full-graph solve: its executed plans and its rows */
  lazy val singleRun = {
    var rows = Array.empty[Seq[Any]]
    val single = GraphPartitions.single(spark, graph)
    val (_, _) = (keyed, cands) // materialized outside the capture
    val plans = ExecutedPlans(spark) { rows = run(single) }
    (plans, rows)
  }

  test("single-bin solve executes one id-placed cogroup and no RDD scan") {
    val bad = SolvePlanShape.violations(singleRun._1)
    assert(bad.isEmpty, bad.mkString("; ") + "\n" + SolvePlanShape.trees(singleRun._1))
  }

  test("partitioned match is identical to the full-graph broadcast match") {
    val single = singleRun._2
    val multi = run(parts)
    assert(multi.length == single.length && multi.length > 0)
    multi.zip(single).foreach { case (a, b) => assert(a == b) }
  }
}
