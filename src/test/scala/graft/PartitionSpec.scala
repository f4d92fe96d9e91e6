package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.fixtures.{SyntheticWorld, WorldTables}
import graft.osm.{GraphBuilder, OsmConfig}
import graft.plans.ExecutedPlans
import graft.router.{CompactGraph, GraphPartitions, Matcher}

/** Solver placement over graph partitions (SURVEY §7.3): the bin-block
  * placement function, and the shape of the single-bin solve on a
  * multi-city world. The file-backed component bins, their resolve and
  * their parity with the single broadcast bin are DistBuildSpec's. */
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

  /** the full-graph solve's executed plans */
  lazy val singlePlans = {
    val single = GraphPartitions.single(spark, graph)
    val (_, _) = (keyed, cands) // materialized outside the capture
    ExecutedPlans(spark) {
      graft.router.HopCache.clear()
      MatchHelpers.solveKeyedSeqs(spark, keyed, cands, single, cfg)
        .select($"seq_key", $"cost10", $"n_hops", $"n_unroutable",
          to_json(arrays_zip($"lats", $"lngs", $"dists")).as("pts"), to_json($"anchors").as("an"))
        .collect()
      ()
    }
  }

  test("single-bin solve executes one id-placed cogroup and no RDD scan") {
    val bad = SolvePlanShape.violations(singlePlans)
    assert(bad.isEmpty, bad.mkString("; ") + "\n" + SolvePlanShape.trees(singlePlans))
  }
}
