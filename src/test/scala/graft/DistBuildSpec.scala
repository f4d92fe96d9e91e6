package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.fixtures.{SyntheticWorld, WorldTables}
import graft.osm.{GraphBuilder, OsmConfig, StationSnap}
import graft.plans.ExecutedPlans
import graft.router.{CompactGraph, DistGraphBuild, GraphPartitions, HopCache, Matcher}

/** Distributed graph construction parity: the per-bin executor-side build
  * (DistGraphBuild: distributed CC -> per-bin snap cogroup -> file-backed
  * bins, the only producer of component bins) must produce the SAME
  * refined tables and the SAME solve output as the driver-side path
  * (StationSnap.refine + CompactGraph.fromEdges, solved over one broadcast
  * bin, GraphPartitions.single), with no O(numEdges) driver
  * materialization. Also: how a solver group resolves its bins. */
class DistBuildSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  lazy val cfg = OsmConfig.bus
  lazy val world = SyntheticWorld.buildMulti(cities = 3, rows = 8, cols = 12)
  lazy val t = WorldTables(spark, world)
  lazy val bbox = GraphBuilder.feedBBox(t.stops).pad(cfg.bboxPaddingM)
  lazy val gt = GraphBuilder.build(spark, t.osmNodes, t.osmWays, t.osmRels, bbox, cfg)

  lazy val binDir = java.nio.file.Files.createTempDirectory("binstore").toString
  lazy val dist = DistGraphBuild.build(spark, gt, cfg, binDir,
    minBinEdges = 1, maxBins = 8)

  // driver path on the same tables
  lazy val refD = StationSnap.refine(spark, gt, cfg, gt.blockers)
  lazy val graphD = CompactGraph.fromEdges(refD._1.edges, gt.restrictions,
    gt.wayLines, gt.transitLines, gt.turnCycles)

  private def edgeSig(df: org.apache.spark.sql.DataFrame): Array[String] =
    df.select(concat_ws("|", $"edge_id", $"way_id", $"from_id", $"to_id",
        round($"len_m", 6), $"cost10", $"lvl", $"oneway", to_json($"geom")))
      .collect().map(_.getString(0)).sorted

  test("refined edges identical to the driver snap pass") {
    val d = edgeSig(refD._1.edges)
    val x = edgeSig(dist.edges)
    assert(x.length == d.length, s"edge counts differ: dist=${x.length} driver=${d.length}")
    x.zip(d).foreach { case (a, b) => assert(a == b) }
    assert(dist.stats == refD._2, s"stats differ: dist=${dist.stats} driver=${refD._2}")
  }

  test("refined stations identical to the driver snap pass") {
    def sig(df: org.apache.spark.sql.DataFrame) =
      df.select(concat_ws("|", $"node_id", round($"lat", 9), round($"lon", 9),
          $"cell", coalesce($"name", lit("")), coalesce($"track", lit(""))))
        .collect().map(_.getString(0)).sorted
    val d = sig(refD._1.stations)
    val x = sig(dist.stations)
    assert(x.length == d.length, s"station counts differ: ${x.length} vs ${d.length}")
    x.zip(d).foreach { case (a, b) => assert(a == b) }
  }

  test("file-backed bins partition the edge set with global ids") {
    assert(dist.parts.bins.length == 3 && dist.nBins == 3) // one comp per city
    val binIds = dist.parts.bins.map(_.get.edgeIds.toSet)
    assert(binIds.map(_.size).sum == graphD.numEdges)
    assert(binIds.reduce(_ ++ _) == graphD.edgeIds.toSet)
    dist.parts.bins.foreach { b =>
      val g = b.get
      assert(g.edgeIds.sameElements(g.edgeIds.sorted))
      g.rawRestrictions.foreach(r => assert(g.nodeIndex.containsKey(r._1)))
    }
    // a task holds less graph: the largest bin is smaller than the whole
    def serializedBytes(o: AnyRef): Long = {
      val bos = new java.io.ByteArrayOutputStream()
      val oos = new java.io.ObjectOutputStream(bos)
      oos.writeObject(o); oos.close()
      bos.size().toLong
    }
    assert(dist.parts.bins.map(b => serializedBytes(b.get)).max < serializedBytes(graphD))
  }

  test("resolve: one bin per tag set, untagged ignored, merged bins memoized") {
    val parts = dist.parts
    val bin0 = parts.bins(0).get
    val bin1 = parts.bins(1).get
    assert(parts.resolve(Array(0, 0, 0)) eq bin0)
    assert(parts.resolve(Array(-1, 1, -1)) eq bin1)  // -1 (untagged) ignored
    assert(parts.resolve(Array.empty[Int]) eq bin0)  // null-cand cluster
    assert(parts.resolve(Array(-1)) eq bin0)
    val m = parts.resolve(Array(0, 1))
    assert(m.numEdges == bin0.numEdges + bin1.numEdges)
    assert(m.edgeIds.sameElements((bin0.edgeIds ++ bin1.edgeIds).sorted))
    assert(m.epoch == bin0.epoch) // one cache generation per build
    // memoized: the same bin set shares one merged instance (stable token)
    assert(parts.resolve(Array(1, -1, 0, 1)) eq m)
  }

  test("two builds sharing a binDir never cross-serve cached bins") {
    // regression: FileBin's per-JVM cache is keyed by path; before bin
    // paths embedded the build epoch, the bench warm-up world's bin file
    // got cache-served to the main world's solvers (observed live as a
    // 40x iteration drop + wrong tile counts)
    val worldB = SyntheticWorld.buildMulti(cities = 2, rows = 8, cols = 12)
    val tB = WorldTables(spark, worldB)
    val bboxB = GraphBuilder.feedBBox(tB.stops).pad(cfg.bboxPaddingM)
    val gtB = GraphBuilder.build(spark, tB.osmNodes, tB.osmWays, tB.osmRels,
      bboxB, cfg)
    val first = dist // world A, already built into binDir
    val second = DistGraphBuild.build(spark, gtB, cfg, binDir,
      minBinEdges = 1, maxBins = 8)
    val graphB = CompactGraph.fromEdges(
      StationSnap.refine(spark, gtB, cfg, gtB.blockers)._1.edges,
      gtB.restrictions, gtB.wayLines, gtB.transitLines, gtB.turnCycles)
    val gotB = second.parts.bins.map(_.get.edgeIds.toSet).reduce(_ ++ _)
    assert(gotB == graphB.edgeIds.toSet) // world B's graph, not A's
    val gotA = first.parts.bins.map(_.get.edgeIds.toSet).reduce(_ ++ _)
    assert(gotA != gotB) // and A's handles still serve A
  }

  lazy val cands = DistGraphBuild.tagCands(
    Matcher.buildCandsWithStations(spark, t.stops, dist.edges,
      dist.stations, cfg), dist.edges).localCheckpoint()
  lazy val keyed = Matcher.tripStopsWithKey(WorldTables.tripStops(t)).localCheckpoint()

  /** the file-backed solve: its executed plans, and each solved row's
    * seq_key with the partition that solved it, read off the cogroup's
    * output before any boundary */
  lazy val placedRun = {
    var rows = Array.empty[(String, Int)]
    val (_, _, _) = (keyed, cands, dist) // materialized outside the capture
    val plans = ExecutedPlans(spark) {
      HopCache.clear()
      rows = MatchHelpers.solveKeyedSeqs(spark, keyed, cands, dist.parts, cfg)
        .select($"seq_key", spark_partition_id()).as[(String, Int)].collect()
    }
    (plans, rows)
  }

  test("file-backed solve executes one id-placed cogroup and no RDD scan") {
    val bad = SolvePlanShape.violations(placedRun._1)
    assert(bad.isEmpty, bad.mkString("; ") + "\n" + SolvePlanShape.trees(placedRun._1))
  }

  test("file-backed solve runs each group in its bin's partition block") {
    val in = Matcher.solverInputs(spark, Matcher.distinctSeqs(keyed), cands)
    val groupOf = in.seqRows.collect().map(r => r.seq_key -> (r.c_line, r.c_stop, r.salt)).toMap
    // a group's bin: the largest of its candidates' bins
    val binOf = in.candRows.collect().groupBy(c => (c.c_line, c.c_stop, c.salt))
      .map { case (k, cs) => k -> cs.map(_.bin).max }
    val groupsPerBin = binOf.values.filter(_ >= 0).groupBy(identity)
      .map { case (b, xs) => (b, xs.size) }
    val nBins = dist.parts.bins.length
    val n = math.max(spark.sparkContext.defaultParallelism, nBins)
    val place = new Matcher.BinBlockPlacement(n, nBins, groupsPerBin)
    val rows = placedRun._2
    assert(rows.length == groupOf.size && rows.nonEmpty)
    rows.foreach { case (k, at) =>
      val g = groupOf(k)
      assert(at == place(g, binOf.getOrElse(g, -1)), s"$k ($g) solved in partition $at")
    }
    // a bin's block is its group share of the n partitions, at least one
    val total = groupsPerBin.values.sum
    rows.groupBy { case (k, _) => binOf(groupOf(k)) }.foreach { case (b, rs) =>
      val width = math.min(n, math.max(1, groupsPerBin(b) * n / total))
      assert(rs.map(_._2).distinct.length <= width, s"bin $b spans more than $width")
    }
  }

  test("solve over file-backed bins equals the full-broadcast solve") {
    assert(cands.filter($"bin" < 0).count() == 0) // every cand edge has a bin
    def run(p: GraphPartitions) = {
      HopCache.clear()
      MatchHelpers.solveKeyedSeqs(spark, keyed, cands, p, cfg)
        .select($"seq_key", $"cost10", $"n_hops", $"n_unroutable",
          to_json(arrays_zip($"lats", $"lngs", $"dists")).as("pts"), to_json($"anchors").as("an"))
        .collect().map(_.toSeq).sortBy(_.head.toString)
    }
    val viaFiles = run(dist.parts)
    val viaBroadcast = run(GraphPartitions.single(spark, graphD))
    assert(viaFiles.length == viaBroadcast.length && viaFiles.length > 0)
    viaFiles.zip(viaBroadcast).foreach { case (a, b) => assert(a == b) }
  }
}
