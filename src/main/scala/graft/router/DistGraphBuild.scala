package graft.router

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.geo.{Cell, Geo}
import graft.osm.{GraphBuilder, OsmConfig, StationSnap}
import graft.plans.Boundary

/** Distributed graph construction — no O(graph) driver path, and the only
  * producer of component bins (GraphPartitions.fromFiles).
  *
  * The driver build (StationSnap.refine + CompactGraph.fromEdges) collects
  * every edge and walks them in one sequential snap loop. Here both the
  * snap and the graph build run inside one cogroup over component BINS:
  *
  *   edges --(distributed CC on endpoints)--> comp --(greedy packing,
  *   sizes-only collect)--> bin; stations/blockers/restrictions/turn
  *   cycles/line names join to bins distributively; ONE flatMapCoGroups
  *   per bin then (a) runs the same sequential snap pass the driver ran —
  *   components are closed under adjacency, so the eq-station/blocker
  *   walks and split decisions inside a bin equal the global pass
  *   restricted to it — (b) builds the bin's CompactGraph in executor
  *   memory, (c) serializes it to shared storage (FileBin), and emits only
  *   deltas: killed/new edge rows, station placements, bin metadata.
  *
  * The driver never materializes edge rows; its peak state is O(#comps)
  * sizes + O(#bins) file paths. Station placements that several bins
  * propose (a stop within snap range of two disconnected subgraphs) are
  * arbitrated by min (prio, dist, edge id) — exactly the sequential
  * pass's first-placing-candidate order (StationSnap.Placement). Split
  * vertices/edges get content-derived ids (StationSnap.synthId), so the
  * distributed and driver builds mint IDENTICAL ids for identical splits;
  * only a station's own node id needs coordination (its owner bin — the
  * bin of its globally nearest candidate edge — may reuse `sid`; other
  * bins must mint, else a cross-bin merge would alias two vertices).
  *
  * Reference anchor: the per-node component shortcut that makes routing
  * component-local (/root/reference/src/pfaedle/router/Router.tpp:329-331);
  * the reference itself builds its graph single-node in RAM
  * (/root/reference/src/pfaedle/trgraph/Graph.h:24-28).
  */
object DistGraphBuild {

  case class Result(parts: GraphPartitions,
                    /** refined edges, `bin` column appended */
                    edges: DataFrame,
                    /** refined stations (placed vertices), driver schema */
                    stations: DataFrame,
                    stats: StationSnap.SnapStats,
                    nBins: Int)

  // ---- cogroup row types ----
  case class EdgeIn(bin: Int, edge_id: Long, way_id: Long, pos: Long,
                            from_id: Long, to_id: Long,
                            glat: Seq[Double], glon: Seq[Double],
                            len_m: Double, cost10: Long, lvl: Int, oneway: Int,
                            cells: Seq[Long])
  /** side-channel rows multiplexed on `kind`: 1 station (a=sid, lat/lon,
    * s1=name, s2=track, flag=isOwnerBin), 2 blocker (a=node), 3 restriction
    * (a=via, b=fromWay, c=toWay, flag=positive), 4 turn-cycle (a=node),
    * 5 way line names (a=way, s1=short, s2=from, s3=to) */
  case class MiscIn(bin: Int, kind: Int, a: Long, b: Long, c: Long,
                            flag: Boolean, lat: Double, lon: Double,
                            s1: String, s2: String, s3: String)
  /** output rows multiplexed on `kind`: 0 new edge, 1 placement proposal,
    * 2 killed edge id, 3 bin metadata (path) */
  case class BinOut(kind: Int, bin: Int,
                            edge: StationSnap.EdgeOut,
                            sid: Long, pNode: Long, pLat: Double, pLon: Double,
                            pPrio: Int, pDist: Double, pEdge: Long, pKind: Int,
                            killed: Long, path: String)

  /** Full distributed build over GraphBuilder output tables. `binDir` must
    * be cluster-shared storage (any Hadoop FS path; a local dir suffices
    * for local / local-cluster — the sandbox proxy for HDFS/S3). */
  def build(spark: SparkSession, gt: GraphBuilder.GraphTables, cfg: OsmConfig,
            binDir: String,
            minBinEdges: Int = GraphPartitions.MinBinEdges,
            maxBins: Int = GraphPartitions.MaxBins): Result = {
    import spark.implicits._

    // ---- 1. component label per edge (distributed CC), comp -> bin ----
    // maxRounds 64: pointer jumping halves label-chain length per round,
    // so 64 covers any graph this planet produces; the fixpoint CHECK
    // below is the actual guarantee — an under-converged labeling would
    // split one component across bins and silently truncate routes at
    // the bin boundary, so it must fail loudly instead
    val edgePairs = gt.edges.select($"from_id".as("a"), $"to_id".as("b"))
    val nodeComp = graft.plans.ConnectedComponents.run(edgePairs, maxRounds = 64)
    val nBad = graft.plans.ConnectedComponents.endpointMismatches(edgePairs, nodeComp)
    require(nBad == 0,
      s"component labeling did not converge: $nBad edges span two labels")
    val edgeComp = gt.edges.select($"edge_id", $"from_id".as("node"))
      .join(nodeComp, Seq("node"))
      .select($"edge_id", $"comp")
    val sizes = edgeComp.groupBy($"comp").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val (binOfComp, nBins) = GraphPartitions.pack(sizes, minBinEdges, maxBins)
    val bcBins = spark.sparkContext.broadcast(binOfComp)
    val binOf = udf((c: Long) => bcBins.value(c))
    // checkpoint: comp labels and the bin tag feed the snap cogroup, the
    // refined-edge assembly AND candidate tagging — without it the whole
    // CC loop re-runs per consumer
    val edgesB = Boundary.eager(gt.edges.join(edgeComp, Seq("edge_id"))
      .withColumn("bin", binOf($"comp")).drop("comp"))

    // ---- 2. station -> candidate bins + owner bin (distributed spatial
    // join at the snap grid resolution; exact projection distance) ----
    val coverU = udf((glat: Seq[Double], glon: Seq[Double]) =>
      Cell.coverPolyline(glat.indices.map(i => (glat(i), glon(i))).toArray,
        StationSnap.SnapRes))
    val ringU = udf((lat: Double, lon: Double) =>
      Cell.kRing(Cell.encode(lat, lon, StationSnap.SnapRes),
        Cell.kForMeters(cfg.maxOsmStationDistanceM, lat, StationSnap.SnapRes)))
    val projU = udf((sLat: Double, sLon: Double, glat: Seq[Double], glon: Seq[Double]) => {
      val line = glat.indices.map(i => (glat(i), glon(i))).toArray
      Geo.projectOnPolyline(sLat, sLon, line)._4
    })
    // the geometry arrays are field extractions of `geom` (a `transform`
    // lambda would be interpreted, as CompactGraph.collectEdgeRows notes)
    val edgeCells = edgesB.select($"bin", $"edge_id",
        $"geom.lat".as("glat"), $"geom.lon".as("glon"))
      .select($"bin", $"edge_id", explode(coverU($"glat", $"glon")).as("cell"))
      .distinct()
    val st = gt.stations.select($"node_id", $"lat", $"lon", $"name", $"track")
    val stCand = Boundary.deferred(st.select($"node_id", $"lat", $"lon",
        explode(ringU($"lat", $"lon")).as("cell"))
      .join(edgeCells, Seq("cell"))
      .select($"node_id", $"lat", $"lon", $"edge_id", $"bin").distinct()
      .join(edgesB.select($"edge_id", $"geom.lat".as("glat"), $"geom.lon".as("glon")),
        Seq("edge_id"))
      .withColumn("dist", projU($"lat", $"lon", $"glat", $"glon"))
      .filter($"dist" <= cfg.maxOsmStationDistanceM)
      .select($"node_id", $"edge_id", $"bin", $"dist"))
    val stOwner = stCand.groupBy($"node_id")
      .agg(min_by($"bin", struct($"dist", $"edge_id")).as("owner_bin"))
    val stBins = stCand.select($"node_id", $"bin").distinct()
      .join(stOwner, Seq("node_id"))
      .join(st, Seq("node_id"))

    // ---- 3. side-channel rows per bin ----
    val stationRows = stBins.select(lit(1).as("kind"), $"bin",
      $"node_id".as("a"), lit(0L).as("b"), lit(0L).as("c"),
      ($"bin" === $"owner_bin").as("flag"), $"lat", $"lon",
      $"name".as("s1"), $"track".as("s2"), lit(null).cast("string").as("s3"))
    val nodeBin = edgesB.select($"from_id".as("node"), $"bin")
      .unionByName(edgesB.select($"to_id".as("node"), $"bin")).distinct()
    def nodeRows(df: DataFrame, kind: Int): DataFrame =
      df.select($"node_id".as("node")).join(nodeBin, Seq("node"))
        .select(lit(kind).as("kind"), $"bin", $"node".as("a"),
          lit(0L).as("b"), lit(0L).as("c"), lit(false).as("flag"),
          lit(0.0).as("lat"), lit(0.0).as("lon"),
          lit(null).cast("string").as("s1"), lit(null).cast("string").as("s2"),
          lit(null).cast("string").as("s3"))
    val blockerRows = nodeRows(gt.blockers, 2)
    val restrRows = gt.restrictions
      .join(nodeBin.withColumnRenamed("node", "via_node"), Seq("via_node"))
      .select(lit(3).as("kind"), $"bin", $"via_node".as("a"),
        $"from_way".as("b"), $"to_way".as("c"), $"positive".as("flag"),
        lit(0.0).as("lat"), lit(0.0).as("lon"),
        lit(null).cast("string").as("s1"), lit(null).cast("string").as("s2"),
        lit(null).cast("string").as("s3"))
    val cycleRows = nodeRows(gt.turnCycles, 4)
    // the way -> line table carries the line names
    val nameRows = gt.wayLines
      .select($"way_id",
        coalesce($"short_name", lit("")).as("s1"),
        coalesce($"from_str", lit("")).as("s2"),
        coalesce($"to_str", lit("")).as("s3"))
      .distinct()
      .join(edgesB.select($"way_id", $"bin").distinct(), Seq("way_id"))
      .select(lit(5).as("kind"), $"bin", $"way_id".as("a"),
        lit(0L).as("b"), lit(0L).as("c"), lit(false).as("flag"),
        lit(0.0).as("lat"), lit(0.0).as("lon"), $"s1", $"s2", $"s3")
    val misc = Seq(stationRows, blockerRows, restrRows, cycleRows, nameRows)
      .reduce(_ unionByName _)
      .as[MiscIn]

    val edgeIn = edgesB.select($"bin", $"edge_id", $"way_id", $"pos",
        $"from_id", $"to_id", $"geom.lat".as("glat"), $"geom.lon".as("glon"),
        $"len_m", $"cost10", $"lvl".cast("int").as("lvl"),
        $"oneway".cast("int").as("oneway"), $"cells")
      .as[EdgeIn]

    // ---- 4. per-bin snap + graph build + persist, one cogroup ----
    val cellRes = cfg.cellRes
    val dir = binDir
    // the partition epoch doubles as the BUILD ID in every bin path: the
    // per-JVM FileBin cache is keyed by path, so two builds sharing a
    // binDir (bench warm-up world then the real world) must never reuse a
    // file name — a stale cache hit would route one build's clusters over
    // another build's graph
    val epoch = CompactGraph.newEpoch()
    val out = Boundary.eager(edgeIn.groupByKey(_.bin).cogroup(misc.groupByKey(_.bin)) {
      (bin: Int, eIt: Iterator[EdgeIn], mIt: Iterator[MiscIn]) =>
        processBin(bin, eIt, mIt, cfg, cellRes, dir, epoch).iterator
    })

    // ---- 5. assemble refined tables + arbitration + partitions ----
    val killed = out.filter($"kind" === 2).select($"killed".as("edge_id"))
    val newEdges0 = out.filter($"kind" === 0).select($"bin", $"edge.*")
    val newEdges = newEdges0.select(
      (StationSnap.edgeColumns(newEdges0, gt.edges.schema) :+ $"bin"): _*)
    val edges2 = Boundary.deferred(edgesB.join(killed, Seq("edge_id"), "left_anti")
      .unionByName(newEdges))

    val win = out.filter($"kind" === 1)
      .groupBy($"sid")
      .agg(min_by(struct($"pNode", $"pLat", $"pLon", $"pKind", $"pPrio"),
        struct($"pPrio", $"pDist", $"pEdge")).as("w"))
      .withColumnRenamed("sid", "node_id")
    val stations2 = st
      .join(win, Seq("node_id"), "left")
      .select(
        coalesce($"w.pNode", $"node_id").as("node_id"),
        coalesce($"w.pLat", $"lat").as("lat"),
        coalesce($"w.pLon", $"lon").as("lon"),
        $"name", $"track")
      .distinct()
      .withColumn("cell", graft.functions.GeoFunctions.gcell(
        $"lat", $"lon", cfg.cellRes))
      .select("node_id", "lat", "lon", "cell", "name", "track")

    val statsRow = out.filter($"kind" === 1)
      .groupBy($"sid")
      .agg(min_by($"pKind", struct($"pPrio", $"pDist", $"pEdge")).as("k"),
        min($"pPrio").as("prio"))
      .agg(sum(when($"k" === 2 && $"prio" === 1, 1).otherwise(0)),
        sum(when($"k" === 1 && $"prio" === 1, 1).otherwise(0)),
        sum(when($"k" === 0 && $"prio" === 1, 1).otherwise(0)),
        count(lit(1)))
      .head()
    val nPlacedStations = statsRow.getLong(3)
    val stats = StationSnap.SnapStats(
      statsRow.getLong(0).toInt, statsRow.getLong(1).toInt,
      statsRow.getLong(2).toInt,
      (st.select($"node_id").distinct().count() - nPlacedStations).toInt)

    val metas = out.filter($"kind" === 3)
      .select($"bin", $"path").collect()
      .map(r => (r.getInt(0), r.getString(1))).sortBy(_._1)
    require(metas.length == nBins,
      s"expected $nBins bin files, got ${metas.length}")
    val parts = GraphPartitions.fromFiles(metas.map(_._2).toSeq, epoch)
    Result(parts, edges2, stations2, stats, nBins)
  }

  /** tag candidate rows with the bin of their edge (the solve resolves
    * each group's graph from these tags) */
  def tagCands(cands: DataFrame, edgesWithBin: DataFrame): DataFrame =
    cands.join(edgesWithBin.select(col("edge_id"), col("bin").cast("int").as("bin")),
      Seq("edge_id"), "left")
      .na.fill(-1, Seq("bin"))

  /** the per-bin task: sequential snap on this bin's subgraph, then build
    * + persist the refined bin graph; emits deltas only */
  private def processBin(bin: Int, eIt: Iterator[EdgeIn], mIt: Iterator[MiscIn],
                         cfg: OsmConfig, cellRes: Int,
                         binDir: String, epoch: Long): Seq[BinOut] = {
    val w = new StationSnap.Work(StationSnap.SnapRes)
    val origCells = new java.util.HashMap[Long, Seq[Long]]()
    eIt.toArray.sortBy(_.edge_id).foreach { e =>
      origCells.put(e.edge_id, e.cells)
      w.addEdge(new StationSnap.WEdge(e.edge_id, e.way_id, e.pos, e.from_id,
        e.to_id, e.glat.toArray, e.glon.toArray, e.len_m, e.cost10,
        e.lvl, e.oneway))
    }
    val misc = mIt.toArray
    misc.foreach { m => if (m.kind == 2) w.blockers += m.a }
    val stations = misc.filter(_.kind == 1).map(m => (m.a, m.lat, m.lon, m.s1, m.s2))
      .sortBy(_._1).toSeq
    val owners = misc.filter(m => m.kind == 1 && m.flag).map(_.a).toSet
    val placed = StationSnap.runPass(w, stations, cfg, owners.contains)

    val emptyEdge: StationSnap.EdgeOut = null
    val outs = scala.collection.mutable.ArrayBuffer[BinOut]()
    def emit(kind: Int, edge: StationSnap.EdgeOut = emptyEdge, sid: Long = 0L,
             p: StationSnap.Placement = null, killed: Long = 0L,
             path: String = null): Unit =
      outs += BinOut(kind, bin, edge, sid,
        if (p == null) 0L else p.node, if (p == null) 0.0 else p.lat,
        if (p == null) 0.0 else p.lon, if (p == null) 0 else p.prio,
        if (p == null) 0.0 else p.dist, if (p == null) 0L else p.edgeId,
        if (p == null) 0 else p.kind, killed, path)

    // deltas: killed originals + alive synthetics (mirrors refine())
    w.edges.indices.foreach { i =>
      val e = w.edges(i)
      if (!w.alive(i) && e.id >= 0) emit(2, killed = e.id)
      else if (w.alive(i) && e.id < 0)
        emit(0, edge = StationSnap.edgeOut(e, cellRes))
    }
    placed.foreach { case (sid, p) => emit(1, sid = sid, p = p) }

    // refined bin graph -> shared storage
    val rows = w.edges.indices.iterator.filter(w.alive).map { i =>
      val e = w.edges(i)
      CompactGraph.EdgeRowIn(e.id, e.wayId, e.from, e.to, e.lat, e.lon,
        e.cost10, e.lenM, e.oneway)
    }.toArray
    val wayToNames = misc.filter(_.kind == 5)
      .groupBy(_.a)
      .map { case (way, ms) => way -> ms.map(m => (m.s1, m.s2, m.s3)).distinct }
    val restr = misc.filter(_.kind == 3).map(m => (m.a, m.b, m.c, m.flag)).distinct
    val tcy = misc.filter(_.kind == 4).map(_.a).distinct
    val g = CompactGraph.fromRows(rows, wayToNames, restr, tcy)
    val path = s"$binDir/g$epoch/bin-$bin.cg"
    FileBin.write(path, g)
    emit(3, path = path)
    outs.toSeq
  }
}
