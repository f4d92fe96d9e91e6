package graft.osm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GeoFunctions._
import graft.functions.WayFunctions.{contractChains, gapPairs, memberRef, wayEdges}
import graft.geo.Geo
import graft.plans.Boundary

/** OSM -> routable transit graph as a declarative DataFrame DAG — the Spark
  * recast of the reference's 4-pass streaming OsmBuilder
  * (/root/reference/src/pfaedle/osm/OsmBuilder.cpp:80-216). Each reference
  * pass becomes a join: pass 1 (bbox node ids) = a filter; pass 2 (kept
  * rels/restrictions) = tag filters; pass 3 (edges) = posexplode+join+one
  * grouped pass per way;
  * pass 4 (geoms/stations) = projections. Catalyst handles predicate pushdown
  * and column pruning; every join key is an equi-key so AQE can pick
  * broadcast sides at runtime.
  *
  * Scale notes (100 TB design): nodes/ways are the big tables here; the
  * pipeline touches them with scan->filter->explode->equi-join only. The
  * way->node join shuffles on node id (unavoidable, same as any OSM
  * distiller); everything downstream operates on the *filtered* graph which
  * is orders of magnitude smaller than the input.
  */
object GraphBuilder {

  /** Catalyst predicate for "any rule matches tags" (F2). Expands the small
    * rule list into an OR of map lookups — plain expressions, fully
    * codegen'd and pushdown-friendly (vs an opaque UDF). multiValue rules
    * also match inside `;`-separated value lists with the reference's exact
    * separator forms (OsmFilter.cpp:129-142 valMatches). */
  def tagMatches(tagsCol: org.apache.spark.sql.Column, rules: Seq[TagRule]): org.apache.spark.sql.Column =
    rules.map { r =>
      val v = tagsCol.getItem(r.key)
      if (r.value == "*") v.isNotNull
      else if (!r.multiValue) v === lit(r.value)
      else v === lit(r.value) ||
        v.contains(lit(";" + r.value)) || v.contains(lit(r.value + ";")) ||
        v.contains(lit("; " + r.value)) || v.contains(lit(r.value + " ;"))
    }.reduceOption(_ || _).getOrElse(lit(false))

  /** F5 attr-key projection (OsmBuilder.cpp:1398-1502): prune the tags map
    * to the keys any config rule can touch (+ name) BEFORE the heavy joins
    * — the MapType column is opaque to Catalyst's column pruning, so this
    * manual map_filter is the pruning analog. */
  def pruneTags(df: DataFrame, cfg: OsmConfig): DataFrame = {
    val keys = ((cfg.keepWays ++ cfg.levelRules.map(_._1) ++ cfg.onewayRules ++
      cfg.onewayRevRules ++ cfg.twowayRules ++ cfg.stationRules ++
      cfg.turnCycleRules ++ cfg.nohupRules ++ cfg.stationBlockerRules)
      .map(_.key) ++ cfg.platformTagKeys :+ "name").distinct
    df.withColumn("tags",
      map_filter(col("tags"), (k, _) => k.isInCollection(keys)))
  }

  /** First-matching level classifier (F3): when/otherwise chain. */
  def levelOf(tagsCol: org.apache.spark.sql.Column, rules: Seq[(TagRule, Int)]): org.apache.spark.sql.Column =
    rules.foldRight(lit(7): org.apache.spark.sql.Column) { case ((r, lvl), acc) =>
      when(tagsCol.getItem(r.key) === lit(r.value), lit(lvl)).otherwise(acc)
    }

  /** G8 collapseEdges (OsmBuilder.cpp:1518-1626): contract runs of
    * consecutive segments of the SAME way passing through degree-2 nodes
    * into one edge (costs and lengths summed, geometry concatenated).
    * Shrinks the broadcast graph — shape-point nodes dominate real OSM
    * ways. A degree pass per node and a chain walk per way
    * (contractWithDegrees).
    * Input/output schema: the edgesCost schema + `geom` array.
    * breakNodes: nodes that must stay addressable vertices — turn cycles
    * (OsmBuilder.cpp:1591-1594), station nodes and snap blockers (the
    * reference's collapseEdges never contracts through a node with station
    * info, and blockers ARE station info: NodePL.cpp:137 setBlocker). */
  def contractDeg2Chains(edgesCost: DataFrame,
                         breakNodes: DataFrame = null): DataFrame = {
    val spark = edgesCost.sparkSession
    import spark.implicits._
    val withTc =
      if (breakNodes == null) edgesCost.withColumn("from_tc", lit(null))
      else edgesCost.join(
        broadcast(breakNodes.select($"node_id".as("from_id")).distinct()
          .withColumn("from_tc", lit(1))), Seq("from_id"), "left_outer")
    contractWithDegrees(withTc).drop("from_deg", "to_deg")
  }

  /** The contraction over edges that carry `from_tc` (non-null: the from
    * node is a break node). Output: the edgesCost schema + `geom` + the
    * undirected degrees of both endpoints (`from_deg`, `to_deg`).
    * Contraction preserves the degree of every vertex it keeps — a chain
    * only passes through degree-2 nodes, and each raw edge at a kept
    * vertex becomes exactly one chain end there — so these are also the
    * degrees in the contracted graph (fixGaps reads its degree-1 endpoints
    * from them instead of re-aggregating).
    *
    * Two grouped passes, no window and no join: each edge is emitted as
    * its two endpoint rows, one pass per node collects its rows (their
    * number is the degree), and one pass per way walks its edge ends in
    * (pos, side) order (WayOps.contractChains), where an edge's to-end
    * follows its from-end. Only the from-end carries the edge's columns through the
    * two exchanges. Each pass's key is its input's first column, as it is
    * after the exchange, so the partial and the final aggregate share their
    * key projections' generated classes. */
  private[graft] def contractWithDegrees(edgesCost: DataFrame): DataFrame = {
    val spark = edgesCost.sparkSession
    import spark.implicits._
    val e = struct($"edge_id", $"from_id", $"to_id", $"from_lat", $"from_lon",
      $"to_lat", $"to_lon", $"len_m", $"cost10", $"lvl", $"oneway", $"from_tc".as("tc"))
    edgesCost
      .select($"way_id", $"pos", e.as("e"), explode(array(lit(0), lit(1))).as("side"))
      .select(when($"side" === 0, $"e.from_id").otherwise($"e.to_id").as("node_id"),
        struct($"way_id", $"pos", $"side", when($"side" === 0, $"e").as("e")).as("end"))
      .groupBy($"node_id")
      .agg(collect_list($"end").as("ends"))
      // the degree is the node's end count: one list entry per end
      .select(size($"ends").cast("long").as("deg"), explode($"ends").as("x"))
      .select($"x.way_id".as("way_id"), struct($"x.pos", $"x.side", $"deg", $"x.e").as("end"))
      .groupBy($"way_id")
      .agg(collect_list($"end").as("ends"))
      .select($"way_id", explode(contractChains($"ends")).as("c"))
      .select($"way_id", $"c.*")
  }

  /** The raw edges of resolved way nodes (way_id, lvl, oneway, pos,
    * node_id, lat, lon, from_tc): one grouped pass per way takes its nodes
    * in position order and pairs each with the next (WayOps.wayEdges). A
    * node between two of them that lies outside the bbox is skipped, as
    * it has no coordinates. Output: the edgesCost schema without cost10. */
  private[graft] def segments(resolved: DataFrame): DataFrame = {
    import resolved.sparkSession.implicits._
    resolved
      .select($"way_id", $"lvl", $"oneway",
        struct($"pos", $"node_id", $"lat", $"lon", $"from_tc").as("node"))
      .groupBy($"way_id", $"lvl", $"oneway")
      .agg(collect_list($"node").as("nodes"))
      .select($"way_id", $"lvl", $"oneway", explode(wayEdges($"nodes")).as("s"))
      // deterministic edge id: way id in high bits, position in low
      .select(($"way_id" * lit(65536L) + $"s.pos").as("edge_id"), $"way_id",
        $"s.pos".as("pos"), $"s.from_id".as("from_id"), $"s.to_id".as("to_id"),
        $"s.from_lat".as("from_lat"), $"s.from_lon".as("from_lon"),
        $"s.to_lat".as("to_lat"), $"s.to_lon".as("to_lon"), $"s.len_m".as("len_m"),
        $"lvl", $"oneway", $"s.from_tc".as("from_tc"))
  }

  /** G8 fixGaps (OsmBuilder.cpp:1080-1122): merge degree-1 endpoints lying
    * within toleranceM of each other — real OSM has sub-meter digitization
    * gaps that otherwise split the graph into unroutable components. The
    * candidate pairs come from a k-ring self-join of deg-1 endpoints at a
    * fine cell resolution (the reference's NodeGrid padded-box query); the
    * smaller node id wins, 2-chains resolve through one extra hop. */
  def fixGaps(edges: DataFrame, toleranceM: Double = 1.0): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val ends = edges.select($"from_id".as("node_id"), $"from_lat".as("lat"), $"from_lon".as("lon"))
      .unionByName(edges.select($"to_id".as("node_id"), $"to_lat".as("lat"), $"to_lon".as("lon")))
    val deg1 = ends.groupBy($"node_id")
      .agg(count(lit(1)).as("deg"), min($"lat").as("lat"), min($"lon").as("lon"))
      .filter($"deg" === 1)
      .cache() // consumed by both ring-join sides
    try mergeGaps(edges, deg1.select($"node_id", $"lat", $"lon"), toleranceM)
    finally deg1.unpersist()
  }

  /** The degree-1 endpoints (node_id, lat, lon) of edges that carry their
    * endpoint degrees (contractWithDegrees' output): a degree-1 node is
    * the end of exactly one edge, so a filter finds each once — no
    * aggregation. One scan emits both ends of an edge, the end that is not
    * degree 1 as null. */
  private[graft] def degreeOneEnds(edges: DataFrame): DataFrame = {
    import edges.sparkSession.implicits._
    def end(deg: String, id: String, lat: String, lon: String) =
      when(col(deg) === 1, struct(col(id).as("node_id"), col(lat).as("lat"), col(lon).as("lon")))
    edges.filter($"from_deg" === 1 || $"to_deg" === 1)
      .select(explode(array(end("from_deg", "from_id", "from_lat", "from_lon"),
        end("to_deg", "to_id", "to_lat", "to_lon"))).as("e"))
      .filter($"e".isNotNull)
      .select($"e.node_id", $"e.lat", $"e.lon")
  }

  /** fixGaps over a given degree-1 endpoint table deg1(node_id, lat, lon). */
  private[graft] def mergeGaps(edges: DataFrame, deg1: DataFrame, toleranceM: Double): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // res 24: cellDeg = 90/2^24 deg ~ 0.6 m — a k=1 ring covers 1 m.
    // Candidate pairs: a in the ring of b's cell. One exchange by cell
    // finds them: every endpoint is emitted into each cell of its ring
    // (its own cell included), and within a cell each endpoint pairs with
    // the endpoints whose OWN cell it is — the ring self-join, without
    // shuffling the two join sides separately.
    val res = 24
    val inCell = deg1
      .select($"node_id", $"lat", $"lon", gcell($"lat", $"lon", res).as("own"),
        explode(kring(gcell($"lat", $"lon", res), 1)).as("cell"))
      .select($"cell", struct($"node_id", $"lat", $"lon", ($"own" === $"cell").as("own")).as("x"))
      .groupBy($"cell")
      .agg(collect_list($"x").as("m"))
    // each x of a cell's list pairs with every y in its own cell with a
    // higher id within the tolerance (WayOps.gapPairs)
    val pairs = inCell
      .select(explode(gapPairs($"m", toleranceM)).as("p"))
      .select($"p.a", $"p.a_lat", $"p.a_lon", $"p.b")
    // short-circuit: no mergeable endpoint pairs (the common case on a
    // well-digitized extract, and always true on the synthetic bench
    // world). The full path below with an EMPTY mapping is a value-level
    // identity — every left_outer misses, coalesce keeps the original
    // node/geometry values — so skipping it changes nothing except the
    // plan: the mapping self-join, two broadcast builds and the geometry
    // rebuild projection disappear from the downstream checkpoint job.
    if (pairs.isEmpty) return edges
    // canonical target per merged node; resolve one chain hop (b->a, c->b)
    val m0 = pairs.groupBy($"b")
      .agg(min_by(struct($"a", $"a_lat", $"a_lon"), $"a").as("t"))
      .select($"b", $"t.a".as("a"), $"t.a_lat".as("a_lat"), $"t.a_lon".as("a_lon"))
    val mapping = m0.as("m1")
      .join(m0.as("m2"), col("m1.a") === col("m2.b"), "left_outer")
      .select(col("m1.b").as("b"),
        coalesce(col("m2.a"), col("m1.a")).as("a"),
        coalesce(col("m2.a_lat"), col("m1.a_lat")).as("a_lat"),
        coalesce(col("m2.a_lon"), col("m1.a_lon")).as("a_lon"))
    val fm = mapping.select($"b".as("from_id"), $"a".as("nf_id"),
      $"a_lat".as("nf_lat"), $"a_lon".as("nf_lon"))
    val tm = mapping.select($"b".as("to_id"), $"a".as("nt_id"),
      $"a_lat".as("nt_lat"), $"a_lon".as("nt_lon"))
    edges.join(broadcast(fm), Seq("from_id"), "left_outer")
      .join(broadcast(tm), Seq("to_id"), "left_outer")
      .withColumn("from_id2", coalesce($"nf_id", $"from_id"))
      .withColumn("from_lat2", coalesce($"nf_lat", $"from_lat"))
      .withColumn("from_lon2", coalesce($"nf_lon", $"from_lon"))
      .withColumn("to_id2", coalesce($"nt_id", $"to_id"))
      .withColumn("to_lat2", coalesce($"nt_lat", $"to_lat"))
      .withColumn("to_lon2", coalesce($"nt_lon", $"to_lon"))
      // geometry endpoints follow the merged node position
      .withColumn("geom", concat(
        array(struct($"from_lat2".as("lat"), $"from_lon2".as("lon"))),
        expr("slice(geom, 2, greatest(size(geom) - 2, 0))"),
        array(struct($"to_lat2".as("lat"), $"to_lon2".as("lon")))))
      .drop("from_id", "from_lat", "from_lon", "to_id", "to_lat", "to_lon",
        "nf_id", "nf_lat", "nf_lon", "nt_id", "nt_lat", "nt_lon")
      .withColumnRenamed("from_id2", "from_id")
      .withColumnRenamed("from_lat2", "from_lat")
      .withColumnRenamed("from_lon2", "from_lon")
      .withColumnRenamed("to_id2", "to_id")
      .withColumnRenamed("to_lat2", "to_lat")
      .withColumnRenamed("to_lon2", "to_lon")
  }

  /** One F6 rule: read `key` from the entity's own tags, or from the tags
    * of a relation the entity is a member of (DeepAttrRule,
    * /root/reference/src/pfaedle/osm/OsmReadOpts.h:65-95). */
  case class DeepAttrRule(key: String, fromRelation: Boolean)

  /** F6 deep attribute extraction (OsmBuilder.cpp:980-1029): first-match
    * over an ordered rule list, where relation-aware rules pull the tag
    * from the lowest-id containing relation (deterministic tie-break).
    * entities(id, tags); rels(id, tags, members); mtype selects the member
    * type (0 = node, 1 = way). Returns (id, <keep columns>, <out>). */
  def deepAttr(entities: DataFrame, rels: DataFrame, mtype: Int,
               rules: Seq[DeepAttrRule], out: String,
               keep: Seq[String] = Nil): DataFrame = {
    val spark = entities.sparkSession
    import spark.implicits._
    // the member id first: the aggregates below sort on it before and
    // after their exchange, and share the sort's generated classes
    lazy val memberTags = rels.select($"id".as("rel_id"), $"tags".as("rtags"),
        explode($"members").as("m"))
      .filter($"m.mtype" === mtype)
      .select($"m.ref".as("id"), $"rel_id", $"rtags")
    var df = entities.select(($"id" +: $"tags" +: keep.map(col)): _*)
    rules.zipWithIndex.foreach { case (r, i) =>
      if (!r.fromRelation) df = df.withColumn(s"v$i", $"tags".getItem(r.key))
      else {
        val rv = memberTags.filter($"rtags".getItem(r.key).isNotNull)
          .groupBy($"id")
          .agg(min_by($"rtags".getItem(r.key), $"rel_id").as(s"v$i"))
        // rv is already partitioned by id (its aggregate): a hash join on
        // that partitioning builds rv's side with no sort of either side
        // (a merge join sorted both). Its keys are unique, so no build
        // key is skewed, and AQE bounds each task's build side.
        df = df.join(rv.hint("shuffle_hash"), Seq("id"), "left_outer")
      }
    }
    df.select(($"id" +: keep.map(col)) :+
      coalesce(rules.indices.map(i => col(s"v$i")): _*).as(out): _*)
  }

  case class BBox(latMin: Double, lonMin: Double, latMax: Double, lonMax: Double) {
    def pad(padM: Double): BBox = {
      val dLat = padM / Geo.MPerDeg
      val dLon = padM / (Geo.MPerDeg * math.max(0.1, Geo.latLngDistFactor((latMin + latMax) / 2)))
      BBox(latMin - dLat, lonMin - dLon, latMax + dLat, lonMax + dLon)
    }
  }

  /** Feed bbox from stops (A1): min/max aggregation. */
  def feedBBox(stops: DataFrame): BBox = {
    // folded per partition and merged on the driver: one job, where the
    // global aggregate ran a shuffle stage and a result stage. Spark's
    // min/max semantics per column: nulls skipped, NaN above every number.
    type MinMax = Option[(Double, Double)]
    def lo(a: Double, b: Double) = if (java.lang.Double.compare(a, b) <= 0) a else b
    def hi(a: Double, b: Double) = if (java.lang.Double.compare(a, b) >= 0) a else b
    def merge(x: MinMax, y: MinMax): MinMax = (x, y) match {
      case (Some((a, b)), Some((c, d))) => Some((lo(a, c), hi(b, d)))
      case _ => x.orElse(y)
    }
    def add(m: MinMax, r: org.apache.spark.sql.Row, i: Int): MinMax =
      if (r.isNullAt(i)) m else merge(m, Some((r.getDouble(i), r.getDouble(i))))
    val (lat, lng) = stops.select(col("lat"), col("lng")).rdd
      .aggregate((None: MinMax, None: MinMax))(
        (acc, r) => (add(acc._1, r, 0), add(acc._2, r, 1)),
        (x, y) => (merge(x._1, y._1), merge(x._2, y._2)))
    require(lat.isDefined && lng.isDefined, "feedBBox: no stop coordinates")
    BBox(lat.get._1, lng.get._1, lat.get._2, lng.get._2)
  }

  /** The built graph. transitLines(short_name, from_str, to_str, colour,
    * line_id) is the line dim; wayLines(way_id, line_id, short_name,
    * from_str, to_str, colour) the lines each way belongs to, with their
    * names. */
  case class GraphTables(nodes: DataFrame, edges: DataFrame, stations: DataFrame,
                         restrictions: DataFrame, transitLines: DataFrame,
                         wayLines: DataFrame, turnCycles: DataFrame,
                         blockers: DataFrame)

  /** O5 multi-MOT shared scan: ONE pass over the raw OSM tables serves
    * every MOT config. The union keep-filter + union tag projection
    * (OsmConfig.mergeForGraph — the reference's OsmFilter::merge,
    * OsmBuilder.cpp:235-238) cut the raw scan once and materialize the
    * filtered frames; each MOT's build then runs on that small subset
    * with its OWN levels/speeds/stations. A bus+rail feed no longer pays
    * a second pass over the (at scale, multi-TB) raw planet tables; the
    * per-MOT results are identical to standalone builds because each
    * MOT's keep-set is a subset of the union. */
  def buildShared(spark: SparkSession, osmNodesRaw: DataFrame, osmWaysRaw: DataFrame,
                  osmRels: DataFrame, bbox: BBox,
                  cfgs: Seq[(String, OsmConfig)]): Map[String, GraphTables] = {
    import spark.implicits._
    val merged = OsmConfig.mergeForGraph(cfgs.map(_._2))
    val ways = Boundary.eager(pruneTags(osmWaysRaw, merged)
      .filter(tagMatches($"tags", merged.keepWays)))
    // shared node checkpoint restricted to nodes any MOT build can touch:
    // members of the union-kept ways (edge geometry) plus nodes with a
    // surviving tag (station/blocker/turn-cycle/nohup rules all match on
    // tags, which pruneTags already projected to the merged key set). At
    // continental scale the bbox alone kept billions of geometry nodes of
    // DROPPED ways in the materialization; this semi-join cuts the shared
    // checkpoint to what downstream joins can actually reach.
    val bboxN = pruneTags(osmNodesRaw, merged)
      .filter($"lat" >= bbox.latMin && $"lat" <= bbox.latMax &&
              $"lon" >= bbox.lonMin && $"lon" <= bbox.lonMax)
    val wayMembers = ways.select(explode($"nodes").as("id")).distinct()
    val nodes = Boundary.eager(bboxN.filter($"tags".isNotNull && size($"tags") > 0)
      .unionByName(bboxN.filter($"tags".isNull || size($"tags") === 0)
        .join(wayMembers, Seq("id"), "left_semi")))
    cfgs.map { case (name, cfg) =>
      name -> build(spark, nodes, ways, osmRels, bbox, cfg)
    }.toMap
  }

  /** Full graph build. Inputs are osm_nodes / osm_ways / osm_rels DataFrames
    * (FIXTURES.md §2 schemas). */
  def build(spark: SparkSession, osmNodes: DataFrame, osmWays: DataFrame,
            osmRels: DataFrame, bbox: BBox, cfg: OsmConfig): GraphTables = {
    import spark.implicits._

    // F5's tag-key projection (pruneTags) is not needed here: every rule
    // is read from the tags before the first exchange, so only the station
    // nodes carry their tags into a join. The projection is an interpreted
    // map_filter that cuts each plan's codegen stage in two.

    // ---- F1: bbox node filter (predicate pushes to the scan) ----
    val bboxNodes = osmNodes
      .filter($"lat" >= bbox.latMin && $"lat" <= bbox.latMax &&
              $"lon" >= bbox.lonMin && $"lon" <= bbox.lonMax)

    // ---- F2 + J1: kept ways = tag match AND >=1 member node in bbox ----
    val taggedWays = osmWays.filter(tagMatches($"tags", cfg.keepWays))
    // level and direction are way attributes: classified once per way,
    // before the explode (F3; twoway rules override both oneway
    // directions, OsmFilter.cpp:55-64)
    val wayNodePairs = taggedWays
      .select($"id".as("way_id"), levelOf($"tags", cfg.levelRules).as("lvl"),
        when(tagMatches($"tags", cfg.twowayRules), lit(0))
          .when(tagMatches($"tags", cfg.onewayRules), lit(1))
          .when(tagMatches($"tags", cfg.onewayRevRules), lit(2))
          .otherwise(lit(0)).as("oneway"),
        posexplode($"nodes").as(Seq("pos", "node_id")))
      // the join key first, as on the node side: both exchanges share
      // their partitioning projection's generated class
      .select($"node_id", $"way_id", $"lvl", $"oneway", $"pos")

    // ---- J2: resolve node coords, consecutive pairs -> edges ----
    // The reference's pass-1 way keep-filter ("any member node in bbox",
    // OsmIdSet bloom semi-join, OsmBuilder.cpp:623-637) is SUBSUMED by the
    // coordinate inner join below: a way with no member in the bbox
    // contributes zero resolved pairs either way, and for kept ways the
    // coord join drops exactly the same out-of-bbox members. The previous
    // explicit keptWayIds semi-join (distinct over all way-node pairs +
    // a second pass over wayNodePairs) was therefore a value-level no-op
    // costing a full extra shuffle of the pair table at scale.
    // nohup nodes (OsmBuilder.cpp:680-683): ways passing through get their
    // OWN node copy, so they never interconnect there — remap the node id
    // to a way-local synthetic id (same way keeps connectivity via pos).
    // Break nodes for the G8 contraction — turn cycles (F4: no turn costs
    // there, Weights.cpp:125, and never contracted through,
    // OsmBuilder.cpp:1591-1594), station nodes and snap blockers
    // (StationSnap's eq/blocker walks and the turn cost oracle need them
    // addressable) — are node tags too. Both flags ride on the node side
    // of the coordinate join, so neither needs a join of its own. A
    // remapped nohup node is no longer the tagged node id, so it never
    // breaks a chain (as a join on the remapped id would find).
    // a shuffled hash join on node id, built on the node side: the plan
    // for the planet-scale node table, kept at every size (a run-time
    // switch to broadcast costs a job). Node ids are unique, so no build
    // key is skewed, and AQE bounds each task's build side; a merge join
    // sorted both sides.
    val resolved0 = wayNodePairs
      .join(bboxNodes.select($"id".as("node_id"), $"lat", $"lon",
        tagMatches($"tags", cfg.nohupRules).as("nohup"),
        tagMatches($"tags", cfg.turnCycleRules ++ cfg.stationRules ++
          cfg.stationBlockerRules).as("brk_node")).hint("shuffle_hash"), Seq("node_id"))
    val resolved =
      (if (cfg.nohupRules.isEmpty) resolved0
       else resolved0
         .withColumn("node_id", when($"nohup",
           -($"way_id" * 65536L + $"pos")).otherwise($"node_id")))
       .withColumn("from_tc", when($"brk_node" && !$"nohup", lit(1)))
    val edgesRaw = segments(resolved)

    // ---- G8 cost from level speed, fixed-point decisecond (4.10) ----
    val speeds = cfg.levelSpeedsKmh.map(_ / 3.6) // m/s per level
    val speedCol = speeds.zipWithIndex.foldRight(lit(speeds.last): org.apache.spark.sql.Column) {
      case ((s, i), acc) => when($"lvl" === i, lit(s)).otherwise(acc)
    }
    val edgesCost = edgesRaw
      .withColumn("cost10", costToInt($"len_m" / speedCol))

    // ---- turn-cycle nodes (F4): no turn costs there (Weights.cpp:125) ----
    val turnCycles = bboxNodes
      .filter(tagMatches($"tags", cfg.turnCycleRules))
      .select($"id".as("node_id"))

    // ---- F4 station-snap blocker nodes (gates/bollards; OsmFilter.cpp:72-74) ----
    val blockers = bboxNodes.filter(tagMatches($"tags", cfg.stationBlockerRules))
      .select($"id".as("node_id"))

    // ---- G8 collapseEdges: contract deg-2 chains within each way ----
    // Deferred boundary on the contraction: fixGaps and the cell cover
    // below both read it, sequentially on the driver.
    val contracted0 = Boundary.deferred(contractWithDegrees(edgesCost))

    // ---- G8 fixGaps: 1 m endpoint merge of degree-1 nodes ----
    val contracted = mergeGaps(contracted0, degreeOneEnds(contracted0), toleranceM = 1.0)
      .drop("from_deg", "to_deg")

    // ---- cells: cover the edge GEOMETRY bbox at cfg.cellRes ----
    // (G9 deg-2 chain dedup happens kernel-side on the broadcast graph —
    // CompactGraph.chainOf — mirroring the reference's in-memory walk,
    // ShapeBuilder.cpp:287-316; a distributed labeling here paid O(log n)
    // join rounds per build for a property of the bounded dimension table)
    //
    // boundary: every downstream consumer re-references the build
    // DAG, and plan STRINGS expand shared subtrees per reference —
    // measured 45M chars at the 64x128 bench world — which AQE re-renders
    // on every plan update, a pure-driver cost that anti-scales.
    // Truncating the lineage here makes every downstream plan shallow; the
    // graph is the bounded dimension, so materializing it is free.
    // geomCover: bbox + cover in one codegen'd pass (was four interpreted
    // transform/array_min/array_max passes feeding CodegenFallback
    // CellsCover — the dominant task time of this checkpoint job)
    val edges = Boundary.deferred(
      contracted.withColumn("cells", geomCover($"geom", cfg.cellRes)))

    // ---- station nodes (F4 station predicate); names via F6 deep attr
    // extraction: own name, else the name of a containing relation (e.g. a
    // stop_area) — OsmBuilder.cpp:980-1029 statAttrRules ----
    // track/platform number from the node's own tags, first configured key
    // wins (reference statAttrRules.platformRule, osm_track_number_tags)
    val trackCol =
      if (cfg.platformTagKeys.isEmpty) lit(null).cast("string")
      else coalesce(cfg.platformTagKeys.map(k => $"tags".getItem(k)): _*)
    // the station attributes ride through deepAttr (no self-join of the
    // station nodes against their own names)
    val stationNodes = bboxNodes.filter(tagMatches($"tags", cfg.stationRules))
      .select($"id", $"tags", $"lat", $"lon",
        gcell($"lat", $"lon", cfg.cellRes).as("cell"), trackCol.as("track"))
    val stations = deepAttr(stationNodes, osmRels, mtype = 0,
      Seq(DeepAttrRule("name", fromRelation = false),
        DeepAttrRule("name", fromRelation = true)), "name",
      keep = Seq("lat", "lon", "cell", "track"))
      .select($"id".as("node_id"), $"lat", $"lon", $"cell", $"track", $"name")

    // ---- graph nodes: endpoints of kept edges + degree + cell ----
    val nodeIds = edges.select($"from_id".as("node_id"))
      .unionByName(edges.select($"to_id".as("node_id"))).distinct()
    val nodes = nodeIds
      .join(bboxNodes.select($"id".as("node_id"), $"lat", $"lon"), Seq("node_id"))
      .withColumn("cell", gcell($"lat", $"lon", cfg.cellRes))

    // ---- J3 + G7: restrictions from type=restriction relations ----
    // members: array<struct<ref:long, mtype:byte/int, role:string>>
    val restRels = osmRels.filter($"tags".getItem("type") === "restriction")
      .withColumn("positive",
        $"tags".getItem("restriction").startsWith("only_"))
    // the first member of each role and type (WayOps.memberIndex)
    val restrictions = restRels.select($"id", $"positive",
        memberRef($"members", "from", 1).as("from_way"),
        memberRef($"members", "via", 0).as("via_node"),
        memberRef($"members", "to", 1).as("to_way"))
      .filter($"from_way".isNotNull && $"via_node".isNotNull && $"to_way".isNotNull)
      .select($"via_node", $"from_way", $"to_way", $"positive")

    // ---- transit line relations (OsmBuilder.cpp:1316-1395): interned dim ----
    val routeRels = osmRels.filter($"tags".getItem("type") === "route")
      .select($"id".as("rel_id"),
        $"tags".getItem("ref").as("short_name"),
        $"tags".getItem("from").as("from_str"),
        $"tags".getItem("to").as("to_str"),
        $"tags".getItem("colour").as("colour"), $"members")
    // deterministic id = hash of the full identity (incl. colour): the r3
    // row_number() ran a single-partition global window (the WindowExec
    // warn spam, an anti-scale sort) AND ordered on a strict subset of the
    // distinct key, so two colours of one line got nondeterministic ids
    val lineId = xxhash64($"short_name", $"from_str", $"to_str", $"colour")
    val lineDim = routeRels
      .select($"short_name", $"from_str", $"to_str", $"colour").distinct()
      .withColumn("line_id", lineId)
    // a relation's line is the lineDim row of its four identity columns;
    // the equi-join that found it matched exactly the relations with all
    // four non-null (lineDim holds each distinct identity once), so a
    // filter plus the same hash is that join. Each row carries its line's
    // names too, so the graph collect, the color vote and the distributed
    // build read them here instead of joining the line dim back.
    val wayLines = routeRels
      .filter($"short_name".isNotNull && $"from_str".isNotNull &&
        $"to_str".isNotNull && $"colour".isNotNull)
      .select(explode($"members").as("m"), lineId.as("line_id"),
        $"short_name", $"from_str", $"to_str", $"colour")
      .filter($"m.mtype" === 1)
      .select($"m.ref".as("way_id"), $"line_id", $"short_name", $"from_str", $"to_str",
        $"colour")
      .distinct()

    GraphTables(nodes, edges, stations, restrictions, lineDim, wayLines,
      turnCycles, blockers)
  }
}
