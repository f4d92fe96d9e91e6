package graft.osm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.StringSim

/** Color + shape bookkeeping aggregations (SURVEY A6-A8):
  * shape-usage refcount/GC, route color consolidation, shape color vote. */
object ColorOps {

  /** A6: shape-usage refcount + GC — count trips per existing shape id;
    * shapes with zero remaining users are dropped
    * (ShapeBuilder.cpp:407-424,1226-1232). Returns surviving shape ids. */
  def liveShapes(trips: DataFrame, shapes: DataFrame): DataFrame = {
    import trips.sparkSession.implicits._
    val used = trips.filter($"shape_id".isNotNull && $"shape_id" =!= "")
      .groupBy($"shape_id").agg(count(lit(1)).as("n_trips"))
    shapes.select($"shape_id").distinct()
      .join(used, Seq("shape_id"), "left_semi")
  }

  /** A8: shape color vote — per matched trip, weight each traversed line
    * color by covered edge length; a color wins when it covers > 90% of
    * the matched length (ShapeBuilder.cpp:596-606,1249-1258).
    * hops(trip_id, edge_ids[]); edges(edge_id, way_id, len_m);
    * wayLines(way_id, line_id, colour), one row per (way, line). */
  def shapeColorVote(hops: DataFrame, edges: DataFrame, wayLines: DataFrame,
                     threshold: Double = 0.9): DataFrame = {
    import hops.sparkSession.implicits._
    val colorOf = udf((c: String) => StringSim.parseHexColor(c))
    val hopEdges = hops.select($"trip_id", explode($"edge_ids").as("edge_id"))
    val withColor = hopEdges
      .join(edges.select($"edge_id", $"way_id", $"len_m"), Seq("edge_id"))
      .join(wayLines.select($"way_id", colorOf($"colour").as("color")), Seq("way_id"))
      .filter($"color" >= 0)
    val totals = hopEdges
      .join(edges.select($"edge_id", $"len_m"), Seq("edge_id"))
      .groupBy($"trip_id").agg(sum($"len_m").as("total_m"))
    withColor.groupBy($"trip_id", $"color").agg(sum($"len_m").as("color_m"))
      .join(totals, Seq("trip_id"))
      .withColumn("coverage", $"color_m" / $"total_m")
      .filter($"coverage" > threshold)
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"trip_id")
          .orderBy($"coverage".desc, $"color")))
      .filter($"rk" === 1)
      .select($"trip_id", $"color", round($"coverage", 4).as("coverage"))
  }

  /** A7: route color consolidation — collect the voted colors per route;
    * single color -> update in place; multiple -> split the route into
    * `route_id::N` variants (ShapeBuilder.cpp:496-553,1213-1224).
    * When `routes` (with declared `color`/`text_color` int columns) is
    * given, the variant whose voted pair equals the route's DECLARED pair
    * keeps the original route id — the reference leaves that route intact
    * and mints `::N` only for the others (ShapeBuilder.cpp:520-524),
    * numbering the minted ones in color order with the matching variant
    * skipped. Without `routes` every variant of a split is renamed.
    * Returns (route_id, new_route_id, color, text_color). */
  def consolidateRouteColors(trips: DataFrame, tripColors: DataFrame,
                             routes: DataFrame = null): DataFrame = {
    import trips.sparkSession.implicits._
    val textOf = udf((c: Int) => StringSim.textColorFor(c))
    val perRoute = trips.select($"trip_id", $"route_id")
      .join(tripColors.select($"trip_id", $"color"), Seq("trip_id"))
      .select($"route_id", $"color").distinct()
    val counts = perRoute.groupBy($"route_id").agg(count(lit(1)).as("n_colors"))
    val withDecl =
      if (routes == null || !routes.columns.contains("color"))
        perRoute.withColumn("decl_color", lit(null).cast("int"))
          .withColumn("decl_text", lit(null).cast("int"))
      else perRoute.join(
        routes.select($"route_id", $"color".cast("int").as("decl_color"),
          (if (routes.columns.contains("text_color")) $"text_color".cast("int")
           else textOf($"color".cast("int"))).as("decl_text")),
        Seq("route_id"), "left")
    withDecl
      .withColumn("keeps", coalesce(
        $"color" === $"decl_color" && textOf($"color") === $"decl_text", lit(false)))
      .join(counts, Seq("route_id"))
      // reference numbering: minted ids count up in (color) order over the
      // NON-matching variants only — the matching one is skipped, not
      // numbered (ShapeBuilder.cpp:525-534 "find free id" inside the loop
      // that `continue`s past the declared pair)
      .withColumn("variant", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"route_id", $"keeps")
          .orderBy($"color")))
      .withColumn("new_route_id",
        when($"n_colors" === 1 || $"keeps", $"route_id")
          .otherwise(concat($"route_id", lit("::"), $"variant")))
      .select($"route_id", $"new_route_id", $"color", textOf($"color").as("text_color"))
  }

  /** A6 end-to-end shape GC: the final shape table of a run over a feed
    * WITH pre-existing shapes = the newly matched shapes plus those
    * pre-existing shapes still referenced by at least one trip after the
    * match (refcount decrement on replacement, delete at zero —
    * ShapeBuilder.cpp:407-424,1226-1232). `tripsAfter` carries the
    * post-match (trip_id, shape_id) assignment; orphaned old shapes
    * disappear, shared ones survive. */
  def gcShapes(tripsAfter: DataFrame, preShapes: DataFrame,
               matchedShapes: DataFrame): DataFrame = {
    val kept = preShapes.join(liveShapes(tripsAfter, preShapes),
      Seq("shape_id"), "left_semi")
    matchedShapes.unionByName(kept.select(matchedShapes.columns.map(col): _*))
  }

  /** A7 fare-rule copy on route split (ShapeBuilder.cpp:496-553,
    * updateRouteColors): when a route splits into colour variants
    * `R::N`, every fare rule referencing R is duplicated once per new
    * variant — without this, any feed with fares and multi-colour routes
    * silently loses fare coverage on the split trips. fareRules must
    * carry a `route_id` column; all other columns are copied verbatim;
    * rules of unsplit routes pass through unchanged. */
  def copyFareRules(fareRules: DataFrame, routeColors: DataFrame): DataFrame = {
    import fareRules.sparkSession.implicits._
    val splits = routeColors
      .filter($"new_route_id" =!= $"route_id")
      .select($"route_id", $"new_route_id").distinct()
    val copies = fareRules.join(splits, Seq("route_id"))
      .drop("route_id").withColumnRenamed("new_route_id", "route_id")
    fareRules.unionByName(copies.select(fareRules.columns.map(col): _*))
  }
}
