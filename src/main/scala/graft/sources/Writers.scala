package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import graft.osm.OsmConfig

/** Sinks (SURVEY §2.1 S5, S8): GTFS shapes writer and GeoJSON debug sink —
  * plain projected DataFrame writes (the reference's streamed writers become
  * ordinary distributed writes; Spark spills natively, SURVEY 4.11). */
object Writers {

  /** S5: GTFS writer — writes shapes.txt-style CSV under outDir/shapes,
    * ordered, with the GTFS header columns. */
  def writeGtfsShapes(shapes: DataFrame, outDir: String): Unit = {
    import shapes.sparkSession.implicits._
    shapes
      .select($"shape_id", $"lat".as("shape_pt_lat"), $"lng".as("shape_pt_lon"),
        $"seq".as("shape_pt_sequence"), $"travel_dist".as("shape_dist_traveled"))
      .orderBy($"shape_id", $"shape_pt_sequence")
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).option("header", "true")
      .csv(s"$outDir/shapes")
  }

  /** S8: GeoJSON debug sink — one LineString feature per shape. */
  def shapesToGeoJson(shapes: DataFrame): String = {
    import shapes.sparkSession.implicits._
    val feats = shapes
      .groupBy($"shape_id")
      .agg(sort_array(collect_list(struct($"seq", $"lng", $"lat"))).as("pts"))
      .orderBy($"shape_id")
      .collect()
      .map { r =>
        val id = r.getString(0)
        val coords = r.getSeq[org.apache.spark.sql.Row](1)
          .map(p => s"[${p.getDouble(1)},${p.getDouble(2)}]").mkString(",")
        s"""{"type":"Feature","properties":{"shape_id":"$id"},"geometry":{"type":"LineString","coordinates":[$coords]}}"""
      }
    s"""{"type":"FeatureCollection","features":[${feats.mkString(",")}]}"""
  }
}

/** S7: Overpass / osmfilter query generators — emit the keep-filter config
  * as an Overpass-API XML query / osmfilter rule string
  * (OsmBuilder.cpp:264-343, 219-261). Driver-side string generation. */
object FilterQueryGen {
  def overpassXml(cfg: OsmConfig, bbox: graft.osm.GraphBuilder.BBox): String = {
    val rules = cfg.keepWays.map { r =>
      val v = if (r.value == "*") "" else s""" v="${r.value}""""
      s"""    <query type="way"><has-kv k="${r.key}"$v/><bbox-query s="${bbox.latMin}" w="${bbox.lonMin}" n="${bbox.latMax}" e="${bbox.lonMax}"/></query>"""
    }.mkString("\n")
    s"""<osm-script output="xml">
       |  <union>
       |$rules
       |  </union>
       |  <union><item/><recurse type="way-node"/></union>
       |  <print/>
       |</osm-script>""".stripMargin
  }

  def osmfilterRules(cfg: OsmConfig): String =
    "--keep=\"" + cfg.keepWays.map(r =>
      if (r.value == "*") r.key else s"${r.key}=${r.value}").mkString(" or ") + "\""
}
