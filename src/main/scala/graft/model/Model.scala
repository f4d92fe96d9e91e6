package graft.model

/** Row types of the engine's tables (FIXTURES.md schemas; semantics from the
  * reference's structs — OSM: /root/reference/src/pfaedle/osm/Osm.h:19-69,
  * GTFS: /root/reference/src/pfaedle/gtfs/Feed.h:23-35). */

// ---- OSM side ----
case class OsmNode(id: Long, lat: Double, lon: Double, tags: Map[String, String])
case class OsmWay(id: Long, tags: Map[String, String], nodes: Array[Long])
case class OsmMember(ref: Long, mtype: Byte, role: String) // 0=node 1=way
case class OsmRel(id: Long, tags: Map[String, String], members: Array[OsmMember])

// ---- GTFS side ----
case class GtfsStop(stop_id: String, name: String, lat: Double, lng: Double,
                    platform_code: String, parent_station: String, location_type: Int)
case class GtfsRoute(route_id: String, short_name: String, long_name: String,
                     route_type: Int, color: Int, text_color: Int)
case class GtfsTrip(trip_id: String, route_id: String, service_id: String,
                    shape_id: String, trip_short_name: String)
case class GtfsStopTime(trip_id: String, seq: Int, stop_id: String,
                        arr_s: Int, dep_s: Int, shape_dist: Float)
case class GtfsShapePt(shape_id: String, seq: Int, lat: Double, lng: Double,
                       travel_dist: Float)

// ---- image payload (BASELINE.json input_hint) ----
case class ImageRow(image_id: String, bytes: Array[Byte], w: Int, h: Int,
                    fmt: String, caption: String, phash: Long)
