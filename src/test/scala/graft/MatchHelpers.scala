package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.osm.OsmConfig
import graft.router.{CompactGraph, GraphPartitions, Matcher}

/** Entry points only the tests use, over the library's matching calls. */
object MatchHelpers {

  /** Candidates without station penalties: the K nearest edges per stop,
    * pen10 from the snap distance alone (the formulation
    * `Matcher.buildCandsWithStations` extends). */
  def buildCands(spark: SparkSession, stops: DataFrame, edges: DataFrame,
                 cfg: OsmConfig, maxAbsLat: Option[Double] = None): DataFrame =
    PriorPlans.buildCands(spark, stops, edges, cfg, maxAbsLat)

  /** The matched shapes of every trip. */
  def matchTrips(spark: SparkSession, tripStops: DataFrame, cands: DataFrame,
                 graph: CompactGraph, cfg: OsmConfig): DataFrame =
    Matcher.matchTripsFull(spark, tripStops, cands, graph, cfg).shapes

  /** Solve the distinct sequences of `tripStopsWithKey` rows. */
  def solveKeyedSeqs(spark: SparkSession, keyed: DataFrame, cands: DataFrame,
                     parts: GraphPartitions, cfg: OsmConfig): DataFrame =
    Matcher.solveSeqs(spark, Matcher.distinctSeqs(keyed), cands, parts, cfg)
}
