package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.eval.Shapevl
import graft.fixtures.{SyntheticWorld, WorldTables}
import graft.geo.Geo
import graft.osm.{GraphBuilder, OsmConfig}
import graft.plans.ExecutedPlans
import graft.router.{CompactGraph, Matcher}

class EvalSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("scoreTrip: identical shapes -> an=0, detour -> unmatched segment") {
    val truth = (0 to 10).map(i => (48.0, 7.8 + i * 0.002, i * 0.002 * Geo.MPerDeg *
      Geo.latLngDistFactor(48.0))).toArray
    val anchors = Array(truth(0)._3, truth(5)._3, truth(10)._3)
    val same = Shapevl.scoreTrip("t", truth, truth, anchors)
    assert(!same.skipped && same.an == 0.0 && same.avg_fd < 1.0)

    // detour: shift the middle third 200 m north -> first segment unmatched
    val detour = truth.zipWithIndex.map { case ((la, lo, d), i) =>
      if (i >= 2 && i <= 4) (la + 200.0 / Geo.MPerDeg, lo, d) else (la, lo, d)
    }
    val det = Shapevl.scoreTrip("t", truth, detour, anchors)
    assert(det.an == 0.5 && det.al == 0.5, s"an=${det.an} al=${det.al}")

    // degenerate: too short
    val skp = Shapevl.scoreTrip("t", truth.take(1), truth, anchors)
    assert(skp.skipped)
  }

  /** the matched 8x12 world: evaluate's four inputs, each materialized, and
    * the trip count */
  lazy val inputs = {
    val world = SyntheticWorld.build(rows = 8, cols = 12)
    val t = WorldTables(spark, world)
    val cfg = OsmConfig.bus
    val bbox = GraphBuilder.feedBBox(t.stops).pad(cfg.bboxPaddingM)
    val gt = GraphBuilder.build(spark, t.osmNodes, t.osmWays, t.osmRels, bbox, cfg)
    val graph = CompactGraph.fromEdges(gt.edges, gt.restrictions)
    val cands = MatchHelpers.buildCands(spark, t.stops, gt.edges, cfg)
    val mr = Matcher.matchTripsFull(spark, WorldTables.tripStops(t), cands, graph, cfg)
    val (gen, anchors) = (mr.shapes, mr.anchors)

    // truth shapes are per route ("SHP_R<r>"): key them by trip
    val truthByTrip = t.trips.select($"trip_id", $"route_id")
      .join(t.truthShapes.withColumn("route_id",
        regexp_replace($"shape_id", "SHP_R", "R")), Seq("route_id"))
      .select($"trip_id".as("shape_id"), $"seq", $"lat", $"lng",
        $"travel_dist")
    val stopDists = t.stopTimes.select($"trip_id", $"seq", $"shape_dist")
    // generated anchors: measure of the shape at each stop's snap point
    val stopDistsGen = anchors
      .join(gen, anchors("trip_id") === gen("shape_id") &&
        anchors("point_seq") === gen("seq"))
      .select(anchors("trip_id"), $"stop_idx".as("seq"),
        $"travel_dist".as("shape_dist"))
    (Seq(truthByTrip, gen, stopDists, stopDistsGen).map(_.localCheckpoint()), t.trips.count())
  }

  /** order-insensitive row multiset */
  private def bag(df: DataFrame): Seq[String] = df.toJSON.collect().toSeq.sorted

  test("end-to-end accuracy: matched shapes score an_0 = 1.0 vs ground truth") {
    val (Seq(truthByTrip, gen, stopDists, stopDistsGen), nTrips) = inputs
    val scores = Shapevl.evaluate(spark, truthByTrip, gen, stopDists, stopDistsGen).cache()
    assert(scores.count() == nTrips)
    assert(scores.filter($"skipped").count() == 0)
    val bad = scores.filter($"an" > 0.0)
    assert(bad.count() == 0, s"trips with unmatched segments: ${bad.collect().mkString}")

    val rep = Shapevl.report(scores).head()
    assert(rep.getAs[Double]("an_0") == 1.0)
    assert(rep.getAs[Double]("avg_frechet") < 50.0)
  }

  test("one grouped pass scores as the four aggregates and three joins did") {
    val (Seq(truth, gen, sd, sdg), nTrips) = inputs
    assert(bag(Shapevl.evaluate(spark, truth, gen, sd, sdg)) ==
      bag(PriorPlans.shapevlEvaluate(spark, truth, gen, sd, sdg)))
    assert(bag(Shapevl.evaluate(spark, truth, gen, sd)) ==
      bag(PriorPlans.shapevlEvaluate(spark, truth, gen, sd)))
    // one trip without a generated shape, another without generated stop
    // dists, and rows of a null trip in every input
    val Array(noGen, noSdg) = sd.select($"trip_id").distinct().as[String].collect().sorted.take(2)
    def withNull(df: DataFrame, key: String) =
      df.unionByName(df.limit(3).withColumn(key, lit(null).cast("string")))
    val in = Seq(withNull(truth, "shape_id"), withNull(gen.filter($"shape_id" =!= noGen), "shape_id"),
      withNull(sd, "trip_id"), withNull(sdg.filter($"trip_id" =!= noSdg), "trip_id"))
    val now = Shapevl.evaluate(spark, in(0), in(1), in(2), in(3))
    assert(bag(now) == bag(PriorPlans.shapevlEvaluate(spark, in(0), in(1), in(2), in(3))))
    assert(now.count() == nTrips - 2)
    assert(now.filter($"trip_id".isNull || $"trip_id".isin(noGen, noSdg)).count() == 0)
  }

  test("Shapevl.evaluate executes one exchange by trip and no broadcast") {
    val (Seq(truth, gen, sd, sdg), _) = inputs
    val plans = ExecutedPlans(spark) { Shapevl.evaluate(spark, truth, gen, sd, sdg).count() }
    // the execution's start event holds its initial plan once
    val byTrip = plans.headOption.toSeq.flatMap(SolvePlanShape.nodes(_, "Exchange"))
      .count(_.contains("hashpartitioning(trip_id"))
    val banned = Seq("BroadcastHashJoin", "BroadcastExchange").filter(b => plans.exists(_.contains(b)))
    assert(byTrip == 1 && banned.isEmpty,
      s"$byTrip exchanges by trip_id, banned [${banned.mkString(", ")}]\n" +
        SolvePlanShape.trees(plans))
  }
}
