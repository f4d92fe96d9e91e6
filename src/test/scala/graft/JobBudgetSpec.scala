package graft

import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

import org.apache.spark.graftbridge.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions.{lit, regexp_replace}
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.eval.Shapevl
import graft.fixtures.{SyntheticWorld, WorldTables}
import graft.osm.{GraphBuilder, OsmConfig, StationSnap}
import graft.overlay.ImageOverlay
import graft.images.ImageFixtures
import graft.router.{CompactGraph, Dijkstra, HopCache, Matcher, MatcherKernel}

/** Spark jobs per pipeline phase. Every job is a scheduler round trip, an
  * AQE re-plan and a set of whole-stage classes to generate and compile, so
  * on a small world the job count, not executor work, sets the wall time of
  * a rep. The eight calls are wired as the repository benchmark wires them
  * (graph build through tile verify, then the shape evaluation) on a seeded
  * 8x12 world; a second rep is measured after a warm-up rep. Each phase
  * must stay within its job budget, and the router's work counters must
  * equal the recorded values: removing jobs must not change what the kernel
  * does. Each phase's broadcast hash joins on a key other than one integral
  * column must equal the recorded count: such a join builds a hash relation
  * that holds a whole memory page (16 MB at 4 GB heap, 4 cores) in every JVM
  * that reads it, however few its rows. Codegen compiles are printed per
  * phase and asserted for the rep's seven pipeline phases together: a
  * class that misses Spark's codegen cache is generated, compiled and
  * JIT-compiled again on every rep, which makes class count a large share
  * of a small rep's time. The final plans of the pipeline phases hold no
  * interpreted expression (a non-leaf `CodegenFallback`, such as a
  * `transform` or `filter` lambda, takes its whole operator out of
  * whole-stage code generation; aggregate functions are not counted) and
  * no sort-merge join (its two sorts add stages and orderings a hash join
  * on the same exchange does without). */
class JobBudgetSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** Spark jobs per phase of one rep (the first seven calls sum to 103 in
    * the formulation before the fused plans, 59 before the grouped passes
    * per key, 50 before the candidates' one ring join) */
  val Budget: Map[String, Long] = Map("osm.graph_build" -> 11, "osm.station_snap" -> 7,
    "router.graph_collect" -> 4, "router.cands_join" -> 4, "router.viterbi_match" -> 14,
    "overlay.tile_overlay" -> 7, "overlay.tile_verify" -> 2, "eval" -> 3)

  /** the pipeline phases of a rep, the calls the repository benchmark times */
  val Pipeline: Set[String] = Budget.keySet - "eval"

  /** codegen compiles of the pipeline phases of one rep (346 before the
    * grouped passes per key, 239 to 251 before the hash joins, the
    * precompiled helpers and the one ring join; measured 178 since) */
  val CompileBudget = 186L

  /** broadcast hash joins per phase whose build key is not one integral
    * column; `viterbi_match`'s are `WorldTables.tripStops`' stop and trip
    * joins */
  val PagedBroadcasts: Map[String, Long] = Budget.map { case (n, _) => n -> 0L } +
    ("router.viterbi_match" -> 2L)

  private final class JobCounter extends SparkListener {
    val jobs = new LongAdder
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.increment()
  }

  private val Integral = Set[DataType](ByteType, ShortType, IntegerType, LongType)

  /** From the final plans of every query that completes, each operator
    * counted once: the build keys of the broadcast hash joins not keyed by
    * one integral column, the non-leaf interpreted expressions other than
    * aggregate functions, and the sort-merge joins. */
  private final class PlanCounter extends QueryExecutionListener {
    private val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean])
    val joins = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val fallbacks = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val mergeJoins = new java.util.concurrent.ConcurrentLinkedQueue[String]
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      walk(qe.executedPlan)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    /** the outermost interpreted expressions of a tree */
    private def interpreted(e: Expression): Unit = e match {
      case f: CodegenFallback if f.children.nonEmpty && !f.isInstanceOf[AggregateFunction] =>
        fallbacks.add(f.prettyName)
      case _ => e.children.foreach(interpreted)
    }
    private def walk(p: SparkPlan): Unit = if (seen.add(p)) {
      p.expressions.foreach(interpreted)
      p match {
        case j: BroadcastHashJoinExec =>
          val keys = if (j.buildSide == BuildLeft) j.leftKeys else j.rightKeys
          if (keys.size != 1 || !Integral(keys.head.dataType))
            joins.add(keys.map(_.sql).mkString("(", ", ", ")"))
        case j: SortMergeJoinExec => mergeJoins.add(j.leftKeys.map(_.sql).mkString("(", ", ", ")"))
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case m: InMemoryTableScanExec => walk(m.relation.cachedPlan)
        case _ =>
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
  }

  private def materialize(df: org.apache.spark.sql.DataFrame) =
    df.localCheckpoint(true, StorageLevel.MEMORY_AND_DISK)

  /** what one phase of a rep ran */
  private case class Phase(name: String, jobs: Long, compiles: Long, paged: Seq[String],
                           fallbacks: Seq[String], mergeJoins: Seq[String])

  /** jobs, compiles, paged broadcast joins, interpreted expressions and
    * merge joins per phase of one rep, plus the router counters */
  private def rep(t: WorldTables.Tables, images: org.apache.spark.sql.DataFrame,
                  counter: JobCounter, plans: PlanCounter): (Seq[Phase], Seq[Long]) = {
    import spark.implicits._
    val cfg = OsmConfig.bus
    spark.catalog.clearCache()
    Dijkstra.Iters.reset()
    MatcherKernel.KernelSolves.reset()
    HopCache.clear()
    val phases = Seq.newBuilder[Phase]
    def phase[T](name: String)(body: => T): T = {
      ListenerDrain(spark.sparkContext)
      val j0 = counter.jobs.sum()
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val (b0, f0, m0) = (plans.joins.size, plans.fallbacks.size, plans.mergeJoins.size)
      val r = body
      ListenerDrain(spark.sparkContext)
      phases += Phase(name, counter.jobs.sum() - j0,
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0,
        plans.joins.asScala.toSeq.drop(b0), plans.fallbacks.asScala.toSeq.drop(f0),
        plans.mergeJoins.asScala.toSeq.drop(m0))
      r
    }
    val (gt0, bbox) = phase("osm.graph_build") {
      val bbox = GraphBuilder.feedBBox(t.stops).pad(cfg.bboxPaddingM)
      val g = GraphBuilder.build(spark, t.osmNodes, t.osmWays, t.osmRels, bbox, cfg)
      g.edges.cache().count()
      (g, bbox)
    }
    val gt = phase("osm.station_snap") {
      val (g, _) = StationSnap.refine(spark, gt0, cfg, gt0.blockers)
      g.edges.cache().count()
      g
    }
    val graph = phase("router.graph_collect") {
      CompactGraph.fromEdges(gt.edges, gt.restrictions, gt.wayLines, gt.transitLines,
        gt.turnCycles)
    }
    val cands = phase("router.cands_join") {
      val c = Matcher.buildCandsWithStations(spark, t.stops, gt.edges, gt.stations, cfg,
        maxAbsLat = Some(math.max(math.abs(bbox.latMin), math.abs(bbox.latMax))))
        .localCheckpoint(false, StorageLevel.MEMORY_AND_DISK_SER)
      c.count()
      c
    }
    val mr = phase("router.viterbi_match") {
      val mr = Matcher.matchTripsFull(spark, WorldTables.tripStops(t), cands, graph, cfg)
      mr.shapes.cache().count()
      mr
    }
    phase("overlay.tile_overlay") {
      ImageOverlay.assign(images, mr.shapes, cfg.cellRes).cache().count()
    }
    phase("overlay.tile_verify") {
      ImageOverlay.verify(spark, images).agg(org.apache.spark.sql.functions.count($"psnr_ok"))
        .first()
    }
    // the evaluation's inputs are joined outside the phase: the benchmark
    // materializes the truth tables at set-up and runs its own join for the
    // generated stop dists
    val truth = materialize(t.trips.select($"trip_id", $"route_id")
      .join(t.truthShapes.withColumn("route_id", regexp_replace($"shape_id", "SHP_R", "R")),
        Seq("route_id"))
      .select($"trip_id".as("shape_id"), $"seq", $"lat", $"lng", $"travel_dist"))
    val stopDists = materialize(t.stopTimes.select($"trip_id", $"seq", $"shape_dist"))
    val stopDistsGen = materialize(mr.anchors
      .join(mr.shapes, mr.anchors("trip_id") === mr.shapes("shape_id") &&
        mr.anchors("point_seq") === mr.shapes("seq"))
      .select(mr.anchors("trip_id"), $"stop_idx".as("seq"), $"travel_dist".as("shape_dist")))
    phase("eval") {
      Shapevl.evaluate(spark, truth, mr.shapes, stopDists, stopDistsGen)
        .filter(!$"skipped" && $"an" === lit(0.0)).count()
    }
    (phases.result(), Seq(MatcherKernel.KernelSolves.sum(), Dijkstra.Iters.sum(),
      HopCache.Hits.sum(), HopCache.Misses.sum()))
  }

  test("pipeline rep: jobs per phase within budget, router counters unchanged") {
    val world = SyntheticWorld.build(8, 12, seed = 5L, tripsPerRoute = 2, variedTrips = true)
    val raw = WorldTables(spark, world)
    val t = WorldTables.Tables(materialize(raw.osmNodes), materialize(raw.osmWays),
      materialize(raw.osmRels), materialize(raw.stops), materialize(raw.routes),
      materialize(raw.trips), materialize(raw.stopTimes), materialize(raw.truthShapes))
    val images = materialize(
      ImageFixtures.table(spark, world, OsmConfig.bus.cellRes, noiseTiles = 8))
    val counter = new JobCounter
    val plans = new PlanCounter
    spark.sparkContext.addSparkListener(counter)
    spark.listenerManager.register(plans)
    try {
      rep(t, images, counter, plans) // warm-up
      val (phases, counters) = rep(t, images, counter, plans)
      phases.foreach { p =>
        println(f"[job-budget] ${p.name}%-22s jobs ${p.jobs}%3d (budget ${Budget(p.name)}%3d) " +
          f"compiles ${p.compiles}%4d paged broadcast joins ${p.paged.size}%2d " +
          f"${p.paged.mkString(" ")} interpreted ${p.fallbacks.mkString("[", " ", "]")} " +
          f"merge joins ${p.mergeJoins.mkString("[", " ", "]")}")
      }
      val pipeline = phases.filter(p => Pipeline(p.name))
      val compiles = pipeline.map(_.compiles).sum
      println(s"[job-budget] pipeline jobs ${pipeline.map(_.jobs).sum} compiles $compiles, " +
        s"with eval jobs ${phases.map(_.jobs).sum} compiles ${phases.map(_.compiles).sum}")
      phases.foreach(p => assert(p.jobs <= Budget(p.name), s"${p.name} ran ${p.jobs} jobs"))
      assert(compiles <= CompileBudget, s"the pipeline phases compiled $compiles classes")
      assert(phases.map(p => p.name -> p.paged.size.toLong).toMap == PagedBroadcasts)
      assert(pipeline.flatMap(_.fallbacks).isEmpty, "interpreted expressions in the pipeline")
      assert(pipeline.flatMap(_.mergeJoins).isEmpty, "merge joins in the pipeline")
      // kernel solves, Dijkstra iterations, hop-cache hits and misses
      assert(counters == Seq(4L, 623L, 0L, 8L))
    } finally {
      spark.sparkContext.removeSparkListener(counter)
      spark.listenerManager.unregister(plans)
    }
  }
}
