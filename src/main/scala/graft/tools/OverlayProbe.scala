package graft.tools

import org.apache.spark.sql.functions._

/** Isolated two-level scaling probe for the raster↔vector overlay phase
  * (tile_overlay printed 0.12 efficiency, executor-bound, in BENCH_r04's
  * job table). The full job probe can't separate the overlay's own scaling
  * from upstream cache states, so this fabricates a shapes table of the
  * same cardinality straight from the GTFS fixture — per-trip stop
  * polylines densified by linear interpolation — materializes it, and then
  * times ONLY images-build and assign at local-cluster[N,2] vs [4N...],
  * interleaved, steal-sampled, with executor task/GC attribution per rep.
  *
  * Env: SPARK_GRAFT_N (default 2), SPARK_GRAFT_REPS (3), SPARK_GRAFT_ROWS /
  * COLS / TPR (96/192/4500), SPARK_GRAFT_DENSIFY (4 interp points/segment),
  * SPARK_GRAFT_CLUSTER / SPARK_LOCAL_DIRS as in ScalingBench. */
object OverlayProbe {
  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("SPARK_GRAFT_N", "2").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val rows = sys.env.getOrElse("SPARK_GRAFT_ROWS", "96").toInt
    val cols = sys.env.getOrElse("SPARK_GRAFT_COLS", "192").toInt
    val tpr = sys.env.getOrElse("SPARK_GRAFT_TPR", "4500").toInt
    val densify = sys.env.getOrElse("SPARK_GRAFT_DENSIFY", "4").toInt
    val cfg = graft.osm.OsmConfig.bus

    case class Rep(par: Int, imagesSec: Double, assignSec: Double,
                   taskSec: Double, gcSec: Double, nTasks: Long,
                   steal: Double, pairs: Long)
    val out = scala.collection.mutable.ArrayBuffer[Rep]()

    for (rep <- 1 to reps; par <- Seq(n, 4 * n)) {
      val spark = ScalingBench.session(par)
      try {
        import spark.implicits._
        val world = graft.fixtures.SyntheticWorld.buildCached(rows, cols,
          tripsPerRoute = tpr, variedTrips = true)
        val t = graft.fixtures.WorldTables(spark, world)
        // per-trip stop polyline, densified: seq' = seq * (densify+1) + k
        val ts = graft.fixtures.WorldTables.tripStops(t)
          .select($"trip_id".as("shape_id"), $"seq", $"lat", $"lng")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"shape_id").orderBy($"seq")
        val shapes = graft.plans.Boundary.eager(ts
          .withColumn("lat2", lead($"lat", 1).over(w))
          .withColumn("lng2", lead($"lng", 1).over(w))
          .select($"shape_id", $"seq", $"lat", $"lng", $"lat2", $"lng2",
            explode(sequence(lit(0), lit(densify))).as("k"))
          .where($"lat2".isNotNull || $"k" === 0)
          .select($"shape_id",
            ($"seq" * (densify + 1) + $"k").as("seq"),
            when($"lat2".isNotNull, $"lat" + ($"lat2" - $"lat") * $"k" / (densify + 1))
              .otherwise($"lat").as("lat"),
            when($"lng2".isNotNull, $"lng" + ($"lng2" - $"lng") * $"k" / (densify + 1))
              .otherwise($"lng").as("lng")))
        val nPts = shapes.count()

        // JIT/codegen warm at this shape, small world not needed: one
        // throwaway assign on a LIMITed slice
        graft.overlay.ImageOverlay.assign(
          graft.images.ImageFixtures.table(spark, world, cfg.cellRes, noiseTiles = 8),
          shapes.limit(10000), cfg.cellRes).write.format("noop").mode("overwrite").save()

        val listener = new graft.Bench.TaskMetricsListener
        spark.sparkContext.addSparkListener(listener)
        val s0 = graft.Bench.StealMeter.sample()
        val (images, tIm) = graft.Bench.timed {
          val im = graft.images.ImageFixtures.table(spark, world, cfg.cellRes,
            noiseTiles = 64).cache()
          im.count(); im
        }
        Thread.sleep(60)
        val snapIm = listener.snap()
        val (pairs, tAs) = graft.Bench.timed {
          val a = graft.overlay.ImageOverlay.assign(images, shapes, cfg.cellRes)
            .cache()
          val c = a.count(); a.unpersist(); c
        }
        Thread.sleep(60)
        val snapAs = listener.snap()
        val steal = graft.Bench.StealMeter.pct(s0, graft.Bench.StealMeter.sample())
        spark.sparkContext.removeSparkListener(listener)
        val r = Rep(par, tIm, tAs, (snapAs(0) - snapIm(0)) / 1e3,
          (snapAs(1) - snapIm(1)) / 1e3, snapAs(2) - snapIm(2), steal, pairs)
        out += r
        println(f"[overlay-probe rep=$rep par=$par] points=$nPts pairs=${r.pairs} " +
          f"images=${r.imagesSec}%.2f assign=${r.assignSec}%.2f " +
          f"task=${r.taskSec}%.1f gc=${r.gcSec}%.1f n=${r.nTasks} steal=${r.steal}%.1f%%")
      } finally spark.stop()
    }

    for (ph <- Seq("images", "assign")) {
      def best(par: Int): Rep = out.filter(_.par == par)
        .minBy(r => if (ph == "images") r.imagesSec else r.assignSec)
      val a = best(n); val b = best(4 * n)
      val ta = if (ph == "images") a.imagesSec else a.assignSec
      val tb = if (ph == "images") b.imagesSec else b.assignSec
      println(f"[overlay-probe] $ph: N=$ta%.2f s 4N=$tb%.2f s " +
        f"efficiency=${ta / tb / 4.0}%.2f " +
        f"(4N task/gc: ${b.taskSec}%.1f/${b.gcSec}%.1f vs N ${a.taskSec}%.1f/${a.gcSec}%.1f)")
    }
  }
}
