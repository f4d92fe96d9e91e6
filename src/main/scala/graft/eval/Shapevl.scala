package graft.eval

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.geo.Geo

/** Shape-accuracy evaluation — our port of the reference's shapevl tool
  * semantics (/root/reference/src/shapevl/Collector.cpp): per trip, compare
  * the generated shape against ground truth segment-wise; a segment is
  * UNMATCHED when its Fréchet distance exceeds 100 m (Collector.cpp:526);
  * AN = unmatched-segment share, AL = unmatched-length share; report the
  * cumulative an-0/5/10/20/30/50/70/90 buckets (Collector.cpp:197-210) and
  * avg Fréchet. Sampling step 25 m (ShapevlMain.cpp:40).
  *
  * Spark shape: the four inputs (truth and generated shapes, truth and
  * generated stop dists) are tagged by source, unioned and grouped once by
  * trip: one exchange, no join. A broadcast join on the string trip id
  * would build a hash relation holding a whole memory page per JVM; the
  * grouped pass builds none. The bucket aggregation is a plain
  * conditional-sum agg. */
object Shapevl {
  val SegmentLenM = 25.0
  val UnmatchedThresholdM = 100.0

  case class TripScore(trip_id: String, an: Double, al: Double, avg_fd: Double,
                       n_segs: Int, skipped: Boolean)
  case class Pt(seq: Int, lat: Double, lng: Double, travel_dist: Float)
  case class SD(seq: Int, shape_dist: Float)

  /** Score one trip. Ground truth + generated shapes as (lat, lng, dist)
    * ordered points; stop dists = shape_dist_traveled at the trip's stops
    * (the anchors where truth is cut into inter-stop segments,
    * Collector.cpp:261-325). */
  def scoreTrip(tripId: String,
                truth: Array[(Double, Double, Double)],
                gen: Array[(Double, Double, Double)],
                stopDists: Array[Double],
                stopDistsGen: Array[Double] = null): TripScore = {
    // each shape is cut at its OWN per-stop measure anchors
    // (Collector.cpp:261-325); by default gen anchors equal truth anchors
    val genAnchors = if (stopDistsGen == null) stopDists else stopDistsGen
    // sanity filters (F9): degenerate shapes are skipped
    if (truth.length < 2 || gen.length < 2 || stopDists.length < 2 ||
        genAnchors.length != stopDists.length)
      return TripScore(tripId, 0, 0, 0, 0, skipped = true)
    val truthLen = truth.last._3 - truth.head._3
    if (truthLen < 5.0 || truthLen / truth.length > 1000.0)
      return TripScore(tripId, 0, 0, 0, 0, skipped = true)

    // cut both polylines at stop anchor dists (W3: upper_bound + interp)
    def cut(line: Array[(Double, Double, Double)], d0: Double, d1: Double): Array[(Double, Double)] = {
      val total = line.last._3
      val lo = math.max(line.head._3, math.min(d0, total))
      val hi = math.max(lo, math.min(d1, total))
      def interp(target: Double): (Double, Double) = {
        var i = 0
        while (i < line.length - 1 && line(i + 1)._3 < target) i += 1
        val a = line(i); val b = line(math.min(i + 1, line.length - 1))
        val span = b._3 - a._3
        val t = if (span <= 0) 0.0 else math.max(0.0, math.min(1.0, (target - a._3) / span))
        (a._1 + t * (b._1 - a._1), a._2 + t * (b._2 - a._2))
      }
      val mid = line.filter(p => p._3 > lo && p._3 < hi).map(p => (p._1, p._2))
      (interp(lo) +: mid) :+ interp(hi)
    }

    val truthTotal = math.max(1e-9, truth.last._3 - truth.head._3)
    var unmatched = 0; var unmatchedLen = 0.0; var fdSum = 0.0
    val nSegs = stopDists.length - 1
    var i = 0
    while (i < nSegs) {
      val t0 = stopDists(i); val t1 = stopDists(i + 1)
      val segT = cut(truth, t0, t1)
      val segG = cut(gen, genAnchors(i), genAnchors(i + 1))
      val fd = Geo.frechetDistHav(segT, segG, SegmentLenM)
      fdSum += fd
      if (fd > UnmatchedThresholdM) {
        unmatched += 1
        unmatchedLen += math.abs(t1 - t0)
      }
      i += 1
    }
    TripScore(tripId,
      an = unmatched.toDouble / nSegs,
      al = unmatchedLen / truthTotal,
      avg_fd = fdSum / nSegs,
      n_segs = nSegs, skipped = false)
  }

  /** Distributed evaluation: truthShapes/genShapes (shape_id=trip_id, seq,
    * lat, lng, travel_dist); stopDists / stopDistsGen (trip_id, seq,
    * shape_dist) — each shape cut at its own anchors. Returns per-trip
    * scores for the non-null trips present in all four inputs. */
  def evaluate(spark: SparkSession, truthShapes: DataFrame, genShapes: DataFrame,
               stopDists: DataFrame, stopDistsGen: DataFrame = null): DataFrame = {
    import spark.implicits._
    val ptType = Encoders.product[Pt].schema
    val sdType = Encoders.product[SD].schema
    // the input's columns of a struct type's fields, cast to their types
    def fields(t: StructType) =
      struct(t.fields.toIndexedSeq.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
    def pts(df: DataFrame, src: Int) = df.select($"shape_id".as("trip_id"), lit(src).as("src"),
      fields(ptType).as("pt"), lit(null).cast(sdType).as("sd"))
    def dists(df: DataFrame, src: Int) = df.select($"trip_id", lit(src).as("src"),
      lit(null).cast(ptType).as("pt"), fields(sdType).as("sd"))
    def side(src: Int, field: String) =
      sort_array(collect_list(when($"src" === src, col(field))))
    val sdg = if (stopDistsGen == null) stopDists else stopDistsGen
    pts(truthShapes, 0).unionByName(pts(genShapes, 1))
      .unionByName(dists(stopDists, 2)).unionByName(dists(sdg, 3))
      .filter($"trip_id".isNotNull)
      .groupBy($"trip_id")
      .agg(side(0, "pt").as("truth"), side(1, "pt").as("gen"),
        side(2, "sd").as("dists"), side(3, "sd").as("dists_gen"))
      // a trip missing from an input has an empty side and is not scored
      .filter(size($"truth") > 0 && size($"gen") > 0 && size($"dists") > 0 &&
        size($"dists_gen") > 0)
      .as[(String, Seq[Pt], Seq[Pt], Seq[SD], Seq[SD])]
      .map { case (tripId, truth, gen, dists, distsGen) =>
        scoreTrip(tripId,
          truth.map(p => (p.lat, p.lng, p.travel_dist.toDouble)).toArray,
          gen.map(p => (p.lat, p.lng, p.travel_dist.toDouble)).toArray,
          dists.map(_.shape_dist.toDouble).toArray,
          distsGen.map(_.shape_dist.toDouble).toArray)
      }.toDF()
  }

  /** Feed-level report: an-X buckets (share of trips with AN <= X%),
    * avg Fréchet, AL — conditional-sum aggregation (A10). */
  def report(scores: DataFrame): DataFrame = {
    import scores.sparkSession.implicits._
    val s = scores.filter(!$"skipped")
    val buckets = Seq(0, 5, 10, 20, 30, 50, 70, 90)
    s.agg(
      count(lit(1)).as("n_trips"),
      buckets.map(b =>
        (sum(when($"an" * 100 <= b, 1).otherwise(0)) / count(lit(1)))
          .as(s"an_$b")) ++ Seq(
        avg($"avg_fd").as("avg_frechet"),
        avg($"al").as("avg_al"),
        expr("percentile_approx(avg_fd, 0.5)").as("median_fd")): _*)
  }
}
