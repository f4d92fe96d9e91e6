package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.fixtures.{SyntheticWorld, WorldTables}
import graft.osm.{ColorOps, GraphBuilder, OsmConfig}
import graft.overlay.ImageTransforms
import graft.router.{CompactGraph, Matcher}

class ColorOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  lazy val world = SyntheticWorld.build(rows = 8, cols = 12)
  lazy val t = WorldTables(spark, world)
  lazy val cfg = OsmConfig.bus
  lazy val gt = {
    val bbox = GraphBuilder.feedBBox(t.stops).pad(cfg.bboxPaddingM)
    GraphBuilder.build(spark, t.osmNodes, t.osmWays, t.osmRels, bbox, cfg)
  }

  test("A6 liveShapes: unused shapes dropped") {
    val trips = Seq(("t1", "s1"), ("t2", "s1"), ("t3", null)).toDF("trip_id", "shape_id")
    val shapes = Seq("s1", "s2").toDF("shape_id")
    val live = ColorOps.liveShapes(trips, shapes).collect().map(_.getString(0))
    assert(live.toSeq == Seq("s1"))
  }

  test("A8+A7: matched trips vote their route-relation colour; routes consolidated") {
    val graph = CompactGraph.fromEdges(gt.edges, gt.restrictions,
      gt.wayLines, gt.transitLines)
    val cands = MatchHelpers.buildCands(spark, t.stops, gt.edges, cfg)
    val hops = Matcher.matchTripsFull(spark, WorldTables.tripStops(t), cands, graph, cfg).hops
    assert(hops != null && hops.count() > 0)
    // threshold 0.7: the first/last station jogs (off-line snap edges)
    // legitimately dilute coverage a little
    val votes = ColorOps.shapeColorVote(hops, gt.edges, gt.wayLines, threshold = 0.7).cache()
    // trips run along their row way which carries exactly one route
    // relation colour -> every trip gets a vote
    assert(votes.count() == t.trips.count())
    // row 6 relation is #ff0000 (r%3==0), row 2 is #0066cc
    val colors = votes.withColumn("route",
      regexp_extract($"trip_id", "T(\\d+)_", 1)).select($"route", $"color").distinct()
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(colors("6") == 0xff0000 && colors("2") == 0x0066cc)

    val consolidated = ColorOps.consolidateRouteColors(t.trips, votes)
    // one color per route -> no splits
    assert(consolidated.filter($"new_route_id".contains("::")).count() == 0)
    assert(consolidated.filter($"route_id" === "R2").head().getInt(2) == 0x0066cc)
  }

  test("A6 shape GC: a feed WITH pre-existing shapes keeps exactly the referenced ones") {
    // R2's trips keep their old shape (dropShapes off -> not re-matched);
    // R6's trips have none and get matched, orphaning SHP_R6
    val tripsWithShapes = t.trips.withColumn("shape_id",
      when($"route_id" === "R2", lit("SHP_R2")))
    val elig = Matcher.eligibleTrips(tripsWithShapes, t.routes, t.stopTimes,
      mots = Set(3), dropShapes = false)
    assert(elig.filter($"route_id" === "R2").count() == 0) // F7: shape kept
    assert(elig.filter($"route_id" === "R6").count() > 0)
    val tripStops = WorldTables.tripStops(t)
      .join(elig.select($"trip_id"), Seq("trip_id"), "left_semi")
    val graph = CompactGraph.fromEdges(gt.edges, gt.restrictions,
      gt.wayLines, gt.transitLines)
    val cands = MatchHelpers.buildCands(spark, t.stops, gt.edges, cfg)
    val matched = MatchHelpers.matchTrips(spark, tripStops, cands, graph, cfg).cache()
    val matchedIds = matched.select($"shape_id".as("trip_id")).distinct()
    // post-match assignment: matched trips point at their new shapes
    val after = tripsWithShapes
      .join(matchedIds.withColumn("m", lit(1)), Seq("trip_id"), "left_outer")
      .withColumn("shape_id", when($"m".isNotNull, $"trip_id").otherwise($"shape_id"))
      .drop("m")
    val out = ColorOps.gcShapes(after, t.truthShapes, matched)
    val ids = out.select($"shape_id").distinct().collect().map(_.getString(0)).toSet
    assert(ids.contains("SHP_R2"))     // still referenced -> survives
    assert(!ids.contains("SHP_R6"))    // refcount fell to zero -> deleted
    assert(ids.exists(_.startsWith("T6_"))) // the replacing matched shapes
    assert(!ids.exists(_.startsWith("T2_"))) // R2 was never re-matched
  }

  test("A7 declared-color variant keeps the original route id on a split") {
    // R1 declares #ff0000/#ffffff; votes are #ff0000 and #0066cc ->
    // the declared variant keeps R1, only the other is minted ::1
    // (ShapeBuilder.cpp:520-534: matching pair `continue`s, ids count up
    // over the rest)
    val trips = Seq(("t1", "R1"), ("t2", "R1"), ("t3", "R2"))
      .toDF("trip_id", "route_id")
    val votes = Seq(("t1", 0xff0000, 0.95), ("t2", 0x0066cc, 0.95),
      ("t3", 0x00ff00, 0.95)).toDF("trip_id", "color", "coverage")
    val routes = Seq(("R1", 0xff0000, 0xffffff), ("R2", 0x112233, 0xffffff))
      .toDF("route_id", "color", "text_color")
    val rc = ColorOps.consolidateRouteColors(trips, votes, routes)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).sorted
    // R1: declared red keeps the id; blue (the only minted one) gets ::1
    assert(rc.contains(("R1", "R1", 0xff0000)))
    assert(rc.contains(("R1", "R1::1", 0x0066cc)))
    // R2: single color != declared -> in-place update, id kept
    assert(rc.contains(("R2", "R2", 0x00ff00)))
    assert(rc.length == 3)

    // without declared colors every variant of a split is renamed (legacy)
    val rcNoDecl = ColorOps.consolidateRouteColors(trips, votes)
      .filter($"route_id" === "R1").collect().map(_.getString(1)).sorted
    assert(rcNoDecl.toSeq == Seq("R1::1", "R1::2"))
  }

  test("A7 fare-rule copy: split routes keep fare coverage") {
    val trips = Seq(("t1", "R1"), ("t2", "R1"), ("t3", "R2"))
      .toDF("trip_id", "route_id")
    val votes = Seq(("t1", 0xff0000, 0.95), ("t2", 0x0066cc, 0.95),
      ("t3", 0xff0000, 0.95)).toDF("trip_id", "color", "coverage")
    val rc = ColorOps.consolidateRouteColors(trips, votes)
    assert(rc.filter($"new_route_id".contains("::")).count() == 2) // R1 -> ::1/::2
    val fares = Seq(("F1", "R1", "Z1"), ("F2", "R2", "Z2"))
      .toDF("fare_id", "route_id", "zone")
    val copied = ColorOps.copyFareRules(fares, rc)
    // the split route's rule is duplicated for every minted variant
    val r1 = copied.filter($"fare_id" === "F1")
      .select($"route_id").collect().map(_.getString(0)).sorted
    assert(r1.toSeq == Seq("R1", "R1::1", "R1::2"))
    // unsplit route untouched; schema passes through verbatim
    assert(copied.filter($"fare_id" === "F2").count() == 1)
    assert(copied.columns.toSeq == fares.columns.toSeq)
    assert(copied.filter($"zone".isNull).count() == 0)
  }

  test("multimodal transforms: thumbnail + feature vector") {
    val images = graft.images.ImageFixtures.build(world, cfg.cellRes, noiseTiles = 0)
      .take(4).toDF()
    val thumbs = ImageTransforms.thumbnail(images, 16, 16).cache()
    assert(thumbs.filter($"thumb".isNull).count() == 0)
    val (px, w, h) = graft.images.ImageCodec.decode(
      thumbs.head().getAs[Array[Byte]]("thumb"))
    assert(w == 16 && h == 16 && px.length == 256)
    val feats = ImageTransforms.features(images).head()
      .getAs[scala.collection.Seq[Float]]("features")
    assert(feats.length == 18 && feats.forall(f => f >= 0 && f <= 1))
  }
}

class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("flatMapGroupsWithState sessionize matches the batch answer exactly") {
    val dir = java.nio.file.Files.createTempDirectory("sessstream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      dir.resolve("part-0.parquet"))
    val batchEvents = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val schema = batchEvents.schema

    // batch oracle: q_sessionize's rule, but materializing every session's
    // (start, end, n) — not just counts — so boundaries are checked too
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts_us")
    val expected = batchEvents
      .withColumn("ts_us", unix_micros($"ts".cast("timestamp")))
      .withColumn("prev", lag($"ts_us", 1).over(w))
      .withColumn("new_sess",
        when($"prev".isNull || $"ts_us" - $"prev" > 1800000000L, 1L).otherwise(0L))
      .withColumn("sess_id", sum($"new_sess").over(
        org.apache.spark.sql.expressions.Window.partitionBy($"user_id")
          .orderBy($"ts_us").rowsBetween(Long.MinValue, 0)))
      .groupBy($"user_id", $"sess_id")
      .agg(min($"ts_us").as("start_us"), max($"ts_us").as("end_us"),
        count(lit(1)).as("n_events"))
      .select($"user_id".cast("string"), $"start_us", $"end_us", $"n_events")
      .collect().map(_.toSeq).toSet

    val stream = spark.readStream.schema(schema).parquet(dir.toString)
    val sessions = graft.streaming.StreamOps.sessionize(stream)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sessions").start()
    try {
      q.processAllAvailable()
      // sentinel event 2h past the max ts: advances the global watermark
      // so every open session times out and emits
      val maxTs = batchEvents.agg(max($"ts".cast("timestamp"))).head()
        .getTimestamp(0)
      val sentinel = Seq((-1L, new java.sql.Timestamp(
        maxTs.getTime + 2 * 3600 * 1000L)))
        .toDF("user_id", "ts")
      val aligned = sentinel.select(schema.map { f =>
        (if (sentinel.columns.contains(f.name)) col(f.name)
         else lit(null)).cast(f.dataType).as(f.name)
      }: _*)
      aligned.coalesce(1).write.mode("append").parquet(dir.toString)
      q.processAllAvailable()
      // timeouts fire in a no-data micro-batch after the watermark update
      var got = Set.empty[Seq[Any]]
      val deadline = System.currentTimeMillis() + 60000
      while (got != expected && System.currentTimeMillis() < deadline) {
        q.processAllAvailable()
        Thread.sleep(250)
        got = spark.table("sessions")
          .filter($"user_id" =!= "-1")
          .select($"user_id", $"start_us", $"end_us", $"n_events")
          .collect().map(_.toSeq).toSet
      }
      assert(got == expected,
        s"streamed ${got.size} sessions, batch says ${expected.size}; " +
          s"missing=${(expected -- got).take(3)} extra=${(got -- expected).take(3)}")
    } finally q.stop()
  }

  test("streaming exact dedup matches the batch dedup") {
    val dir = java.nio.file.Files.createTempDirectory("dedupstream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/documents.parquet"),
      dir.resolve("part-0.parquet"))
    val batch = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val expected = batch.select(xxhash64($"text")).distinct().count()
    val stream = spark.readStream.schema(batch.schema).parquet(dir.toString)
    val q = graft.streaming.StreamOps.dedupExact(stream)
      .writeStream.outputMode("append").format("memory")
      .queryName("dedup_docs").start()
    try {
      q.processAllAvailable()
      val out = spark.table("dedup_docs")
      assert(out.count() == expected)
      assert(out.select($"content_hash").distinct().count() == expected)
    } finally q.stop()
  }

  test("watermark drops late data in append-mode windowed agg") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("latestream")
    val schema = StructType(Seq(StructField("user_id", LongType),
      StructField("ts", TimestampType)))
    def write(batch: Seq[(Long, Long)]): Unit = {
      // minutes -> timestamps on a fixed epoch base ALIGNED to the 5-min
      // window grid (tumbling windows start at epoch multiples of the
      // window size: 1700000100 % 300 == 0)
      val base = 1700000100000L
      batch.map { case (u, minute) =>
        (u, new java.sql.Timestamp(base + minute * 60000L))
      }.toDF("user_id", "ts")
        .coalesce(1).write.mode("append").parquet(dir.toString)
    }
    // window A [0,5): two on-time events
    write(Seq((1L, 0L), (2L, 2L)))
    val stream = spark.readStream.schema(schema).parquet(dir.toString)
    val agg = stream
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "5 minutes"))
      .agg(count(lit(1)).as("n"))
      .select($"window.start".cast("long").as("w_start"), $"n")
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("late_windows").start()
    try {
      q.processAllAvailable()
      // advance event time to minute 60 -> watermark 50 -> window A closes
      write(Seq((3L, 60L)))
      q.processAllAvailable()
      // LATE arrival for window A (minute 2, watermark is far past 5):
      // append semantics REQUIRE it be dropped, not re-emitted or counted
      write(Seq((4L, 2L)))
      // close the minute-60 window too so every on-time row is emitted
      write(Seq((5L, 120L)))
      q.processAllAvailable()
      val rows = spark.table("late_windows")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val base = 1700000100L
      assert(rows(base) == 2L,
        s"window A must count only its two ON-TIME events, got $rows")
      assert(rows(base + 3600L) == 1L)
      // window A was emitted exactly once (no late re-emission)
      assert(spark.table("late_windows").groupBy($"w_start").count()
        .filter($"count" > 1).count() == 0)
    } finally q.stop()
  }

  test("structured streaming: watermarked window agg over the events table") {
    // file streaming sources need a DIRECTORY: stage the table into one
    val dir = java.nio.file.Files.createTempDirectory("evstream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      dir.resolve("part-0.parquet"))
    val schema = spark.read.parquet("/root/testdata/sf0.001/events.parquet").schema
    val stream = spark.readStream.schema(schema).parquet(dir.toString)
    val agg = stream
      .withColumn("ts", $"ts".cast("timestamp"))
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "5 minutes"), $"event_type")
      .agg(count(lit(1)).as("n"), sum($"value").as("v"))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("ev_windows").start()
    try {
      q.processAllAvailable()
      val out = spark.table("ev_windows")
      assert(out.count() > 0)
      // totals must match the batch answer
      val streamTotal = out.agg(sum($"n")).head().getLong(0)
      assert(streamTotal == 1000L)
    } finally q.stop()
  }
}
