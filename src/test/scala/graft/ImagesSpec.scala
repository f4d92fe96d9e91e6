package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.fixtures.{SyntheticWorld, WorldTables}
import graft.images.{ImageCodec, ImageFixtures}
import graft.osm.{GraphBuilder, OsmConfig}
import graft.overlay.ImageOverlay
import graft.router.{CompactGraph, Matcher}

class ImageCodecSpec extends AnyFunSuite {
  val px = ImageCodec.genPixels(42L, 64, 64)

  test("png roundtrip is lossless (PSNR infinite)") {
    val bytes = ImageCodec.encodePng(px, 64, 64)
    val (dec, w, h) = ImageCodec.decode(bytes)
    assert(w == 64 && h == 64)
    assert(ImageCodec.psnr(px, dec).isInfinite)
  }

  test("jpeg roundtrip reaches 40 dB (input_hint invariant)") {
    val bytes = ImageCodec.encodeJpeg(px, 64, 64)
    val (dec, w, h) = ImageCodec.decode(bytes)
    assert(w == 64 && h == 64)
    val p = ImageCodec.psnr(px, dec)
    assert(p >= 40.0, s"psnr $p")
  }

  test("avg hash is stable under jpeg and distinguishes images") {
    val h1 = ImageCodec.avgHash64(px, 64, 64)
    val (dec, _, _) = ImageCodec.decode(ImageCodec.encodeJpeg(px, 64, 64))
    assert(ImageCodec.hammingDist(h1, ImageCodec.avgHash64(dec, 64, 64)) <= 2)
    val other = ImageCodec.genPixels(4242L, 64, 64)
    assert(ImageCodec.hammingDist(h1, ImageCodec.avgHash64(other, 64, 64)) > 2)
  }

  test("psnr of corrupted image is low") {
    val bad = px.clone()
    var i = 0
    while (i < bad.length) { bad(i) = ~bad(i) & 0xffffff; i += 2 }
    assert(ImageCodec.psnr(px, bad) < 20.0)
  }

  test("determinism: same seed same bytes") {
    assert(ImageCodec.encodePng(ImageCodec.genPixels(7L, 32, 32), 32, 32).toSeq ==
           ImageCodec.encodePng(ImageCodec.genPixels(7L, 32, 32), 32, 32).toSeq)
  }
}

class OverlaySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  lazy val world = SyntheticWorld.build(rows = 8, cols = 12)
  lazy val t = WorldTables(spark, world)
  lazy val cfg = OsmConfig.bus
  lazy val images = ImageFixtures.build(world, cfg.cellRes).toDF()

  test("verification stage: every fixture tile passes PSNR + phash + caption") {
    val v = ImageOverlay.verify(spark, images).cache()
    assert(v.count() == images.count())
    assert(v.filter(!$"psnr_ok" || !$"phash_ok" || !$"caption_ok").count() == 0)
    // jpeg rows are lossy: psnr finite but >= 40
    val j = v.filter($"fmt" === "jpeg")
    assert(j.count() > 0)
    assert(j.filter($"psnr_db" < 40.0).count() == 0)
  }

  test("raster->vector assignment: station tiles land on shapes, noise does not") {
    val bbox = GraphBuilder.feedBBox(t.stops).pad(cfg.bboxPaddingM)
    val gt = GraphBuilder.build(spark, t.osmNodes, t.osmWays, t.osmRels, bbox, cfg)
    val graph = CompactGraph.fromEdges(gt.edges, gt.restrictions)
    val cands = MatchHelpers.buildCands(spark, t.stops, gt.edges, cfg)
    val shapes = MatchHelpers.matchTrips(spark, WorldTables.tripStops(t), cands, graph, cfg)
    val assigned = ImageOverlay.assign(images, shapes, cfg.cellRes).cache()

    // every on-map tile (station cell) must be assigned to >= 1 shape:
    // stations sit on trip rows, shapes run along those rows
    val onMapIds = images.filter(!$"caption".contains("nowhere"))
      .select("image_id").distinct()
    val assignedIds = assigned.select("image_id").distinct()
    val missing = onMapIds.except(assignedIds).count()
    assert(missing == 0, s"$missing on-map tiles unassigned")
    // noise tiles never assigned
    val noiseAssigned = assigned.join(
      images.filter($"caption".contains("nowhere")).select("image_id"),
      Seq("image_id"), "left_semi").count()
    assert(noiseAssigned == 0)
    // assignment carries (image, shape, cell) - deterministic row count
    assert(assigned.count() == assigned.distinct().count())
  }
}
