package graft

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{GeoFunctions, MatchFunctions, MatchOps, WayFunctions}
import graft.geo.{Cell, Geo}

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GeoFunctions.register(s)
    s
  }
}

class ExpressionsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("gcell expression matches Cell.encode, codegen path") {
    val df = Seq((47.9976, 7.8403), (-33.9, 151.2), (0.0, 0.0))
      .toDF("lat", "lon")
      .withColumn("cell", GeoFunctions.gcell(col("lat"), col("lon"), 12))
    val got = df.collect().map(r => (r.getDouble(0), r.getDouble(1), r.getLong(2)))
    got.foreach { case (lat, lon, c) => assert(c == Cell.encode(lat, lon, 12)) }
    // SQL registration
    val viaSql = spark.sql("SELECT gcell(CAST(47.9976 AS DOUBLE), CAST(7.8403 AS DOUBLE), 12) c")
      .head().getLong(0)
    assert(viaSql == Cell.encode(47.9976, 7.8403, 12))
  }

  test("kring explode joins neighbors") {
    val df = Seq((1L, 47.9976, 7.8403)).toDF("id", "lat", "lon")
      .withColumn("cell", GeoFunctions.gcell(col("lat"), col("lon"), 12))
      .withColumn("ring", explode(GeoFunctions.kring(col("cell"), 1)))
    assert(df.count() == 9)
  }

  test("haversine_m expression equals scala impl") {
    val d = Seq((47.9976, 7.8403, 47.9953, 7.8496)).toDF("a", "b", "c", "d")
      .select(GeoFunctions.haversineM(col("a"), col("b"), col("c"), col("d")))
      .head().getDouble(0)
    assert(d == Geo.haversineM(47.9976, 7.8403, 47.9953, 7.8496))
  }

  test("gcell_parent hierarchy in SQL") {
    val r = spark.sql(
      "SELECT gcell_parent(gcell(CAST(47.99 AS DOUBLE), CAST(7.84 AS DOUBLE), 14), 10) p")
      .head().getLong(0)
    assert(r == Cell.parent(Cell.encode(47.99, 7.84, 14), 10))
  }

  test("nulls propagate") {
    val r = spark.sql("SELECT gcell(CAST(NULL AS DOUBLE), CAST(7.84 AS DOUBLE), 12) c").head()
    assert(r.isNullAt(0))
  }

  /** a helper column evaluated on a literal, interpreted and generated,
    * as Scala values */
  private def evalBoth(helper: Column => Column, t: DataType, v: Any): (Any, Any) = {
    val e = ColumnBridge.expression(helper(ColumnBridge.column(Literal.create(v, t))))
    val gen = GenerateUnsafeProjection.generate(Seq(e)).apply(InternalRow.empty)
    (CatalystTypeConverters.convertToScala(e.eval(InternalRow.empty), e.dataType),
      CatalystTypeConverters.convertToScala(gen.get(0, e.dataType), e.dataType))
  }

  /** one column `v` of type t holding each value, with a row id */
  private def table(t: DataType, values: Seq[Any]) = spark.createDataFrame(
    java.util.Arrays.asList(values.zipWithIndex.map { case (v, i) => Row(i, v) }: _*),
    StructType(Seq(StructField("id", IntegerType), StructField("v", t))))

  /** every value: interpreted and generated evaluation agree */
  private def agree(helper: Column => Column, t: DataType, values: Seq[Any]): Unit =
    values.foreach { v =>
      val (i, g) = evalBoth(helper, t, v)
      assert(i == g, s"interpreted $i, generated $g for $v")
    }

  private val MemberT = ArrayType(StructType(Seq(StructField("ref", LongType),
    StructField("mtype", ByteType), StructField("role", StringType))))

  test("member_ref: the first matching member's ref, null when none matches") {
    def m(ref: java.lang.Long, mtype: java.lang.Byte, role: String) = Row(ref, mtype, role)
    val b1: java.lang.Byte = 1.toByte
    val b0: java.lang.Byte = 0.toByte
    val values = Seq(
      Seq(m(10L, b1, "from"), m(20L, b0, "via"), m(30L, b1, "to")),
      Seq(m(11L, b1, "to")), Seq.empty, null, Seq(null, m(12L, b1, "from")),
      Seq(m(null, b1, "from"), m(13L, b1, "from")),
      Seq(m(14L, null, "from"), m(15L, b1, null), m(16L, b1, "from")))
    val df = table(MemberT, values)
    for ((role, mtype) <- Seq(("from", 1), ("via", 0), ("to", 1))) {
      val helper = (c: Column) => WayFunctions.memberRef(c, role, mtype)
      agree(helper, MemberT, values)
      // filter(...)[0] raises on an empty result under ANSI: try_element_at
      // is its null-returning form
      val got = df.select(helper($"v"), expr(
        s"try_element_at(filter(v, m -> m.role = '$role' AND m.mtype = $mtype), 1).ref"))
        .collect()
      got.foreach(r => assert(r.get(0) == r.get(1)))
      if (role == "from") assert(got.map(r => Option(r.get(0))).toSeq ==
        Seq(Some(10L), None, None, None, Some(12L), None, Some(16L)))
    }
  }

  private val CellEndT = ArrayType(StructType(Seq(StructField("node_id", LongType),
    StructField("lat", DoubleType), StructField("lon", DoubleType),
    StructField("own", BooleanType))))

  test("gap_pairs: the pairs the filter lambda found, nulls and NaN fail the test") {
    def e(id: java.lang.Long, lat: java.lang.Double, lon: java.lang.Double,
          own: java.lang.Boolean) = Row(id, lat, lon, own)
    val (la, lo) = (48.0, 7.8)
    val values = Seq(
      Seq(e(1L, la, lo, true), e(2L, la, lo + 0.000005, true), e(3L, la, lo + 0.0001, false),
        e(0L, la, lo + 0.000001, false), e(5L, la, lo, true)),
      Seq.empty, null,
      Seq(e(4L, null, lo, true), e(6L, la, lo, null), e(null, la, lo, true),
        e(7L, la, lo, true), e(8L, Double.NaN, lo, true), e(9L, la, lo, true)))
    val helper = (c: Column) => WayFunctions.gapPairs(c, 1.0)
    agree(helper, CellEndT, values)
    val df = table(CellEndT, values)
    val now = df.select($"id", explode(helper($"v")).as("p"))
      .select($"id", $"p.a", $"p.a_lat", $"p.a_lon", $"p.b")
    val old = df.select($"id", $"v", explode($"v").as("x"))
      .select($"id", $"x.node_id".as("a"), $"x.lat".as("a_lat"), $"x.lon".as("a_lon"),
        explode(filter($"v", y => y.getField("own") &&
          $"x.node_id" < y.getField("node_id") &&
          GeoFunctions.haversineM($"x.lat", $"x.lon", y.getField("lat"), y.getField("lon"))
            <= 1.0)).as("y"))
      .select($"id", $"a", $"a_lat", $"a_lon", $"y.node_id".as("b"))
    val n = now.collect().map(_.toString).sorted.toSeq
    assert(n.nonEmpty && n == old.collect().map(_.toString).sorted.toSeq)
  }

  private val StopsT = ArrayType(MatchOps.StopType)

  test("rel_stops: the transform's relative stops, so xxhash64 gives the same key") {
    def s(seq: Int, stop: String, arr: java.lang.Integer, dep: java.lang.Integer) =
      Row(seq, stop, arr, dep, 48.0, 7.8)
    val values = Seq(
      Seq(s(1, "a", 100, 110), s(2, "b", 200, 210), s(3, null, 300, null)),
      // a null first departure makes every relative time null
      Seq(s(1, "x", 50, null), s(2, "y", 60, 70)),
      Seq(s(1, "a", 7, 0)), Seq.empty, null)
    val helper = (c: Column) => MatchFunctions.relStops(c)
    agree(helper, StopsT, values)
    val rows = table(StopsT, values).filter(size($"v") > 0)
      .select(helper($"v").as("now"), expr("transform(v, x -> struct(x.stop_id as s, " +
        "x.arr_s - v[0].dep_s as a, x.dep_s - v[0].dep_s as d))").as("old"))
      .select($"now", $"old", xxhash64($"now"), xxhash64($"old")).collect()
    assert(rows.length == 3)
    rows.foreach(r => assert(r.get(0) == r.get(1) && r.getLong(2) == r.getLong(3)))
  }

  test("trip_ends: first, min_by and max_by as one typed aggregate") {
    // (trip, seq, line, name): a null line first, a null seq, a null name
    // at the least seq, a trip of one row, rows split across partitions
    val rows = Seq[(String, java.lang.Integer, String, String)](("t1", 3, "L1", "C"), ("t1", 1, "L2", "A"), ("t1", 2, "L1", "B"),
      ("t2", null, null, "X"), ("t2", 5, "L", null), ("t2", 9, "M", "Z"),
      ("t3", 4, "L3", "D"), ("t4", null, "L4", "Q"))
    val df = rows.toDF("trip", "seq", "line", "name").repartition(3, $"seq")
    val now = df.groupBy($"trip")
      .agg(MatchFunctions.tripEnds($"line", $"name", $"seq").as("e"))
      .select($"trip", $"e.line_name", $"e.from_name", $"e.to_name")
    // first() depends on row order, so the reference reads one partition
    // in the same order
    val one = df.coalesce(1)
    val old = one.groupBy($"trip")
      .agg(first($"line"), min_by($"name", $"seq"), max_by($"name", $"seq"))
    val ends = now.collect().map(r => r.getString(0) -> (r.getString(2), r.getString(3))).toMap
    assert(ends == old.collect().map(r => r.getString(0) -> (r.getString(2), r.getString(3))).toMap)
    assert(ends == Map("t1" -> ("A", "C"), "t2" -> (null, "Z"), "t3" -> ("D", "D"),
      "t4" -> (null, null)))
    val lines = one.groupBy($"trip").agg(MatchFunctions.tripEnds($"line", $"name", $"seq")
      .getField("line_name"), first($"line")).collect()
    lines.foreach(r => assert(r.get(1) == r.get(2)))
  }

  private val CandsT = ArrayType(MatchOps.CandType)
  private val StationsT = ArrayType(MatchOps.StationType)

  test("stop_cands: the top-K, penalties and station snap of the per-stop projection") {
    val p = MatchOps.CandParams(k = 4, distPenFactor = 1.5, platformPen10 = 70L,
      nonStationPen10 = 500L, platformMism = 1)
    def c(d: Double, e: Long, from: java.lang.Long, to: Long) =
      Row(d, e, 0.25, 48.0 + e, 7.0 + e, 0, from, to)
    def st(node: java.lang.Long, mism: Int, d: Double) = Row(node, mism, 48.5, 7.5, d)
    // (candidates, similar stations) per stop
    val values = Seq(
      // NaN sorts last; -0.0 equals 0.0 and the edge id breaks the tie
      (Seq(c(Double.NaN, 1, 100L, 101), c(0.0, 3, 100L, 102), c(-0.0, 2, 200L, 103),
        c(5.0, 4, 300L, 100), c(2.0, 5, null, 104), c(1.0, 6, 400L, 401)),
        Seq(st(100L, 1, 20.0), st(100L, 0, 30.0), st(200L, 1, 10.0), st(null, 0, 50.0))),
      (Seq.empty, Seq(st(100L, 0, 1.0))), (Seq(c(3.0, 9, 1L, 2)), Seq.empty),
      (Seq.empty, Seq.empty))
    val pairT = StructType(Seq(StructField("c", CandsT), StructField("s", StationsT)))
    val pairs = values.map { case (cs, ss) => Row(cs, ss) }
    val helper = (v: Column) => MatchFunctions.stopCands(v.getField("c"), v.getField("s"), p)
    for ((cs, ss) <- values.map { case (cs, ss) => (cs, ss) } ++ Seq((null, Seq.empty), (Seq.empty, null))) {
      val e = ColumnBridge.expression(MatchFunctions.stopCands(
        ColumnBridge.column(Literal.create(cs, CandsT)),
        ColumnBridge.column(Literal.create(ss, StationsT)), p))
      val gen = GenerateUnsafeProjection.generate(Seq(e)).apply(InternalRow.empty)
      assert(CatalystTypeConverters.convertToScala(e.eval(InternalRow.empty), e.dataType) ==
        CatalystTypeConverters.convertToScala(gen.get(0, e.dataType), e.dataType))
    }
    // the per-stop aggregate and projection the helper replaced, over the
    // same pairs: a candidate row or a station row per stop
    val rowT = StructType(Seq(StructField("c", MatchOps.CandType),
      StructField("sim", StructType(Seq(StructField("node_id", LongType),
        StructField("trk_mism", IntegerType)))),
      StructField("bv", StructType(Seq(StructField("node_id", LongType),
        StructField("st_lat", DoubleType), StructField("st_lon", DoubleType)))),
      StructField("bo", StructType(Seq(StructField("trk_mism", IntegerType),
        StructField("d_m", DoubleType), StructField("node_id", LongType))))))
    val exploded = table(ArrayType(rowT), values.map { case (cs, ss) =>
      cs.map(x => Row(x, null, null, null)) ++ ss.map(x =>
        Row(null, Row(x.get(0), x.get(1)), Row(x.get(0), x.get(2), x.get(3)),
          Row(x.get(1), x.get(4), x.get(0))))
    }).select($"id", explode($"v").as("r"))
      .select($"id", $"r.c".as("c"), $"r.sim".as("sim"), $"r.bv".as("bv"), $"r.bo".as("bo"))
    def endMism(end: String) = {
      def has(m: Int) = array_contains($"sims",
        struct($"c".getField(end).as("node_id"), lit(m).as("trk_mism")))
      when(has(0), lit(0)).when(has(1), lit(1))
    }
    val old = exploded.groupBy($"id")
      .agg(slice(sort_array(collect_set($"c")), 1, p.k).as("top"),
        collect_list($"sim").as("sims"), min_by($"bv", $"bo").as("b"))
      .select($"id", $"sims", $"b", explode($"top").as("c"))
      .withColumn("from_mism", endMism("from_id"))
      .withColumn("to_mism", endMism("to_id"))
      .withColumn("pen10", ceil($"c.dist_m" * lit(p.distPenFactor) * 10.0).cast("long"))
      .withColumn("pen10",
        when($"from_mism".isNotNull || $"to_mism".isNotNull,
          $"pen10" + when(least(coalesce($"from_mism", lit(1)),
            coalesce($"to_mism", lit(1))) === p.platformMism,
            lit(p.platformPen10)).otherwise(lit(0L)))
          .otherwise($"pen10" + lit(p.nonStationPen10)))
      .withColumn("best_node", $"b.node_id")
      .withColumn("at_from", $"best_node".isNotNull && $"c.from_id" === $"best_node")
      .withColumn("at_to", $"best_node".isNotNull && $"c.to_id" === $"best_node")
      .select($"id", $"c.edge_id".as("edge_id"),
        when($"at_from", lit(0.0)).when($"at_to", lit(1.0)).otherwise($"c.progr").as("progr"),
        when($"at_from" || $"at_to", $"b.st_lat").otherwise($"c.py").as("py"),
        when($"at_from" || $"at_to", $"b.st_lon").otherwise($"c.px").as("px"),
        $"c.dist_m".as("dist_m"), $"c.oneway".as("oneway"), $"pen10")
    val now = table(pairT, pairs).select($"id", explode(helper($"v")).as("c"))
      .select($"id", $"c.*")
    val n = now.collect().map(_.toString).sorted.toSeq
    assert(n.nonEmpty && n == old.collect().map(_.toString).sorted.toSeq)
    // the four least, in order: the signed zeros by edge id, then 1.0, 2.0
    assert(now.filter($"id" === 0).select($"edge_id").as[Long].collect().toSeq ==
      Seq(2L, 3L, 6L, 5L))
  }
}
