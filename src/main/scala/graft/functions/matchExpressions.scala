package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.TernaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.{ColumnBridge => ExpressionUtils}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The match path's per-group work, as precompiled helpers called from
  * generated Java (see RelStops and StopCands) and one typed aggregate
  * (TripEnds). An interpreted lambda
  * (`transform`) takes its whole operator out of whole-stage code
  * generation; an aggregate that mixes declarative functions (`min_by`,
  * `first`) with `collect_*` generates mutable projection classes for
  * them, and a projection that finishes a group's rows generates a
  * whole-stage class of its own. Orderings are Spark's own for the struct
  * type (`InterpretedOrdering`): nulls first, NaN above every number,
  * -0.0 equal to 0.0, as `sort_array` and `min_by` order. */
object MatchOps {

  /** element of a trip's ordered stops (Matcher.TS's fields) */
  val StopType: StructType = StructType(Seq(
    StructField("seq", IntegerType), StructField("stop_id", StringType),
    StructField("arr_s", IntegerType), StructField("dep_s", IntegerType),
    StructField("lat", DoubleType), StructField("lng", DoubleType)))

  /** a stop's id with its times relative to the trip's first departure:
    * what the sequence key hashes */
  val RelStopType: StructType = StructType(Seq(
    StructField("s", StringType), StructField("a", IntegerType), StructField("d", IntegerType)))

  /** The stops of a trip, in order, with times relative to the first
    * stop's departure: (stop_id, arr_s - t0, dep_s - t0), null where a
    * time or t0 is null. */
  def relStops(stops: ArrayData): ArrayData = {
    val nf = StopType.length
    val n = stops.numElements()
    val first = if (n == 0) null else stops.getStruct(0, nf)
    val t0Null = first == null || first.isNullAt(3)
    def rel(s: InternalRow, f: Int): Any =
      if (t0Null || s.isNullAt(f)) null else s.getInt(f) - first.getInt(3)
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      val s = stops.getStruct(i, nf)
      out(i) = new GenericInternalRow(Array[Any](s.getUTF8String(1), rel(s, 2), rel(s, 3)))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** trip_ends' result: the trip's line and its end stops' names */
  val EndsType: StructType = StructType(Seq(StructField("line_name", StringType),
    StructField("from_name", StringType), StructField("to_name", StringType)))

  /** trip_ends' buffer: the first row's line, and the names at the least
    * and the greatest seq seen */
  final class Ends {
    private var seen = false
    private var line: UTF8String = null
    private var hasLo = false
    private var loSeq = 0
    private var loName: UTF8String = null
    private var hasHi = false
    private var hiSeq = 0
    private var hiName: UTF8String = null

    private def own(v: Any) = if (v == null) null else v.asInstanceOf[UTF8String].clone()

    def add(l: Any, name: Any, seq: Any): Ends = {
      if (!seen) { seen = true; line = own(l) }
      if (seq != null) {
        val q = seq.asInstanceOf[Int]
        if (!hasLo || q < loSeq) { hasLo = true; loSeq = q; loName = own(name) }
        if (!hasHi || q > hiSeq) { hasHi = true; hiSeq = q; hiName = own(name) }
      }
      this
    }

    /** this buffer's rows came first */
    def merge(o: Ends): Ends = {
      if (!seen && o.seen) { seen = true; line = o.line }
      if (o.hasLo && (!hasLo || o.loSeq < loSeq)) { hasLo = true; loSeq = o.loSeq; loName = o.loName }
      if (o.hasHi && (!hasHi || o.hiSeq > hiSeq)) { hasHi = true; hiSeq = o.hiSeq; hiName = o.hiName }
      this
    }

    def result: InternalRow = new GenericInternalRow(Array[Any](line, loName, hiName))

    def bytes: Array[Byte] = {
      val b = new java.io.ByteArrayOutputStream()
      val out = new java.io.DataOutputStream(b)
      def str(v: UTF8String): Unit = {
        out.writeBoolean(v != null)
        if (v != null) { out.writeInt(v.numBytes()); out.write(v.getBytes) }
      }
      out.writeBoolean(seen); str(line)
      out.writeBoolean(hasLo); out.writeInt(loSeq); str(loName)
      out.writeBoolean(hasHi); out.writeInt(hiSeq); str(hiName)
      out.flush()
      b.toByteArray
    }
  }

  object Ends {
    def read(a: Array[Byte]): Ends = {
      val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(a))
      def str(): UTF8String =
        if (!in.readBoolean()) null
        else { val v = new Array[Byte](in.readInt()); in.readFully(v); UTF8String.fromBytes(v) }
      val e = new Ends
      e.seen = in.readBoolean(); e.line = str()
      e.hasLo = in.readBoolean(); e.loSeq = in.readInt(); e.loName = str()
      e.hasHi = in.readBoolean(); e.hiSeq = in.readInt(); e.hiName = str()
      e
    }
  }

  /** a stop's candidate edge, fields in the top-K order */
  val CandType: StructType = StructType(Seq(
    StructField("dist_m", DoubleType), StructField("edge_id", LongType),
    StructField("progr", DoubleType), StructField("py", DoubleType),
    StructField("px", DoubleType), StructField("oneway", IntegerType),
    StructField("from_id", LongType), StructField("to_id", LongType)))

  /** a similar station of a stop: its node, track mismatch (0 or 1),
    * position and distance from the stop */
  val StationType: StructType = StructType(Seq(
    StructField("node_id", LongType), StructField("trk_mism", IntegerType),
    StructField("st_lat", DoubleType), StructField("st_lon", DoubleType),
    StructField("d_m", DoubleType)))

  /** element of stopCands' output: one candidate of the stop */
  val OutCandType: StructType = StructType(Seq(
    StructField("edge_id", LongType), StructField("progr", DoubleType),
    StructField("py", DoubleType), StructField("px", DoubleType),
    StructField("dist_m", DoubleType), StructField("oneway", IntegerType),
    StructField("pen10", LongType)))

  /** The candidate penalties of a configuration: the K kept per stop, the
    * distance factor, the platform and non-station surcharges, and the
    * least endpoint mismatch that pays the platform surcharge. */
  case class CandParams(k: Int, distPenFactor: Double, platformPen10: Long,
                        nonStationPen10: Long, platformMism: Int)

  private val CandOrdering = InterpretedOrdering.forSchema(CandType.map(_.dataType))
  /** the nearest-station order: matching track first, then distance, then
    * node (the struct (trk_mism, d_m, node_id)) */
  private val StationOrdering =
    InterpretedOrdering.forSchema(Seq(IntegerType, DoubleType, LongType))

  /** One stop's candidates from its candidate set and its similar
    * stations:
    *  - the K least candidates in CandType's order;
    *  - per candidate endpoint, its track mismatch: 0 if a similar station
    *    at that node matches, else 1 if one mismatches, else none;
    *  - pen10 = ceil(dist_m * distPenFactor * 10) plus the platform
    *    surcharge when an endpoint is a similar station and the least
    *    endpoint mismatch (none counting as 1) equals platformMism, or
    *    the non-station surcharge when neither endpoint is one;
    *  - a candidate touching the nearest similar station (least
    *    (trk_mism, d_m, node_id), the first of equal ones) takes that
    *    station's position, progress 0 at its from end or 1 at its to end. */
  def stopCands(cands: ArrayData, stations: ArrayData, p: CandParams): ArrayData = {
    val sf = StationType.length
    val sims = Array.tabulate(stations.numElements())(stations.getStruct(_, sf))
    def order(s: InternalRow): InternalRow = new GenericInternalRow(Array[Any](
      if (s.isNullAt(1)) null else s.getInt(1), if (s.isNullAt(4)) null else s.getDouble(4),
      if (s.isNullAt(0)) null else s.getLong(0)))
    val best = if (sims.isEmpty) null else sims.minBy(order)(StationOrdering)
    val top = Array.tabulate(cands.numElements())(cands.getStruct(_, CandType.length))
    java.util.Arrays.sort(top, CandOrdering)
    // a similar station at the node (null-safe equal) with this mismatch
    def has(c: InternalRow, f: Int, mism: Int): Boolean = sims.exists { s =>
      (if (c.isNullAt(f)) s.isNullAt(0) else !s.isNullAt(0) && s.getLong(0) == c.getLong(f)) &&
        !s.isNullAt(1) && s.getInt(1) == mism
    }
    def mism(c: InternalRow, f: Int): Int =
      if (has(c, f, 0)) 0 else if (has(c, f, 1)) 1 else -1
    val bestNode = if (best == null || best.isNullAt(0)) None else Some(best.getLong(0))
    def at(c: InternalRow, f: Int): Boolean =
      bestNode.isDefined && !c.isNullAt(f) && c.getLong(f) == bestNode.get
    def dbl(r: InternalRow, f: Int): Any = if (r.isNullAt(f)) null else r.getDouble(f)
    val out = new Array[Any](math.min(p.k, top.length))
    var k = 0
    while (k < out.length) {
      val c = top(k)
      val pen10: Any =
        if (c.isNullAt(0)) null
        else {
          val base = math.ceil(c.getDouble(0) * p.distPenFactor * 10.0).toLong
          val (fm, tm) = (mism(c, 6), mism(c, 7))
          if (fm < 0 && tm < 0) base + p.nonStationPen10
          else if (math.min(if (fm < 0) 1 else fm, if (tm < 0) 1 else tm) == p.platformMism)
            base + p.platformPen10
          else base
        }
      val (atFrom, atTo) = (at(c, 6), at(c, 7))
      out(k) = new GenericInternalRow(Array[Any](
        if (c.isNullAt(1)) null else c.getLong(1),
        if (atFrom) 0.0 else if (atTo) 1.0 else dbl(c, 2),
        if (atFrom || atTo) dbl(best, 2) else dbl(c, 3),
        if (atFrom || atTo) dbl(best, 3) else dbl(c, 4),
        dbl(c, 0), if (c.isNullAt(5)) null else c.getInt(5), pen10))
      k += 1
    }
    new GenericArrayData(out)
  }
}

/** trip_ends(line, name, seq) -> struct(line_name, from_name, to_name):
  * the first row's line (`first`), and the names at the least and the
  * greatest non-null seq, the first of equal ones (`min_by`, `max_by`).
  * A typed aggregate: beside `collect_list` in one grouped pass it plans
  * no mutable projection for declarative functions, and its buffer, like
  * theirs, holds one line and two names per group. */
case class TripEnds(first: Expression, second: Expression, third: Expression,
                    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[MatchOps.Ends] with TernaryLike[Expression] {
  override def dataType: DataType = MatchOps.EndsType
  override def nullable: Boolean = false
  override def prettyName: String = "trip_ends"
  override def createAggregationBuffer(): MatchOps.Ends = new MatchOps.Ends
  override def update(b: MatchOps.Ends, row: InternalRow): MatchOps.Ends =
    b.add(first.eval(row), second.eval(row), third.eval(row))
  override def merge(b: MatchOps.Ends, o: MatchOps.Ends): MatchOps.Ends = b.merge(o)
  override def eval(b: MatchOps.Ends): Any = b.result
  override def serialize(b: MatchOps.Ends): Array[Byte] = b.bytes
  override def deserialize(a: Array[Byte]): MatchOps.Ends = MatchOps.Ends.read(a)
  override def withNewMutableAggBufferOffset(n: Int): TripEnds = copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): TripEnds = copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      a: Expression, b: Expression, c: Expression): TripEnds = copy(first = a, second = b, third = c)
}

/** rel_stops(stops) -> array<rel stop>: MatchOps.relStops as an
  * expression. */
case class RelStops(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(MatchOps.RelStopType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "rel_stops"
  override protected def nullSafeEval(a: Any): Any = MatchOps.relStops(a.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.MatchOps.relStops($a)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** stop_cands(cands, stations) -> array<candidate>: MatchOps.stopCands as
  * an expression. The parameters reach the generated code as a reference
  * object, so one class serves every configuration. */
case class StopCands(left: Expression, right: Expression, params: MatchOps.CandParams)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(MatchOps.OutCandType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "stop_cands"
  override protected def nullSafeEval(c: Any, s: Any): Any =
    MatchOps.stopCands(c.asInstanceOf[ArrayData], s.asInstanceOf[ArrayData], params)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val p = ctx.addReferenceObj("candParams", params)
    defineCodeGen(ctx, ev, (c, s) => s"graft.functions.MatchOps.stopCands($c, $s, $p)")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Column-side API of the match path's per-group helpers. */
object MatchFunctions {

  /** the trip's line and end stop names, as an aggregate over its stop
    * rows (line and name strings, seq an int) */
  def tripEnds(line: Column, name: Column, seq: Column): Column =
    ExpressionUtils.column(TripEnds(Cast(ExpressionUtils.expression(line), StringType),
      Cast(ExpressionUtils.expression(name), StringType),
      Cast(ExpressionUtils.expression(seq), IntegerType)).toAggregateExpression())

  /** stops: array of MatchOps.StopType structs of one trip, in order */
  def relStops(stops: Column): Column =
    ExpressionUtils.column(RelStops(Cast(ExpressionUtils.expression(stops),
      ArrayType(MatchOps.StopType))))

  /** cands: array of MatchOps.CandType structs of one stop, distinct;
    * stations: array of MatchOps.StationType structs of the stop */
  def stopCands(cands: Column, stations: Column, params: MatchOps.CandParams): Column =
    ExpressionUtils.column(StopCands(
      Cast(ExpressionUtils.expression(cands), ArrayType(MatchOps.CandType)),
      Cast(ExpressionUtils.expression(stations), ArrayType(MatchOps.StationType)), params))
}
