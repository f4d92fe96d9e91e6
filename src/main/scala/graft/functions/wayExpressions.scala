package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.{ColumnBridge => ExpressionUtils}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.geo.Geo

/** The graph build's per-way walks, as precompiled helpers called from
  * generated Java (see WayEdges and ContractChains). Each walks one way's
  * rows once, in position order; a per-way window over the same rows
  * generated its own sort, ordering and projection classes per plan. The
  * gap pairs and the relation member lookup are helpers too: a lambda
  * (`filter`, `transform`) is interpreted and takes its whole operator out
  * of whole-stage code generation. */
object WayOps {

  /** element of wayEdges' input: one resolved way node */
  val NodeType: StructType = StructType(Seq(
    StructField("pos", IntegerType), StructField("node_id", LongType),
    StructField("lat", DoubleType), StructField("lon", DoubleType),
    StructField("tc", IntegerType)))

  /** element of wayEdges' output: one segment between consecutive nodes */
  val SegmentType: StructType = StructType(Seq(
    StructField("pos", IntegerType), StructField("from_id", LongType),
    StructField("to_id", LongType), StructField("from_lat", DoubleType),
    StructField("from_lon", DoubleType), StructField("to_lat", DoubleType),
    StructField("to_lon", DoubleType), StructField("len_m", DoubleType),
    StructField("from_tc", IntegerType)))

  /** payload of an edge's from-end in contractChains' input */
  val EdgeType: StructType = StructType(Seq(
    StructField("edge_id", LongType), StructField("from_id", LongType),
    StructField("to_id", LongType), StructField("from_lat", DoubleType),
    StructField("from_lon", DoubleType), StructField("to_lat", DoubleType),
    StructField("to_lon", DoubleType), StructField("len_m", DoubleType),
    StructField("cost10", LongType), StructField("lvl", IntegerType),
    StructField("oneway", IntegerType), StructField("tc", IntegerType)))

  /** element of contractChains' input: one end of an edge with its node's
    * degree; the from-end (side 0) carries the edge */
  val EndType: StructType = StructType(Seq(
    StructField("pos", IntegerType), StructField("side", IntegerType),
    StructField("deg", LongType), StructField("e", EdgeType)))

  val PointType: StructType = StructType(Seq(
    StructField("lat", DoubleType), StructField("lon", DoubleType)))

  /** element of contractChains' output: one contracted chain */
  val ChainType: StructType = StructType(Seq(
    StructField("edge_id", LongType), StructField("pos", IntegerType),
    StructField("from_id", LongType), StructField("to_id", LongType),
    StructField("from_lat", DoubleType), StructField("from_lon", DoubleType),
    StructField("to_lat", DoubleType), StructField("to_lon", DoubleType),
    StructField("len_m", DoubleType), StructField("cost10", LongType),
    StructField("lvl", IntegerType), StructField("oneway", IntegerType),
    StructField("geom", ArrayType(PointType, containsNull = false)),
    StructField("from_deg", LongType), StructField("to_deg", LongType)))

  /** element indexes of `a` sorted by the int key at field 0, then by the
    * int at field `tie` (-1: none) */
  private def order(a: ArrayData, nFields: Int, tie: Int): Array[Int] = {
    val n = a.numElements()
    val key = new Array[Long](n)
    var i = 0
    while (i < n) {
      val r = a.getStruct(i, nFields)
      key(i) = (r.getInt(0).toLong << 1) | (if (tie < 0) 0L else r.getInt(tie).toLong)
      i += 1
    }
    (0 until n).sortBy(key(_)).toArray
  }

  /** The segments between consecutive resolved nodes of one way, in
    * position order: node i to the next resolved node, wherever the nodes
    * between them left the bbox. len_m is the segment's haversine length;
    * from_tc the from node's break flag. */
  def wayEdges(nodes: ArrayData): ArrayData = {
    val ix = order(nodes, NodeType.length, -1)
    val n = ix.length
    val out = new Array[Any](math.max(0, n - 1))
    var i = 0
    while (i + 1 < n) {
      val a = nodes.getStruct(ix(i), NodeType.length)
      val b = nodes.getStruct(ix(i + 1), NodeType.length)
      val (la, lo, lb, ob) = (a.getDouble(2), a.getDouble(3), b.getDouble(2), b.getDouble(3))
      out(i) = new GenericInternalRow(Array[Any](a.getInt(0), a.getLong(1), b.getLong(1),
        la, lo, lb, ob, Geo.haversineM(la, lo, lb, ob),
        if (a.isNullAt(4)) null else a.getInt(4)))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** G8 collapseEdges over one way's edge ends. In (pos, side) order an
    * edge's to-end follows its from-end. A chain continues through an
    * edge's from node iff the previous edge ended there, the node has
    * degree 2 and it is not a break node; each chain becomes one edge:
    * lowest edge id and position, the first edge's from end, level and
    * direction, the last edge's to end, summed length and cost (added in
    * position order), the geometry of every segment start plus the final
    * end, and both end degrees. */
  def contractChains(ends: ArrayData): ArrayData = {
    val nf = EndType.length
    val ix = order(ends, nf, 1)
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    val geom = scala.collection.mutable.ArrayBuffer.empty[Any]
    var first: InternalRow = null // the chain's first edge
    var last: InternalRow = null // the chain's last edge so far
    var firstPos = 0
    var fromDeg = 0L
    var minId = 0L
    var len = 0.0
    var cost = 0L
    var prevTo = 0L
    var havePrev = false // a to-end precedes this from-end in the way
    var toDeg = 0L // degree at the last edge's to-end
    def close(): Unit = {
      geom += new GenericInternalRow(Array[Any](last.getDouble(5), last.getDouble(6)))
      out += new GenericInternalRow(Array[Any](minId, firstPos, first.getLong(1),
        last.getLong(2), first.getDouble(3), first.getDouble(4), last.getDouble(5),
        last.getDouble(6), len, cost, first.getInt(9), first.getInt(10),
        new GenericArrayData(geom.toArray), fromDeg, toDeg))
      geom.clear()
    }
    var k = 0
    while (k < ix.length) {
      val r = ends.getStruct(ix(k), nf)
      if (r.getInt(1) == 1) { // to-end: where this edge stops
        toDeg = r.getLong(2)
      } else {
        val e = r.getStruct(3, EdgeType.length)
        val deg = r.getLong(2)
        val brk = !havePrev || prevTo != e.getLong(1) || deg != 2 || !e.isNullAt(11)
        if (brk) {
          if (first != null) close()
          first = e; fromDeg = deg; firstPos = r.getInt(0)
          minId = e.getLong(0); len = 0.0; cost = 0L
        }
        minId = math.min(minId, e.getLong(0))
        len += e.getDouble(7)
        cost += e.getLong(8)
        geom += new GenericInternalRow(Array[Any](e.getDouble(3), e.getDouble(4)))
        last = e
        prevTo = e.getLong(2)
        havePrev = true
      }
      k += 1
    }
    if (first != null) close()
    new GenericArrayData(out.toArray)
  }

  /** element of gapPairs' input: a degree-1 endpoint in a cell's list;
    * own: the cell is the endpoint's own */
  val CellEndType: StructType = StructType(Seq(
    StructField("node_id", LongType), StructField("lat", DoubleType),
    StructField("lon", DoubleType), StructField("own", BooleanType)))

  /** element of gapPairs' output: endpoint b merges into endpoint a */
  val GapPairType: StructType = StructType(Seq(
    StructField("a", LongType), StructField("a_lat", DoubleType),
    StructField("a_lon", DoubleType), StructField("b", LongType)))

  /** The mergeable endpoint pairs of one cell's list: every (x, y) with y
    * in its own cell, x's id below y's and the two within tolM, in list
    * order. A null field fails the test, as it does in a SQL predicate. */
  def gapPairs(m: ArrayData, tolM: Double): ArrayData = {
    val nf = CellEndType.length
    val n = m.numElements()
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var i = 0
    while (i < n) {
      val x = m.getStruct(i, nf)
      if (!x.isNullAt(0) && !x.isNullAt(1) && !x.isNullAt(2)) {
        var j = 0
        while (j < n) {
          val y = m.getStruct(j, nf)
          if (!y.isNullAt(3) && y.getBoolean(3) && !y.isNullAt(0) && x.getLong(0) < y.getLong(0) &&
              !y.isNullAt(1) && !y.isNullAt(2) &&
              Geo.haversineM(x.getDouble(1), x.getDouble(2), y.getDouble(1), y.getDouble(2)) <= tolM)
            out += new GenericInternalRow(Array[Any](x.getLong(0), x.getDouble(1),
              x.getDouble(2), y.getLong(0)))
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** element of memberRef's input: one relation member */
  val MemberType: StructType = StructType(Seq(
    StructField("ref", LongType), StructField("mtype", IntegerType),
    StructField("role", StringType)))

  /** index of the first member with this role and type, -1 if none */
  def memberIndex(members: ArrayData, role: UTF8String, mtype: Int): Int = {
    val n = members.numElements()
    var i = 0
    while (i < n) {
      if (!members.isNullAt(i)) {
        val m = members.getStruct(i, MemberType.length)
        if (!m.isNullAt(1) && m.getInt(1) == mtype && !m.isNullAt(2) && m.getUTF8String(2) == role)
          return i
      }
      i += 1
    }
    -1
  }
}

/** way_edges(nodes) -> array<segment>: WayOps.wayEdges as an expression. */
case class WayEdges(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(WayOps.SegmentType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "way_edges"
  override protected def nullSafeEval(a: Any): Any = WayOps.wayEdges(a.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.WayOps.wayEdges($a)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** contract_chains(ends) -> array<chain>: WayOps.contractChains as an
  * expression. */
case class ContractChains(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(WayOps.ChainType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "contract_chains"
  override protected def nullSafeEval(a: Any): Any =
    WayOps.contractChains(a.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.WayOps.contractChains($a)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** gap_pairs(m, tolM) -> array<pair>: WayOps.gapPairs as an expression. */
case class GapPairs(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = ArrayType(WayOps.GapPairType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "gap_pairs"
  override protected def nullSafeEval(m: Any, t: Any): Any =
    WayOps.gapPairs(m.asInstanceOf[ArrayData], t.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (m, t) => s"graft.functions.WayOps.gapPairs($m, $t)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** member_ref(members, role, mtype) -> the ref of the first member with
  * that role and type; null when none matches (`filter(...)[0].ref`
  * without the out-of-range error). */
case class MemberRef(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "member_ref"
  override protected def nullSafeEval(ms: Any, role: Any, mtype: Any): Any = {
    val a = ms.asInstanceOf[ArrayData]
    val i = WayOps.memberIndex(a, role.asInstanceOf[UTF8String], mtype.asInstanceOf[Int])
    if (i < 0) null
    else {
      val m = a.getStruct(i, WayOps.MemberType.length)
      if (m.isNullAt(0)) null else m.getLong(0)
    }
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (ms, role, mtype) => {
      val i = ctx.freshName("i")
      val m = ctx.freshName("m")
      s"""int $i = graft.functions.WayOps.memberIndex($ms, $role, $mtype);
         |${ev.isNull} = true;
         |if ($i >= 0) {
         |  InternalRow $m = $ms.getStruct($i, ${WayOps.MemberType.length});
         |  if (!$m.isNullAt(0)) { ${ev.isNull} = false; ${ev.value} = $m.getLong(0); }
         |}""".stripMargin
    })
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

/** Column-side API of the per-way walks. */
object WayFunctions {

  /** nodes: array of WayOps.NodeType structs of one way, any order */
  def wayEdges(nodes: Column): Column =
    ExpressionUtils.column(WayEdges(Cast(ExpressionUtils.expression(nodes),
      ArrayType(WayOps.NodeType))))

  /** ends: array of WayOps.EndType structs of one way, any order */
  def contractChains(ends: Column): Column =
    ExpressionUtils.column(ContractChains(Cast(ExpressionUtils.expression(ends),
      ArrayType(WayOps.EndType))))

  /** m: array of WayOps.CellEndType structs of one cell */
  def gapPairs(m: Column, tolM: Double): Column =
    ExpressionUtils.column(GapPairs(Cast(ExpressionUtils.expression(m),
      ArrayType(WayOps.CellEndType)), Literal(tolM)))

  /** members: array of (ref, mtype, role) structs, as osm_rels holds them */
  def memberRef(members: Column, role: String, mtype: Int): Column =
    ExpressionUtils.column(MemberRef(Cast(ExpressionUtils.expression(members),
      ArrayType(WayOps.MemberType)), Literal(role), Literal(mtype)))
}
