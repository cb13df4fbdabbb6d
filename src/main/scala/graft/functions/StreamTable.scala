package graft.functions

import graft.config.StreamDef
import graft.model.Op
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression,
  GenericInternalRow, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8

/** The stream config as one lookup table, built once per frame. It answers
  * the two per-row questions of the CDC path with a hash lookup each:
  *  - route: (resource, op) → the matching streams' (stream, routing_key,
  *    topic) rows, in config order; a stream listing an op twice matches
  *    twice, as the broadcast-join form does;
  *  - tally: (stream, op) → a slot of the per-batch tally array.
  *
  * Ops match case-insensitively by folding ASCII case over the row's UTF-8
  * bytes — no ICU case table, no locale, no allocation per row. That is
  * exactly the rows `lower(op) = o` matches, because every configured op is
  * in [[Op.configurable]] (`insert`, `update`, `delete`, `read`: ASCII
  * letters only). `lower` maps an ASCII letter to its lower case, and only
  * two non-ASCII code points lower to text holding ASCII: U+0130 (to `i`
  * plus U+0307, two code points) and U+212A KELVIN SIGN (to `k`, in no
  * configured op). So an op holding any non-ASCII code point never lowers
  * to a configured op, and the fold rejects every byte >= 0x80.
  */
final class StreamTable(streams: Seq[StreamDef]) extends Serializable {
  private val normalized = streams.map(_.normalized)
  normalized.foreach(s => s.operations.foreach(op => require(Op.configurable(op),
    s"stream ${s.name}: op '$op' is not one of ${Op.configurable.mkString(", ")}")))

  /** The configurable ops, lower case; an op's code is its index. */
  private val opNames = Op.configurable.toIndexedSeq.sorted
  private val ops: Array[Array[Byte]] = opNames.map(_.getBytes(UTF_8)).toArray
  private def code(op: String): Int = opNames.indexOf(op)

  /** `s` equals the lower-case ASCII `lower` up to ASCII case. For a
    * lower-case letter x, `b | 0x20 == x` holds exactly for b = x and
    * b = x - 0x20 (its upper case); a byte >= 0x80 is negative and never
    * matches. */
  private def foldedEquals(s: UTF8String, lower: Array[Byte]): Boolean =
    s.numBytes == lower.length && {
      val base = s.getBaseObject
      val offset = s.getBaseOffset
      var i = 0
      while (i < lower.length && (Platform.getByte(base, offset + i) | 0x20) == lower(i))
        i += 1
      i == lower.length
    }

  /** The code of `op` folded to lower case, or -1 for no configured op. */
  private def opCode(op: UTF8String): Int = {
    var c = 0
    while (c < ops.length && !foldedEquals(op, ops(c))) c += 1
    if (c < ops.length) c else -1
  }

  /** resource → per op code, the matching rows (null where none). */
  private val routes = new java.util.HashMap[UTF8String, Array[ArrayData]]()
  normalized.groupBy(_.resource).foreach { case (resource, subscribers) =>
    routes.put(UTF8String.fromString(resource), ops.indices.map[ArrayData] { c =>
      val rows = subscribers.flatMap(s =>
        s.operations.filter(code(_) == c).map(_ => new GenericInternalRow(Array[Any](
          UTF8String.fromString(s.name), UTF8String.fromString(s.routingKey),
          UTF8String.fromString(s.destination)))))
      if (rows.isEmpty) null else new GenericArrayData(rows.toArray[Any])
    }.toArray)
  }

  /** The (stream, op) pairs in tally-slot order: config order, each pair
    * once. [[graft.metrics.GraftQueryListener]] reads the `tallies` array of
    * the `graft` observation back through this. */
  val tallyPairs: IndexedSeq[(String, String)] =
    normalized.flatMap(s => s.operations.map(op => (s.name, op))).distinct.toIndexedSeq

  /** stream → per op code, its tally slot (-1 where none). */
  private val slots = new java.util.HashMap[UTF8String, Array[Int]]()
  tallyPairs.zipWithIndex.foreach { case ((stream, op), slot) =>
    slots.computeIfAbsent(UTF8String.fromString(stream), _ => Array.fill(ops.length)(-1))(code(op)) = slot
  }

  /** The rows routing (resource, op) matches, or null for none. */
  def matches(resource: UTF8String, op: UTF8String): ArrayData = {
    val byOp = routes.get(resource)
    if (byOp == null) null
    else {
      val c = opCode(op)
      if (c < 0) null else byOp(c)
    }
  }

  /** The tally slot of (stream, op), or -1 for none. */
  def slot(stream: UTF8String, op: UTF8String): Int = {
    val byOp = slots.get(stream)
    if (byOp == null) -1
    else {
      val c = opCode(op)
      if (c < 0) -1 else byOp(c)
    }
  }

  /** Per [[tallyPairs]] slot, the rows routing the (resource, op) events
    * yields: what the `tally` aggregate counts over the routed frame,
    * computed on the driver. */
  def tallyRouted(events: Iterator[(String, String)]): Array[Long] = {
    val counts = new Array[Long](tallyPairs.size)
    events.foreach { case (resource, op) =>
      val o = UTF8String.fromString(op)
      val m = matches(UTF8String.fromString(resource), o)
      if (m != null) (0 until m.numElements).foreach { i =>
        val s = slot(m.getStruct(i, 3).getUTF8String(0), o)
        if (s >= 0) counts(s) += 1
      }
    }
    counts
  }

  /** `array<struct<stream, routing_key, topic>>` of the (resource, op)
    * columns: the rows [[matches]] returns, null for none. */
  def route(resource: Column, op: Column): Column =
    ColumnBridge.column(RouteMatches(
      ColumnBridge.expression(resource), ColumnBridge.expression(op), this))

  /** Per-batch count of rows per (stream, op), one `bigint` slot per
    * [[tallyPairs]] entry: an aggregate, for `observe`. */
  def tally(stream: Column, op: Column): Column =
    ColumnBridge.column(TallyCounts(
      ColumnBridge.expression(stream), ColumnBridge.expression(op), this)
      .toAggregateExpression())

  override def toString: String = normalized.map(_.name).mkString("streams(", ",", ")")
}

object StreamTable {
  val MatchType: ArrayType = ArrayType(StructType(Seq(
    StructField("stream", StringType),
    StructField("routing_key", StringType),
    StructField("topic", StringType))), containsNull = false)

  private[functions] def checkStrings(name: String, inputs: Seq[Expression]): TypeCheckResult =
    inputs.map(_.dataType).filterNot(_.isInstanceOf[StringType]) match {
      case Seq() => TypeCheckResult.TypeCheckSuccess
      case bad => TypeCheckResult.TypeCheckFailure(
        s"$name expects string inputs, got ${bad.map(_.simpleString).mkString(", ")}")
    }
}

/** Native Catalyst expression: [[StreamTable.matches]] of (resource, op). */
final case class RouteMatches(resource: Expression, op: Expression, table: StreamTable)
    extends BinaryExpression {

  override def left: Expression = resource
  override def right: Expression = op
  override def dataType: DataType = StreamTable.MatchType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    StreamTable.checkStrings(prettyName, children)

  override def nullSafeEval(r: Any, o: Any): Any =
    table.matches(r.asInstanceOf[UTF8String], o.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = ctx.addReferenceObj("streamTable", table)
    nullSafeCodeGen(ctx, ev, (r, o) =>
      s"""${ev.value} = $t.matches($r, $o);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): RouteMatches =
    copy(resource = newLeft, op = newRight)

  override def prettyName: String = "route_matches"
}

/** One aggregate counting rows per (stream, op) into a `long[]` slot per
  * [[StreamTable.tallyPairs]] entry. */
final case class TallyCounts(
    stream: Expression,
    op: Expression,
    table: StreamTable,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  override def children: Seq[Expression] = Seq(stream, op)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    StreamTable.checkStrings(prettyName, children)

  override def createAggregationBuffer(): Array[Long] = new Array[Long](table.tallyPairs.size)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val s = stream.eval(input)
    val o = op.eval(input)
    if (s != null && o != null) {
      val slot = table.slot(s.asInstanceOf[UTF8String], o.asInstanceOf[UTF8String])
      if (slot >= 0) buf(slot) += 1
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buf.length) { buf(i) += other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = UnsafeArrayData.fromPrimitiveArray(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * buf.length)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(bb.getLong())
  }

  override def withNewMutableAggBufferOffset(offset: Int): TallyCounts =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): TallyCounts =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TallyCounts =
    copy(stream = newChildren(0), op = newChildren(1))
  override def prettyName: String = "stream_tally"
}
