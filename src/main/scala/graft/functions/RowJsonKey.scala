package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the Kafka routing key of a change event —
  * top-level field `name` of the row JSON `json`, read straight from the
  * row's UTF-8 bytes.
  *
  * It returns what `get_json_object(json, '$.<name>')` returns for the row
  * objects [[graft.serialization.JsonEnvelope]] writes (flat objects of
  * canonical scalars): a string value's unescaped text, a number's or
  * boolean's JSON text; null when the field is absent or JSON null, when
  * the root is not an object, or when the text is malformed anywhere up to
  * the root object's closing brace (the grammar Spark's JSON factory
  * accepts: unescaped control characters and single-quoted strings are
  * allowed). `get_json_object` instead builds a Jackson
  * parser over an `InputStreamReader` per row and re-serializes the match.
  * Two differences lie outside that row shape: a nested object or array
  * value, and a number in a non-canonical form such as `1E2`, come back as
  * their source text, where Jackson re-serializes them; and `name` is
  * always a literal field name, never a JSON path.
  */
final case class RowJsonKey(json: Expression, name: Expression)
    extends BinaryExpression {

  override def left: Expression = json
  override def right: Expression = name
  override def dataType: DataType = StringType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (json.dataType, name.dataType) match {
      case (_: StringType, _: StringType) => TypeCheckResult.TypeCheckSuccess
      case (a, b) => TypeCheckResult.TypeCheckFailure(
        s"row_json_key expects string inputs, got ${a.simpleString} and " +
          s"${b.simpleString}")
    }

  override def nullSafeEval(j: Any, n: Any): Any =
    RowJsonKey.find(j.asInstanceOf[UTF8String], n.asInstanceOf[UTF8String])

  // the module instance, not a static forwarder: this case class inherits
  // TreeNode.find, so Scala emits no static `find`
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (j, n) =>
      s"""${ev.value} = ${RowJsonKey.Module}.find($j, $n);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): RowJsonKey =
    copy(json = newLeft, name = newRight)

  override def prettyName: String = "row_json_key"
}

object RowJsonKey {
  /** Column-API entry point. */
  def apply(json: Column, name: Column): Column =
    ColumnBridge.column(RowJsonKey(
      ColumnBridge.expression(json), ColumnBridge.expression(name)))

  private val Module = getClass.getName + ".MODULE$"

  /** Jackson's default nesting limit: deeper text is malformed. */
  private val MaxDepth = 1000
  private val Bad = -1
  private val More = 0
  private val Closed = 1

  /** The byte at an address as a char in 0..255: every byte of a
    * multi-byte UTF-8 sequence is >= 0x80, so none matches JSON syntax. */
  private def byteChar(base: AnyRef, address: Long): Char =
    (Platform.getByte(base, address) & 0xFF).toChar

  /** Top-level field `name` of `json` (see the class doc); null when absent. */
  def find(json: UTF8String, name: UTF8String): UTF8String =
    new Scan(json.getBaseObject, json.getBaseOffset, json.numBytes, name).field()

  /** One pass over the bytes. Each step returns false on malformed text. */
  private final class Scan(base: AnyRef, offset: Long, size: Int, name: UTF8String) {
    private var pos = 0
    /** The root object's first non-null member named `name`, once passed. */
    private var found: UTF8String = null
    /** Whether the string [[string]] last passed held an escape. */
    private var escaped = false

    private def at(i: Int): Char = byteChar(base, offset + i)

    private def skipWs(): Unit =
      while (pos < size && { val c = at(pos); c == ' ' || c == '\n' || c == '\r' || c == '\t' })
        pos += 1

    private def isDigit(i: Int): Boolean = i < size && { val c = at(i); c >= '0' && c <= '9' }

    private def hexAt(i: Int): Int = {
      val c = at(i)
      if (c >= '0' && c <= '9') c - '0'
      else if (c >= 'a' && c <= 'f') c - 'a' + 10
      else if (c >= 'A' && c <= 'F') c - 'A' + 10
      else -1
    }

    /** `\uXXXX` at `i` (on the backslash) as a UTF-16 unit, or -1. */
    private def unitAt(i: Int): Int =
      if (i + 6 > size || at(i) != '\\' || at(i + 1) != 'u') -1
      else {
        val a = hexAt(i + 2); val b = hexAt(i + 3); val c = hexAt(i + 4); val d = hexAt(i + 5)
        if ((a | b | c | d) < 0) -1 else (a << 12) | (b << 8) | (c << 4) | d
      }

    private def isQuote(c: Char): Boolean = c == '"' || c == '\''

    /** Past the string whose opening quote (`"` or `'`) is at `pos`. */
    private def string(): Boolean = {
      val quote = at(pos)
      pos += 1
      escaped = false
      while (pos < size) {
        val c = at(pos)
        if (c == quote) { pos += 1; return true }
        if (c == '\\') {
          escaped = true
          if (pos + 1 >= size) return false
          at(pos + 1) match {
            case 'u' => if (unitAt(pos) < 0) return false; pos += 6
            case '"' | '\\' | '/' | 'b' | 'f' | 'n' | 'r' | 't' | '\'' => pos += 2
            case _ => return false
          }
        } else pos += 1
      }
      false
    }

    private def literal(word: String): Boolean = {
      if (pos + word.length > size) return false
      var i = 0
      while (i < word.length) {
        if (at(pos + i) != word.charAt(i)) return false
        i += 1
      }
      pos += word.length
      true
    }

    /** RFC 8259 number: no leading zeros, a digit after `.` and `e`. */
    private def number(): Boolean = {
      var i = pos
      if (i < size && at(i) == '-') i += 1
      if (!isDigit(i)) return false
      if (at(i) == '0') { i += 1; if (isDigit(i)) return false }
      else while (isDigit(i)) i += 1
      if (i < size && at(i) == '.') {
        i += 1
        if (!isDigit(i)) return false
        while (isDigit(i)) i += 1
      }
      if (i < size && (at(i) == 'e' || at(i) == 'E')) {
        i += 1
        if (i < size && (at(i) == '+' || at(i) == '-')) i += 1
        if (!isDigit(i)) return false
        while (isDigit(i)) i += 1
      }
      pos = i
      true
    }

    private def value(depth: Int): Boolean =
      if (pos >= size) false
      else at(pos) match {
        case '"' | '\'' => string()
        case '{' => members(depth + 1)
        case '[' => elements(depth + 1)
        case 't' => literal("true")
        case 'f' => literal("false")
        case 'n' => literal("null")
        case _ => number()
      }

    /** After a member or element: [[Closed]] at `close`, [[More]] at `,`
      * (either consumed), [[Bad]] otherwise. */
    private def next(close: Char): Int = {
      skipWs()
      if (pos >= size) Bad
      else if (at(pos) == close) { pos += 1; Closed }
      else if (at(pos) == ',') { pos += 1; skipWs(); More }
      else Bad
    }

    private def members(depth: Int): Boolean = {
      if (depth > MaxDepth) return false
      pos += 1
      skipWs()
      if (pos < size && at(pos) == '}') { pos += 1; return true }
      var state = More
      while (state == More) state = if (member(depth)) next('}') else Bad
      state == Closed
    }

    private def member(depth: Int): Boolean = {
      if (pos >= size || !isQuote(at(pos))) return false
      val nameFrom = pos + 1
      if (!string()) return false
      val nameTo = pos - 1
      val nameEscaped = escaped
      skipWs()
      if (pos >= size || at(pos) != ':') return false
      pos += 1
      skipWs()
      val from = pos
      if (!value(depth)) return false
      if (depth == 1 && found == null && at(from) != 'n' && named(nameFrom, nameTo, nameEscaped)) {
        found =
          if (isQuote(at(from))) text(from + 1, pos - 1, escaped)
          else copy(from, pos)
        found != null // an escaped lone surrogate: Jackson cannot write it back out
      } else true
    }

    private def elements(depth: Int): Boolean = {
      if (depth > MaxDepth) return false
      pos += 1
      skipWs()
      if (pos < size && at(pos) == ']') { pos += 1; return true }
      var state = More
      while (state == More) state = if (value(depth)) next(']') else Bad
      state == Closed
    }

    /** [[found]], provided the root is an object that is well formed up to
      * its closing brace. */
    def field(): UTF8String = {
      skipWs()
      if (pos < size && at(pos) == '{' && members(1)) found else null
    }

    private def named(from: Int, to: Int, nameEscaped: Boolean): Boolean =
      if (nameEscaped) name == text(from, to, escaped = true)
      else to - from == name.numBytes && {
        var i = 0
        while (i < name.numBytes &&
            at(from + i) == byteChar(name.getBaseObject, name.getBaseOffset + i))
          i += 1
        i == name.numBytes
      }

    private def copy(from: Int, to: Int): UTF8String = {
      val out = new Array[Byte](to - from)
      Platform.copyMemory(base, offset + from, out, Platform.BYTE_ARRAY_OFFSET, out.length)
      UTF8String.fromBytes(out)
    }

    /** A string's content bytes [from, to) unescaped; null for an escaped
      * surrogate that is not half of a `\uD8xx\uDCxx` pair. */
    private def text(from: Int, to: Int, escaped: Boolean): UTF8String = {
      if (!escaped) return copy(from, to)
      val out = new Array[Byte](to - from) // unescaping never grows the text
      var n = 0
      var i = from
      while (i < to) {
        val c = at(i)
        if (c != '\\') { out(n) = c.toByte; n += 1; i += 1 }
        else at(i + 1) match {
          case 'u' =>
            var cp = unitAt(i)
            i += 6
            if (cp >= 0xD800 && cp <= 0xDFFF) {
              val lo = if (cp <= 0xDBFF) unitAt(i) else -1
              if (lo < 0xDC00 || lo > 0xDFFF) return null
              cp = 0x10000 + ((cp - 0xD800) << 10) + (lo - 0xDC00)
              i += 6
            }
            n = utf8(out, n, cp)
          case e =>
            out(n) = (e match {
              case 'b' => '\b'; case 'f' => '\f'; case 'n' => '\n'
              case 'r' => '\r'; case 't' => '\t'; case other => other
            }).toByte
            n += 1
            i += 2
        }
      }
      UTF8String.fromBytes(out, 0, n)
    }

    private def utf8(out: Array[Byte], at: Int, cp: Int): Int =
      if (cp < 0x80) { out(at) = cp.toByte; at + 1 }
      else if (cp < 0x800) {
        out(at) = (0xC0 | (cp >> 6)).toByte
        out(at + 1) = (0x80 | (cp & 0x3F)).toByte
        at + 2
      } else if (cp < 0x10000) {
        out(at) = (0xE0 | (cp >> 12)).toByte
        out(at + 1) = (0x80 | ((cp >> 6) & 0x3F)).toByte
        out(at + 2) = (0x80 | (cp & 0x3F)).toByte
        at + 3
      } else {
        out(at) = (0xF0 | (cp >> 18)).toByte
        out(at + 1) = (0x80 | ((cp >> 12) & 0x3F)).toByte
        out(at + 2) = (0x80 | ((cp >> 6) & 0x3F)).toByte
        out(at + 3) = (0x80 | (cp & 0x3F)).toByte
        at + 4
      }
  }
}
