package graft

import graft.model.ChangeEvent
import graft.serialization.JsonEnvelope
import graft.source.pgoutput._
import graft.source.pgoutput.PgOutputMessage._
import graft.source.pgoutput.PgOutputMessages._
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** The one-pass row JSON builders are byte-identical to the earlier
  * `fields.map(…).mkString` form, kept below as the oracle: random rows
  * over every scalar kind the converter emits, and strings over quotes,
  * backslashes, every control character, non-ASCII and surrogate pairs. */
class RowJsonSpec extends AnyFunSuite {

  /** The earlier builders, verbatim in behaviour. */
  private object Oracle {
    def escape(s: String): String = {
      val sb = new StringBuilder(s.length + 8)
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        c match {
          case '"'  => sb.append("\\\"")
          case '\\' => sb.append("\\\\")
          case '\b' => sb.append("\\b")
          case '\f' => sb.append("\\f")
          case '\n' => sb.append("\\n")
          case '\r' => sb.append("\\r")
          case '\t' => sb.append("\\t")
          case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
          case c => sb.append(c)
        }
        i += 1
      }
      sb.toString
    }
    def scalar(v: Any): String = v match {
      case null => "null"
      case l: Long => l.toString
      case i: Int => i.toString
      case b: Boolean => b.toString
      case d: Double => d.toString
      case s: String => "\"" + escape(s) + "\""
      case other => "\"" + escape(other.toString) + "\""
    }
    def obj(fields: Seq[(String, Any)]): String =
      fields.map { case (k, v) => "\"" + escape(k) + "\":" + scalar(v) }
        .mkString("{", ",", "}")
    def promote(oid: Int, d: Datum): Any = d match {
      case BinaryDatum(b) => b.map("%02X".format(_)).mkString
      case other => Converter.promote(oid, other)
    }
    def lsnText(lsn: Long): String =
      f"${(lsn >>> 32).toHexString.toUpperCase}%s/${(lsn & 0xFFFFFFFFL).toHexString.toUpperCase}%s"
  }

  private val rnd = new Random(20261017L)

  /** Characters that stress escaping and UTF-16 handling. */
  private val special: IndexedSeq[String] =
    (0 until 0x20).map(_.toChar.toString) ++ Seq("\"", "\\", "/", "\u007f",
      "é", "ß", "中", " ", "﻿", "😀", "𝄞", "{\"id\":1}")

  private def str(): String = {
    val sb = new StringBuilder
    (0 until rnd.nextInt(12)).foreach { _ =>
      rnd.nextInt(4) match {
        case 0 => sb.append(special(rnd.nextInt(special.size)))
        case 1 => sb.append((0x20 + rnd.nextInt(0x5F)).toChar)
        case 2 => sb.append(rnd.alphanumeric.take(1 + rnd.nextInt(6)).mkString)
        case _ => // any BMP char outside the surrogate range
          val c = rnd.nextInt(0xFFFE)
          sb.append((if (c >= 0xD800 && c <= 0xDFFF) c - 0x800 else c).toChar)
      }
    }
    sb.toString
  }

  private val longEdges = Seq(0L, -1L, 1L, Long.MaxValue, Long.MinValue,
    Int.MaxValue.toLong, Int.MinValue.toLong)
  private val doubleEdges = Seq(0.0, -0.0, 1.0, -1.5, Double.MaxValue,
    Double.MinValue, Double.MinPositiveValue, 1e-3, 9.999e-4, 1e7, 9999999.0,
    1e-300, 123456789.123, 0.1 + 0.2)

  private def finiteDouble(): Double = rnd.nextInt(3) match {
    case 0 => doubleEdges(rnd.nextInt(doubleEdges.size))
    case 1 => (rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(617) - 308)
    case _ =>
      val d = java.lang.Double.longBitsToDouble(rnd.nextLong())
      if (d.isNaN || d.isInfinite) 0.25 else d
  }

  private def value(): Any = rnd.nextInt(8) match {
    case 0 => if (rnd.nextBoolean()) longEdges(rnd.nextInt(longEdges.size)) else rnd.nextLong()
    case 1 => finiteDouble()
    case 2 => rnd.nextBoolean()
    case 3 => null
    case 4 => ChangeEvent.ToastPlaceholder
    case 5 => rnd.nextInt()
    case _ => str()
  }

  test("JsonEnvelope.obj/scalar/escape equal the map/mkString oracle on 200k rows") {
    var mismatches = 0
    val examples = Seq.newBuilder[String]
    (0 until 200000).foreach { _ =>
      val fields = (0 until rnd.nextInt(9)).map(_ => str() -> value())
      val got = JsonEnvelope.obj(fields)
      val want = Oracle.obj(fields)
      if (got != want) { mismatches += 1; if (mismatches <= 3) examples += s"$got != $want" }
    }
    (0 until 20000).foreach { _ =>
      val s = str()
      if (JsonEnvelope.escape(s) != Oracle.escape(s)) mismatches += 1
      val v = value()
      if (JsonEnvelope.scalar(v) != Oracle.scalar(v)) mismatches += 1
    }
    info(s"mismatches: $mismatches")
    assert(mismatches == 0, examples.result().mkString("\n"))
  }

  test("Converter row JSON equals the oracle over promoted columns of every OID") {
    val oids = Seq(Converter.Oid.Int2, Converter.Oid.Int4, Converter.Oid.Int8,
      Converter.Oid.Float4, Converter.Oid.Float8, Converter.Oid.Bool,
      Converter.Oid.Numeric, 25, 17, 3802)
    def text(oid: Int): String = oid match {
      case Converter.Oid.Int2 | Converter.Oid.Int4 | Converter.Oid.Int8 =>
        Seq(rnd.nextLong().toString, "+7", "0012", "12abc", "-0",
          Long.MaxValue.toString, "99999999999999999999")(rnd.nextInt(7))
      case Converter.Oid.Float4 | Converter.Oid.Float8 =>
        Seq(finiteDouble().toString, "NaN", "Infinity", "-Infinity", "1e5",
          "1.50", "abc", "-0")(rnd.nextInt(8))
      case Converter.Oid.Bool => if (rnd.nextBoolean()) "t" else "f"
      case _ => str()
    }
    val registry = new RelationRegistry
    val conv = new Converter(registry)
    conv.convert(Begin(0L, 0L, 1), 1L)
    var mismatches = 0
    (0 until 20000).foreach { n =>
      val cols = (0 until 1 + rnd.nextInt(8)).map(i =>
        ColumnDef(0, s"c$i" + str(), oids(rnd.nextInt(oids.size)), -1)).toVector
      conv.convert(Relation(1, "public", "t", 'd'.toByte, cols), 2L)
      val data = cols.map { c =>
        rnd.nextInt(6) match {
          case 0 => NullDatum
          case 1 => ToastDatum
          case 2 => BinaryDatum(Array.fill(rnd.nextInt(6))(rnd.nextInt(256).toByte))
          case _ => TextDatum(text(c.typeOid))
        }
      }
      val got = conv.convert(Insert(1, TupleData(data)), 100L + n).get.data
      val want = Oracle.obj(cols.zip(data).map { case (c, d) =>
        c.name -> Oracle.promote(c.typeOid, d) })
      if (got != want) mismatches += 1
    }
    info(s"mismatches: $mismatches")
    assert(mismatches == 0)
  }

  test("OID promotion: a binary datum renders as upper-case hex, two digits a byte") {
    assert(Converter.promote(17, BinaryDatum(Array[Byte](0, 1, 0x7F, -128, -1, 0x0A))) ==
      "00017F80FF0A")
    assert(Converter.promote(17, BinaryDatum(Array.emptyByteArray)) == "")
    (0 until 1000).foreach { _ =>
      val b = Array.fill(rnd.nextInt(40))(rnd.nextInt(256).toByte)
      assert(Converter.promote(17, BinaryDatum(b)) == Oracle.promote(17, BinaryDatum(b)))
    }
  }

  test("lsnText equals the String.format rendering") {
    val edges = Seq(0L, 1L, 0xFL, 0x10L, 0xFFFFFFFFL, 0x100000000L,
      0x1_3259A308L, Long.MaxValue, Long.MinValue, -1L)
    (edges ++ Seq.fill(100000)(rnd.nextLong()) ++
      Seq.fill(10000)(rnd.nextLong() >>> rnd.nextInt(64))).foreach { l =>
      assert(ChangeEvent.lsnText(l) == Oracle.lsnText(l))
      assert(ChangeEvent.lsnValue(ChangeEvent.lsnText(l)) == l)
    }
  }
}
