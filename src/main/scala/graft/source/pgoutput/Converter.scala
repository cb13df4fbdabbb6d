package graft.source.pgoutput

import graft.model.{ChangeEvent, Meta, Op}
import graft.serialization.JsonEnvelope
import graft.source.pgoutput.PgOutputMessage._
import graft.source.pgoutput.PgOutputMessages._

/** S5 — pgoutput message + registry → typed [[ChangeEvent]].
  *
  * pgoutput ships every column value as text; promotion is by column OID
  * (reference: src/source/postgres/converter.zig:146-192):
  *
  *  - int2/int4/int8 (21/23/20) → JSON integer; parse failure falls back to
  *    the raw string
  *  - float4/float8 (700/701) → JSON float; NaN/±Infinity stay TEXT (not
  *    valid JSON numbers)
  *  - bool (16) → exact "t"/"f"
  *  - numeric (1700) → string verbatim (never lose precision — Debezium
  *    `decimal.handling.mode=string` spirit)
  *  - anything else → string verbatim; SQL NULL → null; unchanged TOAST →
  *    the placeholder literal
  *
  * Commit time is stamped from the enclosing BEGIN (µs since the Postgres
  * epoch → Unix seconds, shift +946684800 — converter.zig:18-19); the event
  * LSN is rendered in pg_lsn text form. A tuple whose arity differs from the
  * registered relation is a hard error (converter.zig:106-108).
  */
final class ConvertException(msg: String) extends RuntimeException(msg)

object Converter {
  object Oid {
    val Int2 = 21; val Int4 = 23; val Int8 = 20
    val Float4 = 700; val Float8 = 701
    val Bool = 16
    val Numeric = 1700
  }

  /** Promote one text datum by OID into a JSON-ready scalar. Shared by the
    * streaming converter and the wire snapshot scan ([[graft.source.postgres
    * .WireBootstrap]]) — simple-query result columns carry the same type
    * OIDs, so snapshot READ rows promote identically to streamed changes. */
  def promote(oid: Int, d: Datum): Any = d match {
    case NullDatum => null
    case ToastDatum => ChangeEvent.ToastPlaceholder
    case BinaryDatum(b) => UpperHex.formatHex(b)
    case TextDatum(s) => oid match {
      case Oid.Int2 | Oid.Int4 | Oid.Int8 =>
        try java.lang.Long.parseLong(s) catch { case _: NumberFormatException => s }
      case Oid.Float4 | Oid.Float8 =>
        try {
          val v = java.lang.Double.parseDouble(s)
          if (v.isNaN || v.isInfinite) s else v
        } catch { case _: NumberFormatException => s }
      case Oid.Bool => s == "t"
      case Oid.Numeric => s
      case _ => s
    }
  }

  /** Upper-case hex, two digits per byte. */
  private val UpperHex = java.util.HexFormat.of().withUpperCase()
}

final class Converter(registry: RelationRegistry) {
  import Converter.promote

  private var currentCommitTsS: Long = 0L

  /** The row object in one pass: each `"name":value` member is appended
    * straight to one builder. */
  private def rowJson(rel: RelationRegistry#RelationInfo, t: TupleData): String = {
    val cols = rel.columns
    val data = t.columns
    if (data.size != cols.size)
      throw new ConvertException(
        s"arity mismatch for ${rel.resource}: tuple has ${data.size} " +
          s"columns, relation has ${cols.size}")
    val sb = new java.lang.StringBuilder(24 * cols.size + 2)
    sb.append('{')
    var i = 0
    while (i < cols.size) {
      if (i > 0) sb.append(',')
      val c = cols(i)
      JsonEnvelope.appendField(sb, c.name, promote(c.typeOid, data(i)))
      i += 1
    }
    sb.append('}').toString
  }

  private def event(op: String, relId: Int, data: TupleData, lsn: Long): ChangeEvent = {
    val rel = registry.get(relId).getOrElse(
      throw new ConvertException(s"data message for unregistered relation $relId"))
    ChangeEvent(op, rowJson(rel, data),
      Meta(ChangeEvent.SourceName, rel.resource, currentCommitTsS,
        ChangeEvent.lsnText(lsn)))
  }

  /** Convert one decoded message at WAL position `lsn`. BEGIN/COMMIT/RELATION
    * update converter state and yield no event. UPDATE keeps only the NEW row
    * in the serialized payload (json.zig:65-69); DELETE carries the old row.
    */
  def convert(msg: PgOutputMessage, lsn: Long): Option[ChangeEvent] = msg match {
    case Begin(_, tsMicros, _) =>
      currentCommitTsS = tsMicros / 1000000L + ChangeEvent.PostgresEpochShiftS
      None
    case _: Commit => None
    case r: Relation => registry.register(r); None
    case Insert(id, t) => Some(event(Op.Insert, id, t, lsn))
    case Update(id, _, newT) => Some(event(Op.Update, id, newT, lsn))
    case Delete(id, old) => Some(event(Op.Delete, id, old, lsn))
    case Skipped(_) => None
  }
}
