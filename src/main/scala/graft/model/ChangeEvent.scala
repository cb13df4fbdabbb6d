package graft.model

import org.apache.spark.sql.types._

/** The engine's single dataflow value: one row-level change event.
  *
  * Mirrors the reference data model (reference: src/domain/change_event.zig:117-121):
  * `ChangeEvent { op, data, meta }` with operations INSERT | UPDATE | DELETE |
  * READ | UNKNOWN (change_event.zig:6-12). READ is a snapshot row emitted before
  * streaming begins and must be treated as an upsert by consumers
  * (src/processor/processor.zig:300-304).
  *
  * Spark-native shape: the envelope is a fixed StructType; the row payload `data`
  * is a JSON string inside the fixed envelope (the reference serializes straight
  * to JSON too — src/serialization/json.zig:17-48), so one streaming DataFrame can
  * carry changes for many tables with heterogeneous schemas. Typed per-table
  * Datasets are derived at the edges.
  */
object Op {
  val Insert = "INSERT"
  val Update = "UPDATE"
  val Delete = "DELETE"
  val Read   = "READ"
  val Unknown = "UNKNOWN"
  val all: Set[String] = Set(Insert, Update, Delete, Read)
  /** Streamable ops a user may subscribe to (config `operations` values,
    * reference: src/config/config.zig:119-147; matching is case-insensitive). */
  val configurable: Set[String] = Set("insert", "update", "delete", "read")
}

/** Envelope metadata (reference: src/domain/change_event.zig:109-114).
  *
  * @param source    constant "postgres" for the CDC source
  * @param resource  fully-qualified `schema.table` — part of event identity
  *                  (src/source/postgres/converter.zig:92-94)
  * @param timestamp transaction COMMIT time in Unix seconds — stable across
  *                  replays (converter.zig:95-98)
  * @param lsn       WAL position in pg_lsn text form `X/X` — the consumer-side
  *                  dedup key for at-least-once redelivery (converter.zig:99-100)
  */
final case class Meta(source: String, resource: String, timestamp: Long, lsn: String)

/** One change event. `data` is the serialized row payload (JSON object text);
  * for UPDATE only the NEW row is serialized downstream
  * (reference: src/serialization/json.zig:65-69); DELETE carries the OLD row.
  */
final case class ChangeEvent(op: String, data: String, meta: Meta)

object ChangeEvent {
  /** Placeholder for an unchanged TOAST column: the column stays present with
    * this literal instead of a fake NULL (reference: src/constants.zig:14-16,
    * src/source/postgres/converter.zig:127-132). */
  val ToastPlaceholder = "__outboxx_unknown_value__"

  val SourceName = "postgres"

  /** Postgres epoch (2000-01-01) → Unix epoch shift in seconds
    * (reference: src/source/postgres/converter.zig:18-19). */
  val PostgresEpochShiftS = 946684800L

  val metaType: StructType = StructType(Seq(
    StructField("source", StringType, nullable = false),
    StructField("resource", StringType, nullable = false),
    StructField("timestamp", LongType, nullable = false),
    StructField("lsn", StringType, nullable = false)))

  /** Fixed envelope schema for a heterogeneous change stream. */
  val envelopeType: StructType = StructType(Seq(
    StructField("op", StringType, nullable = false),
    StructField("data", StringType, nullable = false),
    StructField("meta", metaType, nullable = false)))

  /** Render a WAL position as pg_lsn text `X/X` (upper-case hex hi/lo words),
    * e.g. 0x1_3259A308 → "1/3259A308" (reference: converter.zig:99-100). */
  def lsnText(lsn: Long): String = {
    val out = new Array[Char](17)
    var n = putHex(out, 0, lsn >>> 32)
    out(n) = '/'
    n = putHex(out, n + 1, lsn & 0xFFFFFFFFL)
    new String(out, 0, n)
  }

  /** Write `w` as upper-case hex without leading zeros at `out(at)`;
    * returns the index after the last digit. */
  private def putHex(out: Array[Char], at: Int, w: Long): Int = {
    var n = at
    var shift = math.max(0, 63 - java.lang.Long.numberOfLeadingZeros(w)) / 4 * 4
    while (shift >= 0) {
      out(n) = UpperHex(((w >>> shift) & 0xF).toInt)
      n += 1
      shift -= 4
    }
    n
  }

  private val UpperHex = "0123456789ABCDEF".toCharArray

  /** Parse pg_lsn text back to a 64-bit position. */
  def lsnValue(text: String): Long = {
    val i = text.indexOf('/')
    require(i > 0, s"not a pg_lsn: $text")
    (java.lang.Long.parseLong(text.substring(0, i), 16) << 32) |
      java.lang.Long.parseLong(text.substring(i + 1), 16)
  }
}
