package graft.perfbench

import graft.source.pgoutput.PgOutputEncoder
import graft.source.pgoutput.PgOutputMessage._
import graft.source.pgoutput.PgOutputMessages._
import graft.source.wal.WalLog
import java.nio.file.Path

/** The seeded change generator both CDC workloads share. Every table has the
  * reference load stand's `benchmark_records` shape; transactions hold 1–8
  * row changes with a 60/30/10 insert/update/delete mix over live rows.
  * Each row's jsonb payload carries a version `v` (0 on insert, +1 per
  * update), so (table, op, id, v) names every change without an LSN. */
object Gen {
  /** Four routed tables (`benchmark_records` feeds two streams) and one that
    * no stream routes; perfbench/streams.json holds the routing. */
  val Tables: Vector[String] = Vector("benchmark_records", "accounts_ledger",
    "orders_feed", "payments_feed", "audit_trail")
  private val TableWeights = Vector(40, 20, 15, 15, 10)
  /** The table whose stream opts into `read`: pg_live snapshots it. */
  val SnapshotTable = "accounts_ledger"

  // int8 id, int8 account_id, numeric(20,6), text, jsonb, 2 x timestamptz
  val Columns: Vector[(String, Int, String)] = Vector(
    ("id", 20, "int8"), ("account_id", 20, "int8"),
    ("amount", 1700, "numeric(20,6)"), ("status", 25, "text"),
    ("payload", 3802, "jsonb"), ("created_at", 1184, "timestamptz"),
    ("updated_at", 1184, "timestamptz"))
  private val Statuses = Vector("new", "pending", "settled", "failed", "refunded")

  final case class Row(id: Long, accountId: Long, amount: String,
      status: String, payload: String, v: Int)
  /** `row` is the new row (insert/update) or the deleted row; `old` is the
    * row an update replaced (shipped as the old tuple, REPLICA IDENTITY FULL). */
  final case class Change(table: Int, op: Char, row: Row, old: Row = null) {
    def identity: String = s"${Tables(table)}|$op|${row.id}|${row.v}"
  }
  final case class Txn(index: Long, changes: Vector[Change])

  final class Generator(seed: Long) {
    private val rng = new java.util.SplittableRandom(seed)
    private val liveIds = Array.fill(Tables.size)(new scala.collection.mutable.ArrayBuffer[Long])
    private val rows = Array.fill(Tables.size)(scala.collection.mutable.HashMap.empty[Long, Row])
    private val nextId = Array.fill(Tables.size)(1L)
    private var txnIndex = 0L

    private def payload(id: Long, v: Int): String = {
      val head = f"""{"v": $v, "ref": "${rng.nextLong() & 0xffffffffffffL}%012x", "note": """"
      head + ("x" * math.max(0, 125 - head.length)) + "\"}" // ~128 B
    }

    private def newRow(t: Int, id: Long, v: Int): Row = Row(id,
      1 + rng.nextInt(10000), f"${rng.nextInt(1000000)}%d.${rng.nextInt(1000000)}%06d",
      Statuses(rng.nextInt(Statuses.size)), payload(id, v), v)

    private def pickTable(): Int = {
      var r = rng.nextInt(TableWeights.sum); var t = 0
      while (r >= TableWeights(t)) { r -= TableWeights(t); t += 1 }
      t
    }

    private def insert(t: Int): Change = {
      val id = nextId(t); nextId(t) += 1
      val row = newRow(t, id, 0)
      rows(t)(id) = row; liveIds(t) += id
      Change(t, 'I', row)
    }

    /** Rows that exist before the first transaction (pg_live's snapshot). */
    def prepopulate(table: String, n: Int): Vector[Row] = {
      val t = Tables.indexOf(table)
      Vector.fill(n)(insert(t).row)
    }

    def next(): Txn = {
      val n = 1 + rng.nextInt(8)
      val changes = Vector.fill(n) {
        val t = pickTable()
        val r = rng.nextInt(10)
        val live = liveIds(t)
        if (r < 6 || live.isEmpty) insert(t)
        else {
          val k = rng.nextInt(live.size)
          val id = live(k)
          if (r < 9) {
            val old = rows(t)(id)
            val row = newRow(t, id, old.v + 1)
            rows(t)(id) = row
            Change(t, 'U', row, old)
          } else {
            live(k) = live.last; live.remove(live.size - 1)
            Change(t, 'D', rows(t).remove(id).get)
          }
        }
      }
      txnIndex += 1
      Txn(txnIndex, changes)
    }
  }

  private def tuple(r: Row, tsText: String): TupleData = TupleData(Vector(
    r.id.toString, r.accountId.toString, r.amount, r.status, r.payload,
    tsText, tsText).map(TextDatum(_)))

  /** Relation ids are the table index + 16384, as user OIDs start there. */
  private def relation(t: Int): Relation = Relation(16384 + t, "public",
    Tables(t), 'f'.toByte,
    Columns.map { case (n, oid, _) => ColumnDef(if (n == "id") 1 else 0, n, oid, -1) })

  /** One WAL segment of `txns` starting at `startLsn`, re-announcing every
    * relation at its head as a walsender does per session. Returns the
    * segment's frames and, per data change, its (change, lsn). */
  def segment(txns: Seq[Txn], startLsn: Long, commitTsUs: Long)
      : (Vector[WalLog.Frame], Vector[(Change, Long)]) = {
    val frames = Vector.newBuilder[WalLog.Frame]
    val changes = Vector.newBuilder[(Change, Long)]
    var lsn = startLsn
    def add(m: graft.source.pgoutput.PgOutputMessage): Long = {
      frames += WalLog.Frame(lsn, PgOutputEncoder.encode(m)); lsn += 1; lsn - 1
    }
    Tables.indices.foreach(t => add(relation(t)))
    val pgTs = commitTsUs - graft.model.ChangeEvent.PostgresEpochShiftS * 1000000L
    val tsText = java.time.Instant.ofEpochSecond(commitTsUs / 1000000L).toString
    txns.foreach { tx =>
      val commitLsn = lsn + tx.changes.size + 1
      add(Begin(commitLsn, pgTs, tx.index.toInt))
      tx.changes.foreach { c =>
        val relId = 16384 + c.table
        val msg = c.op match {
          case 'I' => Insert(relId, tuple(c.row, tsText))
          case 'U' => Update(relId, Some(tuple(c.old, tsText)), tuple(c.row, tsText))
          case _ => Delete(relId, tuple(c.row, tsText))
        }
        changes += ((c, add(msg)))
      }
      add(Commit(0, commitLsn, commitLsn + 1, pgTs))
    }
    (frames.result(), changes.result())
  }

  /** Stage a segment (`.stg`, invisible to the engine) for a later
    * `WalLog.publishStaged`, which renames staged segments in order. */
  def stage(walDir: Path, index: Int, frames: Seq[WalLog.Frame]): Unit =
    WalLog.write(walDir.resolve(f"$index%08d.stg"), frames)
}
