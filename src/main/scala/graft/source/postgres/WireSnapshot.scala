package graft.source.postgres

import graft.model.ChangeEvent
import graft.serialization.JsonEnvelope
import graft.source.pgoutput.Converter
import graft.source.pgoutput.PgOutputMessage.{NullDatum, TextDatum}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Massively parallel initial snapshot over the engine's OWN wire client —
  * the `EXPORT_SNAPSHOT` path (reference snapshot contract:
  * src/e2e/snapshot_test.zig:12-24; single-session cursor analog:
  * src/source/postgres/snapshot.zig:144-152).
  *
  * The slot is created with `EXPORT_SNAPSHOT`; the returned `snapshot_name`
  * is adopted by EVERY scan partition on its own connection
  * (`BEGIN ISOLATION LEVEL REPEATABLE READ; SET TRANSACTION SNAPSHOT '…'`),
  * so N executors see the IDENTICAL consistent point the stream will resume
  * from — the property that makes the initial scan of a 100 TB table a
  * normal distributed Spark job instead of one connection's cursor loop.
  * Postgres only keeps the exported snapshot importable while the EXPORTING
  * session's transaction stays open: the caller holds the slot-creating
  * session open across the scan (same discipline as the reference's
  * snapshot FSM).
  *
  * Each partition scans one primary-key range with a server-side cursor
  * (bounded memory on both ends) and emits the SAME envelope rows as
  * [[WireBootstrap.scanResource]] — READ events stamped with the boundary
  * LSN, values promoted by result-column OID — so parallel-snapshot output
  * is byte-compatible with the single-session bootstrap and with streamed
  * changes. Range skew on a non-uniform key is bounded by `numPartitions`
  * (AQE rebalances downstream); a hashed-pk predicate would be the next
  * step for pathological keys.
  */
object WireSnapshot {

  /** One partition's scan bounds (inclusive). */
  final case class PkRange(lo: Long, hi: Long)

  /** Split [lo, hi] into ≤n contiguous, disjoint, covering ranges. BigInt
    * internally: a sparse bigint key can span more than Long.Max/n, where
    * long `span * i` silently wraps into overlapping (data-duplicating) or
    * inverted (data-LOSING) ranges. */
  private[graft] def splitRanges(lo: Long, hi: Long, n: Int): Seq[PkRange] =
    (0 until math.max(1, n)).map { i =>
      val m = math.max(1, n)
      val span = BigInt(hi) - BigInt(lo) + 1
      val a = BigInt(lo) + span * i / m
      val b = BigInt(lo) + span * (i + 1) / m - 1
      PkRange(a.toLong, b.toLong)
    }.filter(r => r.hi >= r.lo)

  /** The envelope row every snapshot partition emits — field-compatible
    * with [[ChangeEvent]] flattened (op, data, meta.*). */
  final case class SnapshotRow(op: String, data: String, source: String,
      resource: String, timestamp: Long, lsn: String)

  private def adopt(s: PgSession, snapshotName: String): Unit = {
    require(snapshotName.matches("[0-9A-Fa-f-]+"),
      s"implausible snapshot name: '$snapshotName'")
    Replication.snapshotSessionSql(snapshotName).foreach(s.simpleQuery)
  }

  /** Scan `resource` under `snapshotName` in `numPartitions` parallel
    * range-partitioned cursors. `boundaryLsn` stamps every READ event (the
    * slot's consistent point). The caller keeps the exporting session open
    * until this returns an ACTION result (the DataFrame is lazy — collect/
    * write inside the export window). */
  def scan(spark: SparkSession, ep: SocketCopyBothChannel.Endpoint,
      snapshotName: String, resource: String, pkCol: String,
      numPartitions: Int, boundaryLsn: Long,
      nowS: () => Long = () => System.currentTimeMillis() / 1000,
      batchRows: Int = 5000): DataFrame = {
    Replication.ident(resource); Replication.ident(pkCol)
    import spark.implicits._
    // key bounds under the SAME snapshot (its own adopting session)
    val bounds = {
      val s = PgSession.connect(ep)
      try {
        adopt(s, snapshotName)
        val r = s.simpleQuery(s"SELECT min($pkCol)::text AS lo, " +
          s"max($pkCol)::text AS hi FROM $resource")
        s.simpleQuery("COMMIT")
        for { lo <- r.single("lo"); hi <- r.single("hi") }
          yield (lo.toLong, hi.toLong)
      } finally s.close()
    }
    val ts = nowS()
    bounds match {
      case None => spark.emptyDataset[SnapshotRow].toDF()
      case Some((lo, hi)) =>
        val ranges = splitRanges(lo, hi, numPartitions)
        // EXACTLY one range per Spark partition: parallelize with explicit
        // numSlices slices the seq positionally — a repartition(n) would
        // HASH the range rows, landing 2 ranges on some tasks and 0 on
        // others and silently halving snapshot parallelism
        val host = ep.host; val port = ep.port; val user = ep.user
        val db = ep.database; val pass = ep.password; val ssl = ep.ssl
        spark.createDataset(
          spark.sparkContext.parallelize(ranges, math.max(1, ranges.size)))
          .mapPartitions { it =>
            val epLocal = SocketCopyBothChannel.Endpoint(
              host, port, user, db, pass, ssl)
            it.flatMap { range =>
              val s = PgSession.connect(epLocal)
              // the session must die with the task, not with the iterator —
              // a task killed mid-scan (speculation, failure) would
              // otherwise leak the connection and its open transaction
              val tc = org.apache.spark.TaskContext.get()
              if (tc != null) tc.addTaskCompletionListener[Unit](_ => s.close())
              adopt(s, snapshotName)
              val cursor = "graft_psnap_cursor"
              s.simpleQuery(s"DECLARE $cursor CURSOR FOR SELECT * FROM " +
                s"$resource WHERE $pkCol BETWEEN ${range.lo} AND ${range.hi} " +
                s"ORDER BY $pkCol")
              // lazy batch-at-a-time iterator: memory is bounded by
              // batchRows on BOTH ends regardless of range size
              new Iterator[SnapshotRow] {
                private var buf: Iterator[SnapshotRow] = Iterator.empty
                private var done = false
                private def fill(): Unit = while (!done && !buf.hasNext) {
                  val r = s.simpleQuery(
                    Replication.fetchForward(cursor, batchRows))
                  if (r.rows.isEmpty) {
                    done = true
                    s.simpleQuery(Replication.closeCursor(cursor))
                    s.simpleQuery("COMMIT")
                    if (tc == null) s.close()
                  } else buf = r.rows.iterator.map { row =>
                    val json = JsonEnvelope.obj(
                      r.fields.lazyZip(row).map { (f, v) =>
                        f.name -> Converter.promote(f.typeOid,
                          if (v == null) NullDatum else TextDatum(v))
                      }.toSeq)
                    SnapshotRow(graft.model.Op.Read, json,
                      ChangeEvent.SourceName, resource, ts,
                      ChangeEvent.lsnText(boundaryLsn))
                  }
                }
                override def hasNext: Boolean = { fill(); buf.hasNext }
                override def next(): SnapshotRow = { fill(); buf.next() }
              }
            }
          }.toDF()
    }
  }
}
