package graft.source.postgres

import graft.config.StreamDef
import graft.model.{ChangeEvent, Meta, Op}
import graft.serialization.JsonEnvelope
import graft.source.pgoutput.Converter
import graft.source.pgoutput.PgOutputMessage.{NullDatum, TextDatum}

/** Cold-start bootstrap over ONE wire session — the piece that lets the
  * engine start against a fresh database with no pre-created slot or
  * publication (reference: src/source/postgres/replication_protocol.zig:216-313,
  * slot state machine source.zig:178-197, snapshot consistency contract
  * src/e2e/snapshot_test.zig:12-24):
  *
  *  1. ensure the publication (per-table → row filtering inside Postgres),
  *  2. run [[SnapshotBootstrap]]'s marker/slot/redo state machine with this
  *     wire-backed [[WireCatalog]]: slot creation inside an open transaction
  *     with `USE_SNAPSHOT` pins the SAME session to the slot's consistent
  *     snapshot, so the initial table scan needs no second connection and
  *     cannot observe a row the stream will replay below the boundary,
  *  3. emit every snapshot row as a READ event stamped with the slot's
  *     `consistent_point` (the dedup boundary consumers key on),
  *  4. hand the session to CopyBoth streaming from that same point.
  *
  * [[WireSnapshot]] is the partitioned form of the snapshot phase: many
  * sessions scanning primary-key ranges under one `EXPORT_SNAPSHOT` name.
  * `graft.Main` runs this single-session cursor path, which is also the
  * semantics oracle for the partitioned scan.
  */
object WireBootstrap {

  def publicationExists(s: PgSession, name: String): Boolean =
    s.simpleQuery(Replication.publicationExists(name)).rows.nonEmpty

  def slotExists(s: PgSession, name: String): Boolean =
    s.simpleQuery(Replication.slotExists(name)).rows.nonEmpty

  /** Create the publication if absent, or RECONCILE an existing one's table
    * list to the configured streams — a stream added to the config after the
    * publication was created would otherwise be silently filtered out by the
    * walsender (a green pipeline ingesting nothing for that stream). Returns
    * true when the catalog was changed. `tables` empty = FOR ALL TABLES
    * (nothing to reconcile). */
  def ensurePublication(s: PgSession, name: String, tables: Seq[String]): Boolean =
    if (!publicationExists(s, name)) {
      s.simpleQuery(Replication.createPublication(name, tables))
      true
    } else if (tables.nonEmpty) {
      val current = s.simpleQuery(Replication.publicationTables(name))
        .rows.map(_.head).toSet
      if (current == tables.toSet) false
      else {
        s.simpleQuery(Replication.setPublicationTables(name, tables))
        true
      }
    } else false

  final case class SlotCreated(consistentPoint: Long, snapshotName: Option[String])

  /** CREATE_REPLICATION_SLOT, reading `consistent_point` / `snapshot_name`
    * from the result row BY NAME (column order is not part of the contract). */
  def createSlot(s: PgSession, slot: String,
      mode: Replication.SnapshotMode): SlotCreated = {
    val r = s.simpleQuery(Replication.createSlot(slot, mode))
    val point = r.single("consistent_point").getOrElse(
      throw new IllegalStateException(
        s"CREATE_REPLICATION_SLOT returned no consistent_point for $slot"))
    SlotCreated(ChangeEvent.lsnValue(point), r.single("snapshot_name"))
  }

  /** Cursor-batched scan of one resource under the pinned snapshot; every row
    * becomes a READ event stamped with the boundary LSN. Column type OIDs come
    * from the FETCH RowDescription and promote through the same
    * [[Converter.promote]] as streamed pgoutput datums — snapshot rows and
    * streamed changes are byte-identical in payload shape
    * (reference cursor scan: src/source/postgres/snapshot.zig:144-152). */
  def scanResource(s: PgSession, resource: String, boundaryLsn: Long,
      nowS: () => Long = () => System.currentTimeMillis() / 1000,
      batchRows: Int = 5000)(emit: ChangeEvent => Unit): Long = {
    val cursor = "graft_snapshot_cursor"
    s.simpleQuery(Replication.declareCursor(cursor, resource))
    val ts = nowS()
    var total = 0L
    var more = true
    while (more) {
      val r = s.simpleQuery(Replication.fetchForward(cursor, batchRows))
      r.rows.foreach { row =>
        val json = JsonEnvelope.obj(r.fields.lazyZip(row).map { (f, v) =>
          f.name -> Converter.promote(f.typeOid,
            if (v == null) NullDatum else TextDatum(v))
        }.toSeq)
        emit(ChangeEvent(Op.Read, json, Meta(ChangeEvent.SourceName, resource,
          ts, ChangeEvent.lsnText(boundaryLsn))))
        total += 1
      }
      more = r.rows.nonEmpty
    }
    s.simpleQuery(Replication.closeCursor(cursor))
    total
  }

  /** [[SnapshotBootstrap.Catalog]] over a live wire session. The snapshot
    * marker is an EMPTY publication (durable catalog row). When a snapshot
    * phase is needed, slot creation opens a transaction and pins it to the
    * slot's snapshot (`USE_SNAPSHOT`); [[flushSink]] commits it after the
    * emitted READ events are durably delivered. */
  final class WireCatalog(s: PgSession, needsSnapshot: Boolean,
      emit: ChangeEvent => Unit, flushDelivery: () => Unit,
      nowS: () => Long = () => System.currentTimeMillis() / 1000)
      extends SnapshotBootstrap.Catalog {
    private var inTx = false

    override def markerExists(marker: String): Boolean =
      publicationExists(s, marker)
    override def createMarker(marker: String): Unit =
      s.simpleQuery(Replication.createMarkerPublication(marker))
    override def dropMarker(marker: String): Unit =
      s.simpleQuery(Replication.dropPublication(marker))
    override def slotExists(slot: String): Boolean =
      WireBootstrap.slotExists(s, slot)

    override def createSlot(slot: String): (Long, String) =
      if (needsSnapshot) {
        s.simpleQuery("BEGIN ISOLATION LEVEL REPEATABLE READ")
        inTx = true
        val sc = WireBootstrap.createSlot(s, slot, Replication.UseSnapshot)
        (sc.consistentPoint, sc.snapshotName.getOrElse("use_snapshot"))
      } else {
        val sc = WireBootstrap.createSlot(s, slot, Replication.NoExportSnapshot)
        (sc.consistentPoint, "")
      }

    override def dropSlot(slot: String): Unit =
      s.simpleQuery(Replication.dropSlot(slot))

    override def snapshotResource(resource: String, snapshotName: String,
        boundaryLsn: Long): Unit = {
      scanResource(s, resource, boundaryLsn, nowS)(emit)
      ()
    }

    override def flushSink(): Unit = {
      commitIfOpen()
      flushDelivery()
    }

    // ---- durable snapshotted-resource ledger (empty publications) ----
    override def snapshotDone(resource: String): Boolean =
      publicationExists(s, Replication.snapshotDoneName(resource))
    override def recordSnapshotDone(resource: String): Unit =
      s.simpleQuery(Replication.createMarkerPublication(
        Replication.snapshotDoneName(resource)))
    override def clearSnapshotLedger(): Unit =
      s.simpleQuery(Replication.listSnapshotDone).rows.map(_.head)
        .foreach(n => s.simpleQuery(Replication.dropPublication(n)))

    /** Delta-snapshot consistency unit: a REPEATABLE READ transaction whose
      * first statement both establishes the snapshot and captures the WAL
      * boundary. Ends at [[flushSink]]'s commit. */
    override def openDeltaTransaction(): Long = {
      s.simpleQuery("BEGIN ISOLATION LEVEL REPEATABLE READ")
      inTx = true
      val lsn = s.simpleQuery(Replication.currentWalLsn).single("lsn")
        .getOrElse(throw new IllegalStateException(
          "pg_current_wal_lsn() returned NULL"))
      ChangeEvent.lsnValue(lsn)
    }

    /** End the snapshot transaction if one is open — also the safety net for
      * outcomes that never reach flushSink (NoSnapshotNeeded). */
    def commitIfOpen(): Unit = if (inTx) {
      s.simpleQuery("COMMIT")
      inTx = false
    }
  }

  final case class Bootstrapped(outcome: SnapshotBootstrap.Outcome, startLsn: Long)

  /** Full cold-start: ensure publication → marker/slot/snapshot state machine
    * → the LSN streaming must start from (the slot's consistent point on a
    * fresh create; the engine's confirmed LSN on clean resume). The caller
    * then invokes `session.startReplication(slot, publication,
    * lsnText(startLsn))` on the SAME session. */
  def bootstrap(s: PgSession, slot: String, publication: String,
      streams: Seq[StreamDef], confirmedLsn: => Long,
      emit: ChangeEvent => Unit, flushDelivery: () => Unit,
      marker: String = "graft_snapshot_marker",
      nowS: () => Long = () => System.currentTimeMillis() / 1000): Bootstrapped = {
    // a publication named like the marker would be read as an interrupted
    // snapshot at every start — slot dropped, snapshot redone forever
    require(publication != marker,
      s"publication name collides with the snapshot marker '$marker'")
    ensurePublication(s, publication,
      streams.map(_.normalized.resource).distinct)
    val needsSnapshot = SnapshotBootstrap.readResources(streams).nonEmpty
    val cat = new WireCatalog(s, needsSnapshot, emit, flushDelivery, nowS)
    val outcome =
      try SnapshotBootstrap.run(cat, slot, streams, marker)
      finally cat.commitIfOpen()
    val startLsn = outcome match {
      case SnapshotBootstrap.Snapshotted(point, _) => point
      case SnapshotBootstrap.NoSnapshotNeeded(point) => point
      case SnapshotBootstrap.Resumed => confirmedLsn
      // the delta READs carry their own boundary; the STREAM resumes from
      // the engine's confirmed position exactly as on a clean restart
      case SnapshotBootstrap.DeltaSnapshotted(_, _) => confirmedLsn
    }
    Bootstrapped(outcome, startLsn)
  }
}
