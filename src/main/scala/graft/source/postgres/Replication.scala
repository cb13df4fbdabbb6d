package graft.source.postgres

/** S2 — replication session management as driver-side SQL/command builders.
  *
  * The reference opens a replication-mode connection and issues these
  * commands directly (reference: src/source/postgres/replication_protocol.zig:114-374,
  * slot state machine source.zig:178-197). In the Spark build they run over a
  * plain JDBC connection during the source's bootstrap (driver side), so the
  * engine keeps them as pure command text + a tiny state machine — testable
  * without a server, verbatim against one.
  */
object Replication {

  /** Identifiers are interpolated into command text — restrict them to the
    * unquoted-identifier charset so a mixed-case/reserved/quoted name cannot
    * silently fold to a different object or inject into the command. */
  private[postgres] def ident(name: String): String = {
    require(name.matches("[a-z_][a-z0-9_]*(\\.[a-z_][a-z0-9_]*)?"),
      s"invalid identifier: '$name' (lowercase unquoted identifiers only)")
    name
  }

  /** Publication management (pgoutput requires one). The reference creates
    * FOR ALL TABLES (replication_protocol.zig:155-172); per-table publications
    * push table filtering into Postgres — the load stand uses that form
    * (tests/load/postgres/init.sql:13-17) and so do we: filter pushdown to
    * the source is free row filtering before bytes ever leave the server. */
  def createPublication(name: String, tables: Seq[String]): String =
    if (tables.isEmpty) s"CREATE PUBLICATION ${ident(name)} FOR ALL TABLES"
    else s"CREATE PUBLICATION ${ident(name)} FOR TABLE ${tables.map(ident).mkString(", ")}"

  def dropPublication(name: String): String =
    s"DROP PUBLICATION IF EXISTS ${ident(name)}"

  def publicationExists(name: String): String =
    s"SELECT 1 FROM pg_publication WHERE pubname = '${ident(name)}'"

  /** Current table membership of a publication (schema-qualified). */
  def publicationTables(name: String): String =
    "SELECT schemaname || '.' || tablename AS resource " +
      s"FROM pg_publication_tables WHERE pubname = '${ident(name)}'"

  /** Reconcile an existing publication's table list to the configured
    * streams — a stream added to the config after the publication was
    * created would otherwise be silently filtered out by the walsender. */
  def setPublicationTables(name: String, tables: Seq[String]): String = {
    require(tables.nonEmpty, "SET TABLE requires at least one table")
    s"ALTER PUBLICATION ${ident(name)} SET TABLE ${tables.map(ident).mkString(", ")}"
  }

  /** An EMPTY publication (no FOR clause) — the durable snapshot-in-progress
    * marker flag (replication_protocol.zig:174-214): publications are plain
    * catalog rows, so existence is crash-durable and cheap to test. */
  def createMarkerPublication(name: String): String =
    s"CREATE PUBLICATION ${ident(name)}"

  /** Durable snapshotted-resource ledger: one EMPTY publication per
    * delivered resource (same catalog-row durability trick as the marker).
    * The name embeds a hash of the schema-qualified resource — publication
    * names cap at 63 bytes and restrict their charset, so the resource
    * cannot be embedded verbatim; existence checks hash the same way. */
  val SnapshotDonePrefix = "graft_snapdone_"

  def snapshotDoneName(resource: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(resource.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    SnapshotDonePrefix + d.take(8).map("%02x".format(_)).mkString
  }

  def listSnapshotDone: String =
    s"SELECT pubname FROM pg_publication WHERE pubname LIKE '$SnapshotDonePrefix%'"

  /** The server's current WAL insert position — the boundary LSN of a delta
    * snapshot. Run as the FIRST statement of a REPEATABLE READ transaction
    * it also establishes the snapshot, so boundary and visibility are
    * captured together: every commit visible to the scan has lsn < boundary. */
  val currentWalLsn = "SELECT pg_current_wal_lsn() AS lsn"

  /** How slot creation exposes its consistent snapshot (public replication
    * grammar): EXPORT returns `snapshot_name` for OTHER sessions to adopt
    * (the parallel multi-connection snapshot path — [[WireSnapshot]]);
    * USE pins THIS session's open transaction to the snapshot, so the
    * single-session bootstrap can scan tables and then stream with no second
    * connection; NOTHING skips the snapshot (streaming-only streams). */
  sealed trait SnapshotMode { def clause: String }
  case object ExportSnapshot extends SnapshotMode { val clause = "EXPORT_SNAPSHOT" }
  case object UseSnapshot extends SnapshotMode { val clause = "USE_SNAPSHOT" }
  case object NoExportSnapshot extends SnapshotMode { val clause = "NOEXPORT_SNAPSHOT" }

  /** Slot creation on a replication connection; the result row carries
    * `consistent_point` (the stream start LSN) and `snapshot_name` (the
    * exported snapshot the initial table scan must run under — only valid
    * while this session stays open, snapshot.zig:31-36). */
  def createSlot(slot: String, mode: SnapshotMode = ExportSnapshot): String =
    s"CREATE_REPLICATION_SLOT ${ident(slot)} LOGICAL pgoutput ${mode.clause}"

  def dropSlot(slot: String): String =
    s"DROP_REPLICATION_SLOT ${ident(slot)} WAIT"

  def slotExists(slot: String): String =
    s"SELECT 1 FROM pg_replication_slots WHERE slot_name = '${ident(slot)}'"

  /** Begin CopyBoth streaming from the consistent point. */
  def startReplication(slot: String, publication: String, startLsn: String): String =
    s"START_REPLICATION SLOT ${ident(slot)} LOGICAL $startLsn " +
      s"""(proto_version '1', publication_names '${ident(publication)}')"""

  /** Snapshot session setup: the initial scan must see exactly the slot's
    * consistent point (snapshot.zig:75-100). Each [[WireSnapshot]] scan
    * session runs these to adopt the exported snapshot. */
  def snapshotSessionSql(snapshotName: String): Seq[String] = Seq(
    "BEGIN ISOLATION LEVEL REPEATABLE READ",
    s"SET TRANSACTION SNAPSHOT '$snapshotName'")

  /** Cursor-batched table scan for the snapshot phase (snapshot.zig:144-152).
    * [[WireSnapshot]] runs one such cursor per primary-key range, each on
    * its own session pinned to the same exported snapshot. */
  def declareCursor(cursor: String, resource: String): String =
    s"DECLARE ${ident(cursor)} CURSOR FOR SELECT * FROM ${ident(resource)}"

  def fetchForward(cursor: String, n: Int): String =
    s"FETCH FORWARD $n FROM ${ident(cursor)}"

  def closeCursor(cursor: String): String = s"CLOSE ${ident(cursor)}"
}
