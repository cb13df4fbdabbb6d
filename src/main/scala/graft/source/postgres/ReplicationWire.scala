package graft.source.postgres

import graft.source.wal.WalLog
import java.nio.ByteBuffer
import java.nio.file.{Files, Path, Paths}

/** The CopyBoth streaming sub-protocol of a logical-replication session —
  * the wire loop the reference runs after START_REPLICATION
  * (reference: src/source/postgres/replication_protocol.zig:376-536):
  *
  *  - XLogData        `'w' | walStart:8 | walEnd:8 | serverClock:8 | payload`
  *    (payload is one raw pgoutput message — exactly a [[WalLog.Frame]])
  *  - Primary keepalive `'k' | walEnd:8 | serverClock:8 | replyRequested:1`
  *  - Standby status  `'r' | written:8 | flushed:8 | applied:8 | clock:8 | reply:1`
  *    (sent on keepalive demand, on a cadence, and after commit — the
  *    flush-then-confirm contract, replication_protocol.zig:505-536)
  *
  * Message formats are the documented PostgreSQL streaming-replication
  * protocol. The transport (TCP socket, startup, auth, CopyBothResponse) is
  * abstracted behind [[CopyBothChannel]]: unit tests drive the full loop
  * with an in-memory fake, and a deployment with a Postgres driver on the
  * classpath implements the trait over its CopyBoth API (e.g. pgjdbc's
  * replication stream) without touching the engine.
  */
object ReplicationWire {

  /** µs between the Unix and PostgreSQL (2000-01-01) epochs. */
  val PgEpochShiftMicros: Long = 946684800000000L

  final case class XLogData(walStart: Long, walEnd: Long, serverClock: Long,
      payload: Array[Byte])
  final case class Keepalive(walEnd: Long, serverClock: Long, replyRequested: Boolean)

  sealed trait Message
  final case class Data(x: XLogData) extends Message
  final case class Ping(k: Keepalive) extends Message

  /** Decode one CopyData payload from the server. Unknown tags fail fast —
    * a desynced stream must never be silently skipped (the reference's
    * truncation/unknown-tag policy). */
  def decode(msg: Array[Byte]): Message = {
    require(msg.length >= 1, "empty replication message")
    val bb = ByteBuffer.wrap(msg)
    bb.get() match {
      case 'w' =>
        require(msg.length >= 25, s"truncated XLogData (${msg.length} bytes)")
        val start = bb.getLong(); val end = bb.getLong(); val clock = bb.getLong()
        val payload = new Array[Byte](bb.remaining()); bb.get(payload)
        Data(XLogData(start, end, clock, payload))
      case 'k' =>
        require(msg.length >= 18, s"truncated keepalive (${msg.length} bytes)")
        Ping(Keepalive(bb.getLong(), bb.getLong(), bb.get() != 0))
      case t =>
        throw new IllegalStateException(
          f"unknown replication message tag '${t.toChar}' (0x$t%02x)")
    }
  }

  /** Standby status update — the commit/feedback message. `lsn` semantics
    * follow the reference: written = flushed = applied = the durably
    * delivered position (we only advance after the sink epoch commits). */
  def statusUpdate(lsn: Long, clockMicros: Long,
      replyRequested: Boolean = false): Array[Byte] = {
    val bb = ByteBuffer.allocate(34)
    bb.put('r'.toByte).putLong(lsn).putLong(lsn).putLong(lsn)
      .putLong(clockMicros).put(if (replyRequested) 1.toByte else 0.toByte)
    bb.array()
  }

  /** Encode an XLogData message (test fixtures / fake walsenders). */
  def encodeXLogData(x: XLogData): Array[Byte] = {
    val bb = ByteBuffer.allocate(25 + x.payload.length)
    bb.put('w'.toByte).putLong(x.walStart).putLong(x.walEnd)
      .putLong(x.serverClock).put(x.payload)
    bb.array()
  }

  def encodeKeepalive(k: Keepalive): Array[Byte] = {
    val bb = ByteBuffer.allocate(18)
    bb.put('k'.toByte).putLong(k.walEnd).putLong(k.serverClock)
      .put(if (k.replyRequested) 1.toByte else 0.toByte)
    bb.array()
  }
}

/** The duplex transport under the CopyBoth loop. `read()` returns the next
  * CopyData payload from the server, blocking up to its internal timeout,
  * or null when nothing arrived in time; a closed stream throws. Unit tests
  * fake this; a live deployment backs it with a replication-mode
  * connection's CopyBoth channel. */
trait CopyBothChannel extends AutoCloseable {
  def read(): Array[Byte]
  def write(msg: Array[Byte]): Unit
}

/** Pumps a live replication channel into the engine's WAL segment files —
  * the bridge that lets the whole existing pipeline (admission scan, sliced
  * decode, checkpointing, confirmed-LSN commit) run unchanged against a
  * live walsender: the DSv2 source keeps reading segment files; this spooler
  * is the walsender-facing half.
  *
  *  - XLogData frames append to rolling `NNNNNNNN.wal` segments (frame lsn =
  *    walStart, payload = the raw pgoutput message) — byte-compatible with
  *    [[WalLog]].
  *  - Keepalives with reply-requested are answered immediately; otherwise a
  *    status update goes out every `statusIntervalMicros` (the reference's
  *    feedback cadence, replication_protocol.zig:505-536).
  *  - When the wire has been silent for `solicitAfterMicros`, cadence
  *    statuses carry reply-requested: a server running with
  *    `wal_sender_timeout=0` (keepalives disabled — a valid config) sends
  *    ZERO unsolicited bytes on an idle database, and without solicitation
  *    the wire-liveness heartbeat would go stale and the stall watchdog
  *    would kill a healthy pipeline in a restart loop. An alive server
  *    answers the request immediately; a dead/half-open one stays silent
  *    and the watchdog trips for the right reason.
  *  - Every status update reports `flushed = WalLog.confirmed(walDir)`: the
  *    confirmed-LSN file the DSv2 `commit()` writes after each durably
  *    delivered epoch IS the handoff — the server's restart point only
  *    advances after sink delivery, preserving the at-least-once contract
  *    end-to-end over the wire.
  *
  * Large-transaction bound — the classic CDC failure mode (a multi-GB bulk
  * UPDATE in one transaction): the reference buffers each whole transaction
  * in memory between BEGIN and COMMIT; THIS spooler never does — every frame
  * appends straight to the segment file, so a giant transaction costs
  * bounded memory (one frame) and unbounded DISK, and the downstream decode
  * streams it back frame-by-frame the same way. The residual risk is disk
  * exhaustion, silent until the filesystem fails: `maxTransactionBytes`
  * (opt-in; unlimited by default because killing a legitimate bulk load is
  * worse than a disk alert) fails LOUDLY mid-transaction once a single
  * transaction's spooled payload bytes exceed the bound — the operator gets
  * the LSN and byte count, and restart re-streams from the confirmed LSN
  * (nothing unconfirmed is lost; at-least-once holds).
  */
final class ReplicationSpooler(
    channel: CopyBothChannel,
    walDir: String,
    segmentBytes: Long = 64L * 1024 * 1024,
    statusIntervalMicros: Long = 10L * 1000000,
    /** Silence threshold after which cadence statuses solicit a reply —
      * one third of the 90 s liveness window, so an alive-but-mute server
      * (wal_sender_timeout=0) gets several chances to refresh the wire
      * heartbeat before the watchdog would trip. */
    solicitAfterMicros: Long = 30L * 1000000,
    nowMicros: () => Long = () => System.currentTimeMillis() * 1000L,
    /** Loud-failure ceiling on one transaction's spooled payload bytes
      * (BEGIN through COMMIT). Default unlimited — see the class doc. */
    maxTransactionBytes: Long = Long.MaxValue) {

  import ReplicationWire._

  // a previous appender may have crashed mid-frame: truncate the torn tail
  // BEFORE picking the next segment index, or the stop-at-tear scan wedges
  // on a tear that will never heal (the new appender writes elsewhere)
  WalLog.repair(walDir)

  private var segIdx: Int = nextSegmentIndex()
  private var out: java.io.DataOutputStream = _
  private var outBytes: Long = 0L
  // MinValue/2 keeps `now - lastStatusAt` overflow-free for any real clock
  // while guaranteeing the first pump sends an immediate status.
  private var lastStatusAt: Long = Long.MinValue / 2
  // the channel was just handed over from CopyBothResponse — that IS traffic
  private var lastReceiveAt: Long = nowMicros()
  /** Highest WAL position seen ON THE WIRE — advanced by XLogData AND by
    * keepalive walEnd. CAVEAT: a logical walsender's keepalive can carry a
    * walEnd for WAL it has not decoded/sent yet (WalSndWaitForWal reports
    * the position it is WAITING for), so this is a liveness/positioning
    * signal, not a delivery guarantee — a drain loop that needs "all data
    * through LSN X arrived" must gate on spooled content, never on this
    * alone. */
  @volatile var lastReceivedLsn: Long = 0L

  private def nextSegmentIndex(): Int =
    WalLog.segmentFiles(walDir).lastOption
      .map(p => p.getFileName.toString.stripSuffix(".wal").toInt + 1)
      .getOrElse(0)

  private def roll(): Unit = {
    if (out != null) { out.close(); out = null }
    val p: Path = Paths.get(walDir, f"$segIdx%08d.wal")
    Files.createDirectories(p.getParent)
    out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(p.toFile)))
    segIdx += 1
    outBytes = 0L
  }

  // bytes spooled for the in-flight transaction (reset at BEGIN and after
  // COMMIT); pgoutput tags ride in the payload's first byte
  private var txBytes: Long = 0L

  private def append(lsn: Long, payload: Array[Byte]): Unit = {
    val tag: Byte = if (payload.nonEmpty) payload(0) else 0
    if (tag == 'B') txBytes = 0L
    txBytes += payload.length
    if (txBytes > maxTransactionBytes)
      throw new IllegalStateException(
        s"transaction at lsn=$lsn exceeded maxTransactionBytes: spooled " +
          s"$txBytes > $maxTransactionBytes bytes before COMMIT — a bulk " +
          "DML this size must be chunked (or the bound raised); the stream " +
          "stops HERE so the spool disk cannot fill silently, and restart " +
          "resumes from the confirmed LSN with nothing unconfirmed lost")
    if (out == null || outBytes >= segmentBytes) roll()
    out.writeLong(lsn); out.writeInt(payload.length); out.write(payload)
    outBytes += 12L + payload.length
    if (tag == 'C') txBytes = 0L
  }

  private def pgClock(): Long = nowMicros() - PgEpochShiftMicros

  /** Send standby status (flushed = the engine's confirmed LSN). */
  def sendStatus(replyRequested: Boolean = false): Long = {
    val confirmed = WalLog.confirmed(walDir)
    channel.write(statusUpdate(confirmed, pgClock(), replyRequested))
    lastStatusAt = nowMicros()
    confirmed
  }

  /** One pump step: read the next server message (if any), spool/answer it,
    * and keep the feedback cadence. Returns false when the channel returned
    * nothing (caller decides to keep polling or stop). */
  def pumpOnce(): Boolean = {
    val msg = channel.read()
    val got = msg != null
    if (got) {
      lastReceiveAt = nowMicros()
      decode(msg) match {
        case Data(x) =>
          append(x.walStart, x.payload)
          lastReceivedLsn = math.max(lastReceivedLsn, x.walStart)
        case Ping(k) =>
          lastReceivedLsn = math.max(lastReceivedLsn, k.walEnd)
          if (k.replyRequested) sendStatus()
      }
    }
    if (nowMicros() - lastStatusAt >= statusIntervalMicros)
      // a long-silent wire gets a reply solicitation riding the cadence
      // status: an alive server answers (refreshing the wire heartbeat even
      // with wal_sender_timeout=0); a dead one stays silent and the stall
      // watchdog trips for the right reason
      sendStatus(replyRequested =
        nowMicros() - lastReceiveAt >= solicitAfterMicros)
    got
  }

  /** Make spooled frames visible to readers (segment files are flushed so
    * the admission scan sees complete frames). */
  def flush(): Unit = if (out != null) out.flush()

  /** Drain the channel until it goes quiet, then flush — the per-trigger
    * entry a driver-side pump thread calls. */
  def pump(): Long = {
    var n = 0L
    while (pumpOnce()) n += 1
    flush()
    n
  }

  def close(): Unit = {
    // best-effort farewell status: on an already-dead wire (the common
    // close path after a pump fatal) the write throws — that must not leak
    // the open segment file or mask the close of the channel itself
    try sendStatus()
    catch { case scala.util.control.NonFatal(_) => () }
    finally {
      try { if (out != null) out.close() }
      finally channel.close()
    }
  }
}
