package graft.source.wal

import graft.source.pgoutput.{Converter, PgOutputDecoder, RelationRegistry}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import java.util

/** S1–S5 + C1 — DataSource V2 micro-batch streaming source over a pgoutput
  * WAL log.
  *
  * `spark.readStream.format("graft.source.wal.PgWalSource").option("path", dir)`
  *
  * Offsets are WAL positions (LSN): each micro-batch reads frames in
  * (start, end], decoding pgoutput bytes and converting to the typed envelope
  * inside the partition reader — exactly where the reference's
  * decode/convert pipeline sits (reference: src/source/postgres/source.zig:313-392).
  * `latestOffset` applies admission control (`maxEventsPerBatch`, default
  * 5000 — the reference's BATCH_SIZE, src/constants.zig:21).
  *
  * `commit(offset)` fires only after Spark has durably completed the batch's
  * sink writes — the engine-level equivalent of the reference's
  * flush-then-StandbyStatusUpdate worker (processor.zig:53-108): here it
  * records the confirmed LSN next to the log; a live deployment sends the
  * feedback message on the replication connection.
  *
  * One input partition by design: a replication slot is a single ordered
  * stream; scale-out comes from per-stream slots and from downstream stages,
  * not from parallelizing the slot (SURVEY §7 risks).
  */
class PgWalSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    PgWalSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    // DSv2 options are case-insensitive by contract
    val opts = new CaseInsensitiveStringMap(properties)
    new PgWalTable(opts.get("path"),
      Option(opts.get("maxEventsPerBatch")).map(_.toInt)
        .getOrElse(PgWalSource.DefaultBatchSize),
      Option(opts.get("sliceEvents")).map(_.toInt).getOrElse(0))
  }
}

object PgWalSource {
  /** The fixed envelope schema (flat meta for ergonomic downstream SQL). */
  val schema: StructType = StructType(Seq(
    StructField("op", StringType, nullable = false),
    StructField("data", StringType, nullable = false),
    StructField("source", StringType, nullable = false),
    StructField("resource", StringType, nullable = false),
    StructField("commit_ts", LongType, nullable = false),
    StructField("lsn", StringType, nullable = false),
    StructField("lsn_num", LongType, nullable = false)))

  /** BATCH_SIZE analog (reference src/constants.zig:21-22). */
  val DefaultBatchSize = 5000
}

final class PgWalTable(path: String, maxPerBatch: Int, sliceEvents: Int)
    extends Table with SupportsRead {
  require(path != null, "pgwal source requires .option(\"path\", dir)")
  override def name(): String = s"pgwal($path)"
  override def schema(): StructType = PgWalSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = PgWalSource.schema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new PgWalMicroBatchStream(path, maxPerBatch, sliceEvents)
    }
}

final case class LsnOffset(lsn: Long) extends Offset {
  override def json(): String = s"""{"lsn":$lsn}"""
}

/** @param sliceEvents when > 0, the admission scan snapshots a byte-exact
  *   seek every `sliceEvents` data events, and each micro-batch is planned
  *   as one input partition PER SLICE — decode/convert/serialize then run in
  *   parallel across executor cores instead of a single ordered task. Rows
  *   still carry `lsn_num`, so per-key delivery order is restored downstream
  *   (repartition by key + sortWithinPartitions) where a sink needs it; the
  *   default 0 keeps the strictly-ordered single-partition behavior of a
  *   live replication slot. */
final class PgWalMicroBatchStream(path: String, maxPerBatch: Int,
    sliceEvents: Int = 0) extends MicroBatchStream {

  override def initialOffset(): Offset = LsnOffset(0L)

  override def deserializeOffset(json: String): Offset = {
    val m = "\"lsn\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(json)
      .getOrElse(throw new IllegalArgumentException(s"bad offset: $json"))
    val o = LsnOffset(m.group(1).toLong)
    // Restart safety: Spark restores offsets from the checkpoint through
    // this method, but latestOffset() derives from in-memory scan state that
    // starts at 0 in a fresh stream instance. Returning an offset BELOW the
    // restored one would regress the offset log (Spark's new-data check is
    // an inequality) and re-deliver the whole committed backlog. Clamp the
    // planning floor to every offset the checkpoint hands us.
    if (o.lsn > lastPlanned) lastPlanned = o.lsn
    o
  }

  // Driver-side scan cursor + harvested state: the admission-control scan
  // sees every frame exactly once (payloads skipped, not allocated; only
  // rare RELATION/BEGIN payloads read). At each planned boundary it snapshots
  // (seek position, relation payloads, last BEGIN) so the executor reader
  // seeks STRAIGHT to the boundary byte — no prefix re-read, no replay. This
  // is what keeps per-micro-batch cost flat over a long backlog.
  // Planning floor: seeded from the durable confirmed LSN (≤ the checkpoint
  // offset by at most one epoch) and raised by deserializeOffset on restore.
  private var lastPlanned: Long = WalLog.confirmed(path)
  private var scanSeg: java.nio.file.Path = _
  private var scanOffset: Long = 0L
  private val relationPayloads =
    scala.collection.mutable.LinkedHashMap.empty[Int, Array[Byte]]
  private var lastBeginPayload: Array[Byte] = _
  private val boundaryState =
    scala.collection.mutable.Map.empty[Long, PgWalSeek]
  // Retreat-stall detector: the head-run retreat assumes every data run is
  // eventually followed by a higher-LSN frame (pgoutput's COMMIT). A direct
  // WalLog producer whose log permanently ends with a complete data run (no
  // trailing state frame) would have its final run withheld forever with no
  // diagnostic — so count consecutive retreats of the SAME unproven head run
  // and warn once past the threshold. (Contract note: WalLog.write callers
  // should terminate every data run with a higher-LSN frame.)
  private var retreatHeadLsn: Long = -1L
  private var retreatCount: Int = 0
  private val RetreatWarnThreshold = 50
  // segment names present in the MOST RECENT listing — the below-cursor
  // visibility guard's "was it there before the cursor passed?" memory.
  // r19 (r18 VERDICT #5): bounded by the on-disk segment count, not by
  // names ever listed (a months-lived stream accreted every drained
  // segment's name forever). Replacing the set with each listing evicts
  // names whose files are gone; a DELETED segment re-appearing below the
  // cursor now trips the guard too — a recreated file is as much a
  // contract break as a late one.
  private val seenSegs = scala.collection.mutable.Set.empty[String]

  /** Soft admission control: advance at most `maxPerBatch` frames per
    * trigger so one giant backlog drains as bounded micro-batches. */
  override def latestOffset(): Offset = {
    val files = WalLog.segmentFiles(path)
    // Ascending-visibility guard (r17 wal_drain_10x root cause): the log's
    // contract is that segments become visible in ascending name order — the
    // resume listing drops everything below the cursor segment, so a segment
    // appearing BELOW an already-advanced cursor can never be planned and
    // its frames would be confirmed past SILENTLY. A single-writer spooler
    // keeps the contract naturally; a multi-task producer must stage and
    // publish in order (WalLog.publishStaged). If the contract is broken
    // anyway, fail the trigger loudly — a lost-segment drain must be an
    // error, never a short delivery.
    if (scanSeg != null) {
      val cur = scanSeg.getFileName.toString
      files.foreach { f =>
        val n = f.getFileName.toString
        if (n.compareTo(cur) < 0 && !seenSegs.contains(n))
          throw new IllegalStateException(
            s"wal segment $n became visible BELOW the scan cursor $cur — " +
              "segments must appear in ascending name order (stage as .stg " +
              "and WalLog.publishStaged for multi-task producers); its " +
              "frames can never be planned from here")
      }
    }
    seenSegs.clear() // retain only the current listing (bounded memory)
    files.foreach(f => seenSegs += f.getFileName.toString)
    val it = WalLog.scanFrom(files, scanSeg, scanOffset)
    try latestOffsetFrom(it)
    finally it.close() // the scan stops mid-segment when the budget is hit
  }

  /** Observability hook for tests: live boundary snapshots (each holds
    * relation-payload copies, so retention matters). */
  private[graft] def boundarySnapshotCount: Int = boundaryState.size

  private def latestOffsetFrom(it: WalLog.FrameScan): Offset = {
    var n = 0
    var sinceSlice = 0
    val before = lastPlanned
    def snapshot(): Unit = boundaryState.update(lastPlanned, PgWalSeek(
      if (scanSeg == null) null else scanSeg.toString, scanOffset,
      relationPayloads.values.toVector, lastBeginPayload))
    // Every batch/slice boundary is an LSN, and readers filter on
    // `lsn > boundary` — so a boundary must NEVER split a run of equal-LSN
    // frames (Postgres emits them: one heap2 multi-insert WAL record fans
    // out into many pgoutput Inserts at the same position). Both cuts below
    // therefore happen only when a frame STARTS A NEW LSN: the budget check
    // stops BEFORE consuming the new-LSN frame (cursor untouched — the next
    // trigger re-scans that one frame), and the slice cut snapshots the
    // boundary before the new LSN's first frame is processed.
    var done = false
    // the newest admitted run's provenance: an LSN's run is PROVEN complete
    // only once a higher-LSN frame is visible after it (pgoutput guarantees
    // one exists — every data run is followed by its transaction's COMMIT at
    // a higher position). When the scan ends at the log head instead, the
    // newest run may still be mid-flush in the appender's buffer — retreat
    // the boundary to the previous distinct LSN and rewind the cursor to the
    // run's start, so the next trigger re-admits the whole run.
    var prevDistinct = lastPlanned
    var runStartSeg = scanSeg
    var runStartOffset = scanOffset
    var runHasData = false
    while (!done && it.hasNext) {
      val e = it.next()
      val newLsn = e.lsn > lastPlanned
      if (newLsn && n >= maxPerBatch) {
        done = true // cut before e; scanSeg/scanOffset still point before it
      } else {
        if (newLsn) {
          prevDistinct = lastPlanned
          runStartSeg = scanSeg
          runStartOffset = scanOffset
          runHasData = false
        }
        if (e.tag == 'I' || e.tag == 'U' || e.tag == 'D') runHasData = true
        if (newLsn && sliceEvents > 0 && sinceSlice >= sliceEvents) {
          snapshot()
          sinceSlice = 0
        }
        if (e.statePayload != null) {
          if (e.tag == 'R') {
            graft.source.pgoutput.PgOutputDecoder.decode(e.statePayload) match {
              case r: graft.source.pgoutput.PgOutputMessages.Relation =>
                relationPayloads.update(r.relationId, e.statePayload)
              case _ => ()
            }
          } else lastBeginPayload = e.statePayload
        }
        scanSeg = e.segment
        scanOffset = e.nextByteOffset
        if (newLsn) {
          lastPlanned = e.lsn
          // admission control counts data EVENTS (the reference's BATCH_SIZE
          // is events) — BEGIN/COMMIT/RELATION frames ride along free, and
          // an equal-LSN continuation rides with its first frame
          if (e.tag == 'I' || e.tag == 'U' || e.tag == 'D') {
            n += 1
            sinceSlice += 1
          }
        }
      }
    }
    // Scan exhausted (not a budget cut): the newest run is unproven — MORE
    // frames may arrive later AT ITS OWN LSN, so a boundary there would
    // exclude them forever (readers filter on lsn > boundary). This is not
    // hypothetical buffer-flush caution: a REAL walsender reuses the
    // trailing COMMIT's position as the NEXT transaction's start — observed
    // live against PostgreSQL 15 (PgLiveWireSpec): `C@x, B@x, I@x` — the
    // next tx's BEGIN and first change ride at exactly the previous
    // commit's walStart. So NO tail run is provably complete, state frames
    // included: advancing the boundary onto a trailing COMMIT loses the
    // next transaction's first change (delivered-and-confirmed boundary,
    // then data arrives below it — silent row loss, found by the live
    // tier). Retreat every tail run to the last proven-complete LSN; a run
    // is proven only once a HIGHER-LSN frame is visible after it. The final
    // data batch still delivers and commits (its run is proven by the tx's
    // own higher-LSN COMMIT); only trailing state frames stay pending,
    // which costs nothing — they produce no rows, and readers get relation/
    // begin state through the boundary snapshots.
    if (!done && lastPlanned > before) {
      val headLsn = lastPlanned
      lastPlanned = prevDistinct
      scanSeg = runStartSeg
      scanOffset = runStartOffset
      // the stall diagnostic cares about DATA withheld at the head — a
      // quiescent log's trailing COMMIT retreating forever is the norm
      if (runHasData) {
        if (headLsn == retreatHeadLsn) {
          retreatCount += 1
          if (retreatCount == RetreatWarnThreshold)
            org.slf4j.LoggerFactory.getLogger(classOf[PgWalMicroBatchStream]).warn(
              s"pgwal: head run at lsn=$headLsn retreated for the " +
                s"$RetreatWarnThreshold'th consecutive trigger — if the " +
                "producer is done, it must append a higher-LSN frame (e.g. a " +
                "COMMIT) to prove the run complete, or this run is withheld " +
                "forever")
        } else { retreatHeadLsn = headLsn; retreatCount = 1 }
      } else { retreatHeadLsn = -1L; retreatCount = 0 }
    } else { retreatHeadLsn = -1L; retreatCount = 0 }
    // Retention bound: planInputPartitions prunes keys below each batch
    // start, so steady-state holds ≤ 1 batch of snapshots. On an IDLE tick
    // (nothing admitted) the previous batch is fully planned and every
    // snapshot below the head is dead weight (it carries relation-payload
    // copies) — drop them so an idle stream retains exactly the head
    // boundary the next batch's start seek will need.
    if (lastPlanned == before)
      boundaryState.keys.filter(_ < lastPlanned).toSeq
        .foreach(boundaryState.remove)
    snapshot()
    LsnOffset(lastPlanned)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[LsnOffset].lsn
    val e = end.asInstanceOf[LsnOffset].lsn
    boundaryState.keys.filter(_ < s).toSeq.foreach(boundaryState.remove)
    if (e <= s) Array.empty
    else {
      // one partition per recorded slice cut in (s, e); with sliceEvents=0
      // there are no inner cuts and this is the single ordered partition
      val cuts = boundaryState.keysIterator.filter(k => k > s && k < e).toVector.sorted
      // ADAPTIVE plan-time coalescing (the AQE move applied to the source):
      // the admission scan records cuts at a fixed event stride, so a large
      // backlog yields far more slices than cores and per-task scheduling
      // overhead dominates the decode (measured on the 1M-event drain:
      // 333 slices 3.87 s vs 33 slices 2.91 s on 32 cores). Keep every
      // k-th cut so the planned batch lands at ≤ ~2 partitions per core —
      // merging is free (each kept cut's byte-exact seek still applies; the
      // dropped cuts' boundary snapshots are simply unused) and a small
      // backlog (≤ cap slices) is planned exactly as before. The cap tracks
      // the session's scheduler width, so the same stride serves a 99k
      // drain on a laptop and a 1000-core cluster batch without retuning.
      val maxParts = math.max(1,
        org.apache.spark.sql.SparkSession.getActiveSession
          .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
          .map(_.sparkContext.defaultParallelism * 2).getOrElse(64))
      val kept =
        if (cuts.size + 1 <= maxParts) cuts
        else {
          val stride = ((cuts.size + 1).toDouble / maxParts).ceil.toInt
          cuts.zipWithIndex.collect {
            case (c, i) if (i + 1) % stride == 0 => c
          }
        }
      val bounds = (s +: kept) :+ e
      bounds.iterator.sliding(2).map { pair =>
        PgWalInputPartition(path, pair.head, pair(1),
          boundaryState.get(pair.head).orNull)
      }.toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    (partition: InputPartition) => {
      val p = partition.asInstanceOf[PgWalInputPartition]
      new PgWalPartitionReader(p.path, p.afterLsn, p.untilLsn, Option(p.seek))
    }

  /** Spark calls this after the batch is durably committed downstream —
    * at-least-once is preserved because the WAL position only advances after
    * delivery (the reference's core guarantee). */
  override def commit(end: Offset): Unit =
    WalLog.confirm(path, end.asInstanceOf[LsnOffset].lsn)

  override def stop(): Unit = ()
}

/** Boundary snapshot handed from the driver scan to the executor reader:
  * exact byte seek + the RELATION payloads and last BEGIN in effect at the
  * boundary (raw pgoutput bytes — the reader replays them through the normal
  * converter path). */
final case class PgWalSeek(segment: String, byteOffset: Long,
    relationPayloads: Seq[Array[Byte]], beginPayload: Array[Byte])

final case class PgWalInputPartition(path: String, afterLsn: Long,
    untilLsn: Long, seek: PgWalSeek) extends InputPartition

final class PgWalPartitionReader(path: String, afterLsn: Long, untilLsn: Long,
    seekOpt: Option[PgWalSeek]) extends PartitionReader[InternalRow] {

  // Registry + converter live for the reader's lifetime; RELATION messages
  // in-stream (re)register schemas exactly as on a live slot.
  //
  // With a driver snapshot (steady state): seed state from the snapshot's
  // raw RELATION/BEGIN payloads and seek straight to the boundary byte.
  // Without one (first batch after restart): segments re-announce their
  // relations, so replay only the boundary segment's prefix (tag-dispatch
  // decodes just RELATION/BEGIN below the boundary) — fully-drained segments
  // are pruned without reading a byte.
  private val registry = new RelationRegistry
  private val converter = new Converter(registry)
  private val frames = seekOpt match {
    case Some(seek) if seek.segment != null =>
      seek.relationPayloads.foreach(p =>
        converter.convert(PgOutputDecoder.decode(p), 0L))
      if (seek.beginPayload != null)
        converter.convert(PgOutputDecoder.decode(seek.beginPayload), 0L)
      WalLog.readFrom(path, java.nio.file.Paths.get(seek.segment),
        seek.byteOffset, untilLsn)
    case _ => WalLog.readForBatch(path, afterLsn, untilLsn)
  }
  private var current: InternalRow = _
  // every event's meta.source is the constant ChangeEvent.SourceName
  private val source = UTF8String.fromString(graft.model.ChangeEvent.SourceName)

  override def next(): Boolean = {
    current = null
    while (current == null && frames.hasNext) {
      val f = frames.next()
      // State messages (RELATION/BEGIN) must be replayed from 0 so the
      // registry and commit-time are correct at the batch boundary, but
      // pre-boundary DATA frames need no decode at all — dispatch on the tag
      // byte and skip them. Turns state replay from O(events) decode work
      // into O(relations + transactions).
      if (f.lsn > afterLsn) {
        val ev = converter.convert(PgOutputDecoder.decode(f.payload), f.lsn)
        ev.foreach { e =>
          current = InternalRow(
            UTF8String.fromString(e.op),
            UTF8String.fromString(e.data),
            source,
            UTF8String.fromString(e.meta.resource),
            e.meta.timestamp,
            UTF8String.fromString(e.meta.lsn),
            f.lsn)
        }
      } else if (f.payload.nonEmpty &&
        (f.payload(0) == 'R' || f.payload(0) == 'B')) {
        converter.convert(PgOutputDecoder.decode(f.payload), f.lsn)
      }
    }
    current != null
  }

  override def get(): InternalRow = current
  override def close(): Unit = frames.close() // killed tasks must not leak FDs
}
