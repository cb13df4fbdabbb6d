package graft.streaming

import graft.config.StreamDef
import graft.functions.StreamTable
import graft.model.ChangeEvent
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

/** Delivers snapshot READ events to the SAME destination the change stream
  * uses — the piece between [[graft.source.postgres.WireBootstrap]]'s emit
  * callback and the sink. Three rules it exists to enforce:
  *
  *  - '''Producer mode''' (Kafka): snapshot frames go through the SAME
  *    [[graft.sink.FrameProducer]] as streamed changes, so topic consumers
  *    see the initial table state (READ) before the first I/U/D — not a
  *    parquet file on the driver's disk they'll never read.
  *  - '''Stand-in mode''': the streaming FileStreamSink owns `outDir`'s
  *    `_spark_metadata`, and `spark.read` of such a directory resolves
  *    THROUGH the metadata log — batch files dropped into `outDir` itself
  *    would be silently invisible to every reader. Snapshot events land in
  *    `<outDir>_snapshot` instead; consumers read the union of the two.
  *  - '''Bounded memory''': the driver holds at most `chunkRows` events —
  *    each full chunk is delivered and dropped, so the cursor scan's memory
  *    bound survives arbitrarily large tables (the reference streams
  *    snapshot rows through the same bounded pipeline as changes).
  *
  * With `metrics`, each delivered chunk adds to `graft_snapshot_events_total`
  * and, per routed stream, to `graft_stream_events_total{op="read"}`:
  * counted on the driver through the stream table, no extra Spark job.
  *
  * `flush()` is the delivery barrier [[graft.source.postgres.SnapshotBootstrap]]
  * requires before the marker drops: when it returns, every emitted event is
  * in the sink (producer `produce` is synchronous; parquet append commits on
  * return).
  */
final class SnapshotDelivery(
    spark: SparkSession,
    streams: Seq[StreamDef],
    producer: Option[graft.sink.FrameProducer],
    outDir: String,
    chunkRows: Int = 50000,
    metrics: Option[graft.metrics.GraftMetrics] = None) {

  private val table = new StreamTable(streams)
  private val buf = ArrayBuffer.empty[ChangeEvent]
  private var delivered = 0L

  /** Where stand-in-mode snapshot parquet lands (NOT the stream's metadata-
    * logged outDir). */
  def snapshotOutDir: String = outDir + "_snapshot"

  def deliveredCount: Long = delivered

  def emit(e: ChangeEvent): Unit = {
    buf += e
    if (buf.size >= chunkRows) flush()
  }

  def flush(): Unit = if (buf.nonEmpty) {
    import spark.implicits._
    val events = buf.toSeq
      .map(e => (e.op, e.data, e.meta.source, e.meta.resource,
        e.meta.timestamp, e.meta.lsn, ChangeEvent.lsnValue(e.meta.lsn)))
      .toDF("op", "data", "source", "resource", "commit_ts", "lsn", "lsn_num")
    val frame = StreamingPipeline.kafkaFrame(events, streams)
    producer match {
      case Some(p) => p.produce(frame)
      case None =>
        frame.write.mode("append").format("parquet")
          .option("compression", "none").save(snapshotOutDir)
    }
    delivered += buf.size
    metrics.foreach { m =>
      m.snapshotEvents.addAndGet(buf.size)
      m.tally(table.tallyPairs,
        table.tallyRouted(buf.iterator.map(e => (e.meta.resource, e.op))).iterator)
    }
    buf.clear()
  }
}
