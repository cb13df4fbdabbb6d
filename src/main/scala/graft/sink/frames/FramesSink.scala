package graft.sink.frames

import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write.{DataWriter, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import java.io.{BufferedOutputStream, DataOutputStream, EOFException}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util
import java.util.UUID
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

/** K1/C1 — DataSource V2 `StreamingWrite` for the routed frame stream: the
  * sink side of the engine expressed as a first-class Spark sink instead of
  * `foreachBatch`.
  *
  * Why this exists (beyond symmetry with the DSv2 source): Spark plans a
  * `foreachBatch` sink through `ForeachBatchSink`, and
  * `AsyncProgressTrackingMicroBatchExecution` refuses that sink — so the
  * synchronous offset-log + commit-log writes stay on the per-batch critical
  * path and floor micro-batch latency at ~200+ ms. A DSv2 `StreamingWrite`
  * is eligible for async progress tracking, which moves both checkpoint
  * writes off the critical path. That is safe HERE because the engine's
  * delivery contract is at-least-once with consumer-side dedup on `meta.lsn`
  * (reference: src/sink/kafka/producer.zig:430-502): async tracking only
  * widens the redelivery window after a crash, which consumers already
  * absorb. Spark's name-allowlist for async sinks covers exactly the sinks
  * with this contract (Kafka/noop/memory/console); the documented
  * `_asyncProgressTrackingOverrideSinkSupportCheck` option is how an
  * external sink with the same contract opts in.
  *
  * Two delivery modes, one write path:
  *  - `path` (file mode): each task appends its rows as length-prefixed
  *    (topic, key, value, lsn) records to a temp file; epoch commit
  *    atomically renames every task file into the log dir and stamps an
  *    epoch marker — the flush barrier. This is the Kafka stand-in: a
  *    broker-style framed append (what a real broker does with a produce
  *    request), not a columnar re-encode.
  *  - `bootstrap=wire://host:port` (wire mode): each task opens a
  *    [[graft.sink.kafka.WireProducer]], streams its rows through `send`,
  *    and `flush`es on task commit — the task succeeds only once every
  *    record is acked (K2's delivery barrier), zero kafka jars.
  *
  * At scale: one writer task per shuffle partition (the pipeline key-
  * partitions by Kafka key upstream), no driver involvement in the data
  * path; the epoch commit is O(#tasks) renames of already-written files.
  */
class FramesSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    new StructType() // write-only; actual schema arrives via LogicalWriteInfo
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new FramesTable(new CaseInsensitiveStringMap(properties))
}

object FramesSink {
  /** Spark's writer-side option names for async progress tracking (spelled
    * here so callers don't depend on the internal class). The override
    * option is Spark's own escape hatch for sinks outside the name
    * allowlist; see the class doc for why this sink qualifies. */
  val AsyncEnabled = "asyncProgressTrackingEnabled"
  val AsyncIntervalMs = "asyncProgressTrackingCheckpointIntervalMs"
  val AsyncOverrideSinkCheck = "_asyncProgressTrackingOverrideSinkSupportCheck"

  /** Test hook: fail the NEXT `n` epoch commits for queries writing with
    * `.option("failCommitsToken", token)` — the delivered-but-unconfirmed
    * hazard (files renamed, epoch marker in place, then the commit "ack" is
    * lost). Driver-side state; meaningful in local/test runs only. */
  private val failTokens = new ConcurrentHashMap[String, AtomicInteger]()
  def registerCommitFailures(token: String, n: Int): Unit =
    failTokens.put(token, new AtomicInteger(n))
  private[frames] def shouldFailCommit(token: String): Boolean =
    token != null && {
      val c = failTokens.get(token)
      c != null && c.getAndDecrement() > 0
    }
}

final class FramesTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsWrite {
  private val path = options.get("path")
  private val bootstrap = options.get("bootstrap")
  require(path != null ^ bootstrap != null,
    "frames sink requires exactly one of .option(\"path\", dir) | " +
      ".option(\"bootstrap\", \"wire://host:port\")")

  override def name(): String =
    if (path != null) s"frames($path)" else s"frames($bootstrap)"
  override def schema(): StructType = new StructType()
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.STREAMING_WRITE,
      TableCapability.ACCEPT_ANY_SCHEMA)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toStreaming: StreamingWrite =
          if (path != null)
            new FramesFileStreamingWrite(path, info.schema(),
              options.get("failCommitsToken"))
          else new FramesWireStreamingWrite(
            graft.sink.kafka.WireEndpoint.parse(bootstrap), info.schema())
      }
    }
}

private final case class FramesFileCommit(tmpPath: String, rows: Long)
    extends WriterCommitMessage
private final case class FramesWireCommit(rows: Long) extends WriterCommitMessage

/** Resolves the (topic, key, value, lsn) ordinals once per write; the frame
  * schema is produced by [[graft.streaming.StreamingPipeline.kafkaFrame]] but
  * any schema carrying those string columns works. */
private object FrameCols {
  def apply(schema: StructType): (Int, Int, Int, Int) = {
    def idx(n: String): Int = schema.fieldIndex(n)
    (idx("topic"), idx("key"), idx("value"),
      if (schema.fieldNames.contains("lsn")) schema.fieldIndex("lsn") else -1)
  }
}

private final class FramesFileStreamingWrite(dir: String, schema: StructType,
    failToken: String) extends StreamingWrite {
  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new FramesFileWriterFactory(dir, schema)

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val base = Paths.get(dir)
    Files.createDirectories(base.resolve("_epochs"))
    var total = 0L
    messages.zipWithIndex.foreach {
      case (FramesFileCommit(tmp, rows), i) =>
        val src = Paths.get(tmp)
        if (rows > 0 && Files.exists(src)) {
          // final name carries the epoch so redelivered epochs are visible
          // as distinct files (duplicates on the log = at-least-once, same
          // as a re-produced Kafka batch)
          Files.move(src, base.resolve(
            f"part-$epochId%08d-$i%05d-${UUID.randomUUID()}.frames"),
            StandardCopyOption.ATOMIC_MOVE)
          total += rows
        } else Files.deleteIfExists(src)
      case _ =>
    }
    // the flush barrier: the epoch marker lands only after every task file
    // is in place (readers trust only marked epochs)
    Files.writeString(base.resolve("_epochs").resolve(f"$epochId%08d"),
      total.toString)
    if (FramesSink.shouldFailCommit(failToken))
      throw new RuntimeException(
        "injected: commit ack lost after delivery (epoch must redeliver)")
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case FramesFileCommit(tmp, _) => Files.deleteIfExists(Paths.get(tmp))
      case _ =>
    }
}

private final class FramesFileWriterFactory(dir: String, schema: StructType)
    extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new FramesFileDataWriter(dir, schema)
}

/** Broker-style append: length-prefixed UTF-8 fields (−1 = null), buffered,
  * fsync-free (durability is the epoch marker + checkpoint redelivery, the
  * same stance as a broker acking from page cache with replication). */
private final class FramesFileDataWriter(dir: String, schema: StructType)
    extends DataWriter[InternalRow] {
  private val (ti, ki, vi, li) = FrameCols(schema)
  private val tmpDir = Paths.get(dir, "_tmp")
  Files.createDirectories(tmpDir)
  private val tmp = tmpDir.resolve(UUID.randomUUID().toString + ".inprogress")
  private val out = new DataOutputStream(new BufferedOutputStream(
    Files.newOutputStream(tmp), 1 << 16))
  private var rows = 0L

  private def field(row: InternalRow, i: Int): Unit =
    if (i < 0 || row.isNullAt(i)) out.writeInt(-1)
    else {
      val b = row.getUTF8String(i).getBytes
      out.writeInt(b.length); out.write(b)
    }

  override def write(row: InternalRow): Unit = {
    field(row, ti); field(row, ki); field(row, vi); field(row, li)
    rows += 1
  }
  override def commit(): WriterCommitMessage = {
    out.close()
    FramesFileCommit(tmp.toString, rows)
  }
  override def abort(): Unit = { out.close(); Files.deleteIfExists(tmp) }
  override def close(): Unit = ()
}

private final class FramesWireStreamingWrite(ep: graft.sink.kafka.WireEndpoint.Ep,
    schema: StructType) extends StreamingWrite {
  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new FramesWireWriterFactory(ep, schema)
  // delivery already barriered per task by WireProducer.flush; epoch commit
  // is just the checkpoint advance
  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = ()
}

private final class FramesWireWriterFactory(ep: graft.sink.kafka.WireEndpoint.Ep,
    schema: StructType) extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new FramesWireDataWriter(ep, schema)
}

private final class FramesWireDataWriter(ep: graft.sink.kafka.WireEndpoint.Ep,
    schema: StructType) extends DataWriter[InternalRow] {
  private val (ti, ki, vi, _) = FrameCols(schema)
  // pooled per executor: a real producer keeps its broker sockets for the
  // sink's lifetime instead of dialing per task per epoch (WireProducerPool)
  private val prod = graft.sink.kafka.WireProducerPool.borrow(ep)
  private var barriered = false

  private var rows = 0L

  override def write(row: InternalRow): Unit = {
    val key = if (row.isNullAt(ki)) null else row.getUTF8String(ki).getBytes
    prod.send(row.getUTF8String(ti).toString, key,
      row.getUTF8String(vi).getBytes)
    rows += 1
  }
  override def commit(): WriterCommitMessage = {
    prod.flush() // task succeeds only once every record is acked (K2)
    barriered = true
    FramesWireCommit(rows)
  }
  override def abort(): Unit = ()
  override def close(): Unit = {
    // return to the pool ONLY after a clean barrier; an aborted task's
    // producer may hold disowned records or a mid-frame socket — discard
    if (barriered && prod.deliveryErrorCount == 0)
      graft.sink.kafka.WireProducerPool.give(ep, prod)
    else graft.sink.kafka.WireProducerPool.discard(prod)
  }
}

/** Distributed reader for the file-mode log (test/consumer utility): lists
  * COMMITTED epochs (marker present), parallelizes the part files, and
  * decodes each on an executor — no driver-side row materialization. */
object FramesLog {
  import scala.jdk.CollectionConverters._

  private def ls(d: Path): Seq[Path] =
    if (!Files.exists(d)) Seq.empty
    else { val s = Files.list(d); try s.iterator().asScala.toSeq finally s.close() }

  /** @param includeUncommitted also read part files whose epoch MARKER has
    *   not landed (with async progress tracking, a stop() can race the
    *   final epoch's marker write: its data is durably appended but the
    *   commit bookkeeping is behind — the at-least-once window). Consumers
    *   reading uncommitted epochs must dedup on `lsn` as always. */
  def read(spark: org.apache.spark.sql.SparkSession,
      dir: String,
      includeUncommitted: Boolean = false): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val base = Paths.get(dir)
    val epochs: Set[Long] =
      ls(base.resolve("_epochs")).map(_.getFileName.toString.toLong).toSet
    val parts: Seq[String] = ls(base).filter { p =>
      val n = p.getFileName.toString
      n.startsWith("part-") && n.endsWith(".frames") &&
        (includeUncommitted || epochs.contains(n.substring(5, 13).toLong))
    }.map(_.toString)
    spark.createDataset(parts).repartition(math.max(1, parts.size))
      .mapPartitions { paths =>
        paths.flatMap { p =>
          val in = new java.io.DataInputStream(
            new java.io.BufferedInputStream(
              Files.newInputStream(Paths.get(p)), 1 << 16))
          def fieldOpt(): Option[String] = {
            val len = in.readInt()
            if (len < 0) None
            else { val b = new Array[Byte](len); in.readFully(b)
              Some(new String(b, "UTF-8")) }
          }
          new Iterator[(String, String, String, String)] {
            private var nextRec: (String, String, String, String) = _
            private var done = false
            private def advance(): Unit =
              try {
                val t = fieldOpt().orNull; val k = fieldOpt().orNull
                val v = fieldOpt().orNull; val l = fieldOpt().orNull
                nextRec = (t, k, v, l)
              } catch { case _: EOFException => done = true; in.close() }
            override def hasNext: Boolean = {
              if (nextRec == null && !done) advance()
              !done
            }
            override def next(): (String, String, String, String) = {
              if (!hasNext) throw new NoSuchElementException
              val r = nextRec; nextRec = null; r
            }
          }
        }
      }.toDF("topic", "key", "value", "lsn")
  }
}
