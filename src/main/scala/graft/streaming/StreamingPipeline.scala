package graft.streaming

import graft.config.StreamDef
import graft.functions.{RowJsonKey, StreamTable}
import graft.operators.Routing
import graft.source.wal.PgWalSource
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row

/** M3 — the steady-state streaming job: WAL source → routing fan-out →
  * serialize-once → per-stream Kafka frames, with per-batch metrics.
  *
  * Spark-native equivalents of the reference's processor loop
  * (src/processor/processor.zig:347-406):
  *  - micro-batch cadence  ≈ receiveBatchWithWaitTime (trigger interval +
  *    source-side admission control)
  *  - foreachBatch fan-out ≈ matchStreams + per-stream produce
  *  - checkpointing + source.commit ≈ flushCommitWorker's
  *    flush-then-confirm-LSN (Spark invokes commit only after the sink
  *    completes the epoch — the same at-least-once contract)
  *  - observe() metrics    ≈ tallyEvent / setLag
  */
object StreamingPipeline {

  /** Open the WAL change stream (see [[graft.source.wal.PgWalSource]]).
    * `sliceEvents > 0` splits each micro-batch into one input partition per
    * `sliceEvents` data events for parallel decode (order restored downstream
    * by lsn_num where a sink needs it). */
  def walStream(spark: SparkSession, walDir: String,
      maxEventsPerBatch: Int = PgWalSource.DefaultBatchSize,
      sliceEvents: Int = 0): DataFrame =
    spark.readStream
      .format(classOf[PgWalSource].getName)
      .option("path", walDir)
      .option("maxEventsPerBatch", maxEventsPerBatch.toString)
      .option("sliceEvents", sliceEvents.toString)
      .load()

  /** Routed, serialized, Kafka-shaped frame (topic, key, value) from the
    * envelope stream. Serialize-once happens upstream of the routing
    * fan-out; the key is the row's top-level field named by the stream's
    * routing_key. */
  def kafkaFrame(events: DataFrame, streams: Seq[StreamDef]): DataFrame = {
    // one envelope formatter for the whole engine (JsonEnvelope owns the
    // field order and escaping rules; the stream's `source` is the constant
    // the envelope hardcodes)
    val serialized = events.withColumn("value",
      graft.serialization.JsonEnvelope.envelopeCol(
        op = col("op"), dataJson = col("data"), resource = col("resource"),
        timestamp = col("commit_ts"), lsn = col("lsn")))
    // inline routing: zero exchanges, no per-batch broadcast build
    // (RoutingInlineSpec pins row-identity with the broadcast-join form)
    val routed = Routing.routeInline(serialized, streams)
    // Routing-key extraction from the JSON row payload: each row's match
    // carries its stream's routing_key, read straight from the row's UTF-8
    // bytes (RowJsonKey). A missing key becomes an empty Kafka key (the
    // strict variant raises, PartitionKey.requireKey).
    routed
      .withColumn("key",
        coalesce(RowJsonKey(col("data"), col("routing_key")), lit("")))
      .select("topic", "key", "value", "stream", "lsn", "lsn_num", "op",
        "resource", "commit_ts")
  }

  /** The per-batch observation: `events`, `max_commit_ts` and `tallies`,
    * one row count per (stream, op) in [[StreamTable.tallyPairs]] order (A1;
    * reference processor.zig:174-183). The tally is ONE aggregate over a
    * config-table lookup per row, riding the existing observation — zero
    * extra jobs, no collect, and three columns however many
    * (stream, op) pairs are configured. [[graft.metrics.GraftQueryListener]]
    * reads the array back through the same table. */
  private def observed(frame: DataFrame, streams: Seq[StreamDef]): DataFrame =
    frame.observe("graft",
      count(lit(1)).as("events"),
      max(col("commit_ts")).as("max_commit_ts"),
      new StreamTable(streams).tally(col("stream"), col("op")).as("tallies"))

  /** Start the job with a file sink per topic (Kafka stand-in when no broker
    * is available), or deliver through `producer` or the wire client of a
    * `kafkaBootstrap` ([[graft.sink.kafka.WireEndpoint]]).
    *
    * Per-batch metrics (event count, lag, per-(stream,op) tallies) all ride
    * the `observe()` aggregates — consume them by attaching a
    * [[graft.metrics.GraftQueryListener]] built with the same `streams`.
    *
    * Sink shape: the stand-in path writes through Spark's native streaming
    * parquet sink — no foreachBatch, so each micro-batch reuses the
    * incremental plan instead of re-deriving a batch write plan (~0.3 s per
    * batch back). The producer path runs through foreachBatch, whose batch
    * frame (unlike a streaming plan) can sort within partitions: there,
    * hash-partitioning by Kafka key + sorting by LSN within partitions
    * restores the per-key delivery order CDC consumers rely on while
    * spreading produce over `sinkParallelism` tasks. Delivery is
    * at-least-once on batch retry; consumers dedup on meta.lsn. */
  def start(spark: SparkSession, walDir: String, streams: Seq[StreamDef],
      checkpointDir: String, outDir: String,
      kafkaBootstrap: Option[String] = None,
      triggerMs: Long = 100L,
      maxEventsPerBatch: Int = PgWalSource.DefaultBatchSize,
      sinkParallelism: Int = 1,
      sliceEvents: Int = 0,
      producer: Option[graft.sink.FrameProducer] = None,
      sinkFormat: String = "parquet",
      asyncProgress: Boolean = false,
      failCommitsToken: Option[String] = None): StreamingQuery = {
    require(!asyncProgress || sinkFormat == "frames",
      "async progress tracking needs the DSv2 frames sink (ForeachBatchSink " +
        "and the v1 file sink are rejected by Spark's async validation)")
    val frame = observed(
      kafkaFrame(walStream(spark, walDir, maxEventsPerBatch, sliceEvents), streams),
      streams)

    // delivery seam: an explicit producer wins (fail-injection tests, custom
    // transports); with sinkFormat="frames" a bootstrap goes through the
    // DSv2 sink (per-task producer sockets, flush on task commit), else the
    // foreachBatch wire producer. Parsed here, so a non-wire bootstrap fails
    // before the query starts. wire+tls:// takes the SAME DSv2 path as
    // wire:// — a wire:// prefix check once demoted TLS runs to the
    // foreachBatch producer, which asyncProgress rejects (r15 review finding)
    val endpoint =
      if (producer.isDefined) None
      else kafkaBootstrap.map(graft.sink.kafka.WireEndpoint.parse(_))
    val dsv2Wire = endpoint.isDefined && sinkFormat == "frames"
    val frameProducer: Option[graft.sink.FrameProducer] =
      if (dsv2Wire) None
      else producer.orElse(endpoint.map(graft.sink.kafka.WireFrameProducer(_)))

    val writer: DataStreamWriter[Row] = frameProducer match {
      case Some(p) =>
        frame.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
          // Per-key delivery order: slice partitions (sliceEvents > 0)
          // arrive decode-parallel and UNORDERED across partitions, so the
          // key-repartition + LSN sort is required whenever slicing feeds
          // Kafka — not only when the caller asked for produce parallelism.
          val shaped =
            if (sinkParallelism > 1 || sliceEvents > 0)
              batch.repartition(math.max(sinkParallelism, 1), col("key"))
                .sortWithinPartitions("lsn_num")
            else batch
          // a produce failure propagates: the epoch fails, the query stops,
          // and restart-from-checkpoint redelivers the batch (at-least-once;
          // consumers dedup on meta.lsn)
          p.produce(shaped)
        }
      case None if sinkFormat == "frames" =>
        // DSv2 frames sink ([[graft.sink.frames.FramesSink]]): broker-style
        // framed append (file mode) or per-task wire producers (wire mode).
        // Streaming plans cannot sortWithinPartitions, so rows deliver in
        // arrival order per task — exact for sliceEvents=0 (one ordered
        // partition, a replication slot's shape); sliced decode feeding a
        // real broker keeps the foreachBatch path above, which CAN sort.
        val shaped =
          if (sinkParallelism > 1)
            frame.repartition(sinkParallelism, col("key"))
          else frame
        val w = shaped.writeStream
          .format(classOf[graft.sink.frames.FramesSink].getName)
        val w2 = if (dsv2Wire) w.option("bootstrap", kafkaBootstrap.get)
          else w.option("path", outDir)
        failCommitsToken.fold(w2)(t => w2.option("failCommitsToken", t))
      case None =>
        // Kafka stand-in (v1 file sink): the native streaming parquet sink,
        // `topic` as a column — partitionBy would force a per-batch sort on
        // the partition column, and compression would bill the stand-in for
        // work a Kafka producer doesn't do (measured: snappy 52k ev/s,
        // none 77k). Kept as the conservative default; the frames sink above
        // is the Kafka-faithful stand-in and the async-capable path.
        frame.writeStream.format("parquet")
          .option("path", outDir)
          .option("compression", "none")
    }
    // A large share of the ~220 ms per-batch floor is the synchronous
    // offset-log + commit-log writes. Inside each write the time goes to
    // forked helper processes, not to the bytes: without libhadoop, Hadoop's
    // local filesystem runs 2 `chmod` and 8 `readlink` per HDFSMetadataLog
    // write, ~25 ms of wall time (a fork-free write takes ~2 ms). Async
    // progress tracking moves both writes off the critical path; Spark 4.1
    // name-allowlists only its own at-least-once sinks (Kafka/noop/memory/
    // console) and rejects ForeachBatchSink outright, so the DSv2 frames
    // sink opts in through Spark's documented override option — sound here
    // because the engine's contract is already at-least-once with consumer
    // dedup on meta.lsn (async only widens the post-crash redelivery window).
    val withAsync =
      if (asyncProgress)
        writer.option(graft.sink.frames.FramesSink.AsyncEnabled, "true")
          .option(graft.sink.frames.FramesSink.AsyncOverrideSinkCheck, "true")
          .option(graft.sink.frames.FramesSink.AsyncIntervalMs, "1000")
      else writer
    withAsync
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(triggerMs))
      .start()
  }
}
