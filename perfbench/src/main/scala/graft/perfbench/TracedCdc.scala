package graft.perfbench

import graft.source.pgoutput.{Converter, PgOutputDecoder, RelationRegistry}
import graft.source.postgres.{CopyBothChannel, PgServerHarness, PgSession, ReplicationSpooler, WireBootstrap}
import graft.source.wal.WalLog
import graft.streaming.{SnapshotDelivery, StreamingPipeline}
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The traced CDC runs. The pipeline runs inside this process, started with
  * the arguments `graft.Main` passes, so the benchmark can put spans around
  * the calls into each layer; afterwards the run's own WAL frames replay
  * through the per-event layer functions one layer at a time. */
object TracedCdc {
  private val threadMx = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  private def allocated(): Long = threadMx.getThreadAllocatedBytes(Thread.currentThread().getId)
  private lazy val selfCpu = new Common.AppCpu(Common.selfPid)

  /** Times each produce call (one per micro-batch with data). */
  final class TracedProducer(inner: graft.sink.FrameProducer, spans: Spans)
      extends graft.sink.FrameProducer {
    override def produce(shaped: DataFrame): Unit =
      spans.span("sink.kafka.produce", 0, "produce")(_ => inner.produce(shaped))
  }

  /** Read-side timing of the replication wire handed to the spooler. */
  final class TimedChannel(inner: CopyBothChannel, spans: Spans) extends CopyBothChannel {
    @volatile var parent = 0
    var messages = 0L; var bytes = 0L; var statusUpdates = 0L; var readUs = 0L
    override def read(): Array[Byte] = {
      val t0 = Common.nowUs()
      val m = inner.read()
      val t1 = Common.nowUs()
      spans.add("source.postgres.read_wait", parent, "pg_live/wire", t0, t1)
      readUs += t1 - t0
      if (m != null) { messages += 1; bytes += m.length }
      m
    }
    override def write(msg: Array[Byte]): Unit = { statusUpdates += 1; inner.write(msg) }
    override def close(): Unit = inner.close()
  }

  /** Micro-batch spans from progress: the batch, then its phases in the
    * order Spark runs them, with the produce span adopted under addBatch. */
  final class BatchSpans(spans: Spans, workload: String) extends StreamingQueryListener {
    val batches = mutable.ArrayBuffer.empty[Map[String, Any]]
    private val Phases = Seq("latestOffset" -> "source.wal.admission",
      "walCommit" -> "streaming.offset_log", "getBatch" -> "streaming.get_batch",
      "queryPlanning" -> "streaming.plan", "addBatch" -> "streaming.add_batch",
      "commitOffsets" -> "streaming.commit_log")
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000
      val trace = s"$workload/${p.batchId}"
      val id = spans.add("streaming.batch", 0, trace, start,
        start + d.getOrElse("triggerExecution", 0L) * 1000)
      var t = start
      Phases.foreach { case (k, name) =>
        val v = d.getOrElse(k, 0L) * 1000
        val pid = spans.add(name, id, trace, t, t + v)
        if (k == "addBatch") spans.adopt("sink.kafka.produce", pid, trace, t, t + v)
        t += v
      }
      batches.synchronized(batches += (d ++ Map("start_us" -> start,
        "rows" -> p.numInputRows, "batch" -> p.batchId)))
    }
  }

  /** Replay WAL segments through read, decode, convert, serialize and the
    * wire producer, one layer at a time per segment, against `broker`.
    * Returns the counters and the converted events. */
  def replay(segments: Seq[Path], streams: StreamConfig, broker: Broker,
      spans: Spans, workload: String)
      : (Map[String, Long], Vector[graft.model.ChangeEvent]) = {
    val c = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val registry = new RelationRegistry
    val converter = new Converter(registry)
    val producer = new graft.sink.kafka.WireProducer("127.0.0.1", broker.port)
    val events = mutable.ArrayBuffer.empty[graft.model.ChangeEvent]
    try segments.zipWithIndex.foreach { case (seg, i) =>
      val trace = s"$workload/replay$i"
      spans.span("replay.segment", 0, trace) { root =>
        val mine = spans.span("source.wal.read", root, trace) { _ =>
          val it = WalLog.readSegment(seg)
          try it.toVector finally it.close()
        }
        c("frames") += mine.size
        c("wal_bytes") += mine.map(_.payload.length + 12L).sum
        val a0 = allocated()
        val msgs = spans.span("source.pgoutput.decode", root, trace)(_ =>
          mine.map(f => PgOutputDecoder.decode(f.payload)))
        c("decode_alloc") += allocated() - a0
        val a1 = allocated()
        val evs = spans.span("source.pgoutput.convert", root, trace)(_ =>
          msgs.zip(mine).flatMap { case (m, f) => converter.convert(m, f.lsn) })
        c("convert_alloc") += allocated() - a1
        c("events") += evs.size
        events ++= evs
        val values = spans.span("serialization.json", root, trace)(_ =>
          evs.map(e => (e, graft.serialization.JsonEnvelope.envelope(e.op, e.data,
            e.meta.source, e.meta.resource, e.meta.timestamp, e.meta.lsn))))
        val routed = values.flatMap { case (e, v) =>
          streams.topicsFor(e.meta.resource.stripPrefix("public."), e.op.head)
            .map(t => (t, v.getBytes("UTF-8")))
        }
        c("routed_events") += values.count { case (e, _) =>
          streams.topicsFor(e.meta.resource.stripPrefix("public."), e.op.head).nonEmpty }
        c("records") += routed.size
        spans.span("sink.kafka.connect", root, trace)(_ => producer.testConnection())
        spans.span("sink.kafka.send", root, trace)(_ =>
          routed.foreach { case (t, v) => producer.send(t, null, v) })
        spans.span("sink.kafka.flush", root, trace)(_ => producer.flush())
      }
    } finally producer.close()
    c("errors") = producer.deliveryErrorCount
    c("segments") = segments.size
    (c.toMap, events.toVector)
  }

  /** serialization.frame: kafkaFrame over a cached batch, minus scanning
    * that cached batch alone (best of 3 each). */
  def frameCost(spark: SparkSession, events: Seq[graft.model.ChangeEvent],
      streams: Seq[graft.config.StreamDef]): (Double, Double) = {
    import spark.implicits._
    val df = events.map(e => (e.op, e.data, e.meta.source, e.meta.resource,
        e.meta.timestamp, e.meta.lsn, graft.model.ChangeEvent.lsnValue(e.meta.lsn)))
      .toDF("op", "data", "source", "resource", "commit_ts", "lsn", "lsn_num").cache()
    df.count()
    def best(f: => Unit): Double = (0 until 3).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0).toDouble }.min
    val scan = best(df.write.format("noop").mode("overwrite").save())
    val frame = best(StreamingPipeline.kafkaFrame(df, streams)
      .write.format("noop").mode("overwrite").save())
    df.unpersist()
    (scan, frame)
  }

  private def engineStreams(streams: StreamConfig): Seq[graft.config.StreamDef] =
    graft.config.ConfigLoader.fromJsonText(streams.root.toString).streams

  def walBacklog(a: Args): Map[String, Any] = {
    val streams = new StreamConfig(a.streams)
    val spans = new Spans
    val expected = Files.newBufferedWriter(a.runDir.resolve("expected.tsv"))
    val backlog = new WalBacklog.Backlog(a.seed, streams, expected)
    val broker = new Broker(streams.topics)
    val walDir = a.runDir.resolve("engine/wal")
    Files.createDirectories(walDir)
    var out: Map[String, Any] = Map.empty
    try {
      val nPrime = backlog.stage(walDir, WalBacklog.PrimeTxns, -1)
      WalLog.publishStaged(walDir.toString)
      val launched = Common.nowUs()
      backlog.published(launched)
      val spark = spans.span("setup.session", 0, "wal_backlog/setup")(_ => Common.engineSession())
      val listener = new BatchSpans(spans, "wal_backlog")
      spark.streams.addListener(listener)
      val producer = new TracedProducer(
        graft.sink.kafka.WireFrameProducer.fromBootstrap(broker.bootstrap).get, spans)
      val query = StreamingPipeline.start(spark, walDir.toString, engineStreams(streams),
        a.runDir.resolve("engine/ckpt").toString, a.runDir.resolve("engine/out").toString,
        kafkaBootstrap = None, producer = Some(producer), triggerMs = 100L)
      try {
        spans.span("setup.first_batch", 0, "wal_backlog/setup")(_ =>
          require(Common.waitUntil(180000)(broker.count > 0), "no first delivery"))
        val setupS = (broker.firstArrivalUs.get - launched) / 1e6
        require(Common.waitUntil(60000)(broker.distinctLsn >= nPrime), "prime not delivered")
        val firstSeg = WalLog.segmentFiles(walDir.toString).size
        val rs = WalBacklog.rounds(a, backlog, walDir, broker, nPrime,
          () => selfCpu.ticks())
        org.apache.spark.ListenerDrain(spark.sparkContext)
        val segs = WalLog.segmentFiles(walDir.toString)
        // replay only the measured rounds' segments (the last ones)
        val measured = segs.drop(segs.size - rs.size)
        val replayBroker = new Broker(streams.topics)
        val (rp, events) = try replay(measured, streams, replayBroker, spans, "wal_backlog")
          finally replayBroker.close()
        val (scanNs, frameNs) = frameCost(spark, events, engineStreams(streams))
        out = Map("setup_s" -> Seq(setupS), "rounds" -> rs,
          "first_round_segment" -> firstSeg,
          "batches" -> listener.batches.toVector,
          "replay" -> rp,
          "frame_scan_ns" -> scanNs, "frame_ns" -> frameNs,
          "child" -> Map(
            "rss_hwm_kb" -> Common.statusKb(Common.selfPid, "VmHWM"),
            "metrics_events_total" -> broker.count,
            "broker_records" -> broker.count,
            "broker_value_bytes" -> broker.valueBytes,
            "produce_requests" -> broker.broker.produceRequests.get(),
            "progress" -> ""))
      } finally query.stop()
    } finally {
      expected.close()
      broker.close()
      broker.dump(a.runDir.resolve("delivered.tsv"), byIdentity = false)
      spans.write(a.runDir.resolve("spans.jsonl"))
    }
    out
  }

  def pgLive(a: Args): Map[String, Any] = {
    val streams = new StreamConfig(a.streams)
    val spans = new Spans
    val prep = PgLive.prepare(a)
    val expected = Files.newBufferedWriter(a.runDir.resolve("expected.tsv"))
    val broker = new Broker(streams.topics)
    val dir = a.runDir.resolve("engine")
    val walDir = dir.resolve("wal")
    Files.createDirectories(walDir)
    var out: Map[String, Any] = Map.empty
    try {
      val launched = Common.nowUs()
      val snap = PgLive.expectSnapshot(prep, streams, expected, launched)
      val spark = spans.span("setup.session", 0, "pg_live/setup")(_ => Common.engineSession())
      val listener = new BatchSpans(spans, "pg_live")
      spark.streams.addListener(listener)
      val producer = new TracedProducer(
        graft.sink.kafka.WireFrameProducer.fromBootstrap(broker.bootstrap).get, spans)
      val defs = engineStreams(streams)
      // the postgres path of graft.Main.runPipeline, call for call
      val delivery = new SnapshotDelivery(spark, defs, Some(producer), dir.resolve("out").toString)
      val ep = prep.pg.endpoint(PgServerHarness.DefaultSuperUser, None)
      val pgSession = PgSession.connect(ep)
      val boot = spans.span("setup.bootstrap", 0, "pg_live/setup")(_ =>
        WireBootstrap.bootstrap(pgSession, "perfbench_slot", PgLive.Publication, defs,
          confirmedLsn = WalLog.confirmed(walDir.toString),
          emit = delivery.emit, flushDelivery = () => delivery.flush()))
      val ch = new TimedChannel(pgSession.startReplication("perfbench_slot",
        PgLive.Publication, Lsn.text(boot.startLsn)), spans)
      val spooler = new ReplicationSpooler(ch, walDir.toString)
      val query = StreamingPipeline.start(spark, walDir.toString, defs,
        dir.resolve("ckpt").toString, dir.resolve("out").toString,
        kafkaBootstrap = None, producer = Some(producer), triggerMs = 100L)
      // WirePump's loop, with a span around each pumpOnce
      @volatile var pumping = true
      val pump = new Thread(() => while (pumping) {
        var more = true
        while (more && pumping) more = spans.span("source.postgres.spool", 0, "pg_live/wire") { id =>
          ch.parent = id
          spooler.pumpOnce()
        }
        spooler.flush()
        Thread.sleep(10)
      }, "perfbench-pump")
      pump.start()
      try {
        spans.span("setup.first_batch", 0, "pg_live/setup")(_ =>
          require(Common.waitUntil(180000)(broker.count > 0), "no first delivery"))
        val setupS = (broker.firstArrivalUs.get - launched) / 1e6
        require(Common.waitUntil(60000)(broker.count >= snap), "snapshot not delivered")
        val w = PgLive.measure(a, prep, broker, streams, expected, snap,
          () => selfCpu.ticks())
        org.apache.spark.ListenerDrain(spark.sparkContext)
        pumping = false
        pump.join()
        val replayBroker = new Broker(streams.topics)
        val (rp, events) = try replay(WalLog.segmentFiles(walDir.toString), streams,
          replayBroker, spans, "pg_live") finally replayBroker.close()
        val (scanNs, frameNs) = frameCost(spark, events, defs)
        out = w ++ Map("setup_s" -> Seq(setupS), "rate" -> PgLive.Rate,
          "changes_scheduled" -> prep.changes,
          "batches" -> listener.batches.toVector,
          "replay" -> rp,
          "frame_scan_ns" -> scanNs, "frame_ns" -> frameNs,
          "wire" -> Map("messages" -> ch.messages, "bytes" -> ch.bytes,
            "status_updates" -> ch.statusUpdates, "read_us" -> ch.readUs),
          "child" -> Map(
            "cpu_ticks_total" -> w("cpu_ticks"),
            "rss_hwm_kb" -> Common.statusKb(Common.selfPid, "VmHWM"),
            "metrics_events_total" -> (broker.count - snap),
            "broker_records" -> broker.count,
            "snapshot_records" -> snap,
            "broker_value_bytes" -> broker.valueBytes,
            "produce_requests" -> broker.broker.produceRequests.get(),
            "progress" -> ""))
      } finally {
        pumping = false
        pump.join()
        query.stop()
        spooler.close()
      }
    } finally {
      expected.close()
      broker.close()
      broker.dump(a.runDir.resolve("delivered.tsv"), byIdentity = true)
      spans.write(a.runDir.resolve("spans.jsonl"))
      prep.pg.stop()
    }
    out
  }
}
