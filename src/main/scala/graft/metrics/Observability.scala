package graft.metrics

import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

/** O1/A1/A2 — liveness, lag and throughput metrics with Prometheus text
  * rendering (reference: src/observability/observability.zig:138-271).
  *
  * Spark-native shape: a [[StreamingQueryListener]] consumes the per-batch
  * `observe("graft", ...)` aggregates — Spark already tallies per batch, so
  * this is one counter add per micro-batch, mirroring the reference's
  * per-batch tally design (processor.zig:18-28).
  */
final class GraftMetrics(nowS: () => Long = () => System.currentTimeMillis() / 1000) {

  /** Wire-activity staleness threshold (reference: src/constants.zig:43-53,
    * stall check processor.zig:393-399). */
  val LivenessWindowS = 90L

  /** Changes the streaming query processed; snapshot READs are counted in
    * [[snapshotEvents]] instead. */
  val eventsProcessed = new AtomicLong(0)
  /** Snapshot READ events delivered outside the streaming query
    * ([[graft.streaming.SnapshotDelivery]]). */
  val snapshotEvents = new AtomicLong(0)
  val batchesProcessed = new AtomicLong(0)
  val lagSeconds = new AtomicLong(0)
  val lastActivityS = new AtomicLong(nowS())
  val lastError = new AtomicReference[String](null)

  def heartbeat(): Unit = lastActivityS.set(nowS())

  /** Wire-side liveness, tracked SEPARATELY from query liveness (−1 = no
    * live wire attached). A healthy-but-idle query refreshes the query
    * heartbeat via onQueryIdle — which must never mask a half-open or
    * silently dead replication socket that raises no error. The wire
    * heartbeat advances only on RECEIVED server traffic; a healthy
    * walsender sends keepalives well inside the window even with zero
    * changes, and for servers running `wal_sender_timeout=0` (keepalives
    * disabled) the spooler SOLICITS a reply once the wire has been silent
    * for a third of this window — so an alive-but-mute server still
    * refreshes the heartbeat, and only a dead/half-open wire goes stale
    * (the reference trips its stall check exactly when keepalives stop,
    * processor.zig:393-399). */
  val wireLastActivityS = new AtomicLong(-1L)
  def wireAttached(): Unit = wireLastActivityS.set(nowS())
  def wireHeartbeat(): Unit = wireLastActivityS.set(nowS())

  /** Liveness: query activity within the window AND, when a live wire is
    * attached, server traffic within the window (GET /healthz). */
  def live: Boolean = {
    val queryFresh = nowS() - lastActivityS.get() <= LivenessWindowS
    val w = wireLastActivityS.get()
    queryFresh && (w < 0 || nowS() - w <= LivenessWindowS)
  }

  /** Readiness: live and no fatal error (GET /readyz). */
  def ready: Boolean = live && lastError.get() == null

  /** Per-(stream, op) event counters — one add per distinct combo per batch
    * (the reference's tally design, processor.zig:18-28). */
  val streamOpCounts =
    new java.util.concurrent.ConcurrentHashMap[(String, String), AtomicLong]()

  def tally(stream: String, op: String, n: Long): Unit =
    streamOpCounts.computeIfAbsent((stream, op), _ => new AtomicLong(0))
      .addAndGet(n)

  /** Adds `counts(i)` to the i-th (stream, op) pair of `pairs`. */
  def tally(pairs: Seq[(String, String)], counts: Iterator[Long]): Unit =
    pairs.iterator.zip(counts).foreach { case ((stream, op), n) =>
      if (n > 0) tally(stream, op, n)
    }

  def recordBatch(events: Long, maxCommitTs: Option[Long]): Unit = {
    eventsProcessed.addAndGet(events)
    batchesProcessed.incrementAndGet()
    // drained stream ⇒ lag 0 (reference processor.zig:162-166)
    lagSeconds.set(maxCommitTs.map(ts => math.max(nowS() - ts, 0L)).getOrElse(0L))
    heartbeat()
  }

  /** Recent per-batch wall-clock durations (admission → sink commit), a
    * bounded ring — the engine-side equivalent of the reference's push
    * latency metric (docs/design/STREAMING_REPLICATION_DESIGN.md:28-30).
    * Bounded so an immortal stream never grows driver memory. */
  private val BatchDurationCap = 1024
  private val batchDurationsMs = new java.util.ArrayDeque[Long](BatchDurationCap)
  def recordBatchDuration(ms: Long): Unit = batchDurationsMs.synchronized {
    if (batchDurationsMs.size() >= BatchDurationCap) batchDurationsMs.pollFirst()
    batchDurationsMs.addLast(ms)
  }
  /** (p50, p99) of the recent batch durations; (0,0) when none recorded. */
  def batchLatencyMs: (Long, Long) = batchDurationsMs.synchronized {
    if (batchDurationsMs.isEmpty) (0L, 0L)
    else {
      val a = batchDurationsMs.toArray(new Array[java.lang.Long](0))
        .map(_.longValue).sorted
      def pct(p: Double) = a(math.min(a.length - 1, (a.length * p).toInt))
      (pct(0.50), pct(0.99))
    }
  }

  /** Prometheus text exposition (counter/gauge rendering,
    * observability.zig:191-271). */
  def render: String = {
    val sb = new StringBuilder
    def metric(name: String, kind: String, v: Long): Unit = {
      sb.append(s"# TYPE $name $kind\n")
      sb.append(s"$name $v\n")
    }
    metric("graft_events_processed_total", "counter", eventsProcessed.get())
    metric("graft_snapshot_events_total", "counter", snapshotEvents.get())
    metric("graft_batches_processed_total", "counter", batchesProcessed.get())
    metric("graft_replication_lag_seconds", "gauge", lagSeconds.get())
    metric("graft_up", "gauge", if (live) 1 else 0)
    val w = wireLastActivityS.get()
    if (w >= 0) // only meaningful when a live wire is attached
      metric("graft_wire_up", "gauge",
        if (nowS() - w <= LivenessWindowS) 1 else 0)
    val (p50, p99) = batchLatencyMs
    metric("graft_batch_duration_ms_p50", "gauge", p50)
    metric("graft_batch_duration_ms_p99", "gauge", p99)
    if (!streamOpCounts.isEmpty) {
      sb.append("# TYPE graft_stream_events_total counter\n")
      streamOpCounts.forEach((k: (String, String), v: AtomicLong) => {
        sb.append(s"""graft_stream_events_total{stream="${k._1}",op="${k._2}"} ${v.get()}""")
        sb.append('\n')
      })
    }
    sb.toString
  }
}

/** Bridges `observe("graft", count(...) AS events, max(commit_ts) AS
  * max_commit_ts, stream_tally(stream, op) AS tallies)` rows into
  * [[GraftMetrics]]. Pass the same `streams` the pipeline was started with:
  * slot i of the `tallies` array counts the i-th pair of
  * [[graft.functions.StreamTable.tallyPairs]]. The tally is computed inside
  * the streaming plan (one aggregate riding the observation), so metrics
  * cost zero extra jobs per micro-batch. */
final class GraftQueryListener(metrics: GraftMetrics,
    streams: Seq[graft.config.StreamDef] = Nil) extends StreamingQueryListener {
  private val tallyPairs = new graft.functions.StreamTable(streams).tallyPairs
  override def onQueryStarted(event: QueryStartedEvent): Unit = {
    // a (re)started query is a recovery attempt: clear the sticky fatal
    // error so /readyz reflects the CURRENT run, not a past crash
    metrics.lastError.set(null)
    metrics.heartbeat()
  }
  override def onQueryProgress(event: QueryProgressEvent): Unit = {
    metrics.recordBatchDuration(event.progress.batchDuration)
    val obs = event.progress.observedMetrics
    if (obs.containsKey("graft")) {
      val row = obs.get("graft")
      val events = if (row.isNullAt(0)) 0L else row.getLong(0)
      val maxTs = if (row.isNullAt(1)) None else Some(row.getLong(1))
      metrics.recordBatch(events, maxTs)
      metrics.tally(tallyPairs, row.getSeq[Long](2).iterator)
    } else metrics.heartbeat()
  }
  /** A no-data trigger posts QueryIdleEvent (not QueryProgressEvent) on
    * Spark 3.4+. The source successfully polling the WAL and finding it
    * drained IS wire-side liveness — the reference only trips its stall
    * check when keepalives stop (processor.zig:393-399), so a quiet-but-
    * healthy stream must keep the heartbeat fresh or [[StallWatchdog]]
    * would kill every low-traffic source after the liveness window. */
  override def onQueryIdle(event: QueryIdleEvent): Unit = metrics.heartbeat()
  override def onQueryTerminated(event: QueryTerminatedEvent): Unit = {
    event.exception.foreach(metrics.lastError.set)
  }
}
