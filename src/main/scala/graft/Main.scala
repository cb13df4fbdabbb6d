package graft

import graft.config.ConfigLoader
import graft.metrics.{GraftMetrics, GraftQueryListener, MetricsHttp, StallWatchdog}
import graft.streaming.StreamingPipeline
import org.apache.spark.sql.SparkSession

/** Application entry point — the reference's `main` flow
  * (reference: src/main.zig:42-177): load config → validate → wire source,
  * sink, metrics → run until signalled.
  *
  * {{{
  *   runMain graft.Main <config.json> <walDir> <checkpointDir> [outDir]
  * }}}
  *
  * With GRAFT_KAFKA_BOOTSTRAP set (`wire://` or `wire+tls://`, see
  * [[graft.sink.kafka.WireEndpoint]]), frames go to Kafka through the wire
  * producer; otherwise the file sink stands in. Metrics HTTP (/metrics
  * /healthz /readyz) serves on GRAFT_HTTP_PORT (default: ephemeral).
  */
object Main {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: graft.Main <config.json> <walDir> <checkpointDir> [outDir]")
    val Array(configPath, walDir, ckptDir) = args.take(3)
    val outDir = args.lift(3).getOrElse(
      java.nio.file.Files.createTempDirectory("graft-out").toString)

    // config load + validation is fail-fast, before any connection is made
    val config = ConfigLoader.fromJsonFile(configPath)

    // a postgres block whose connection env var is unset would silently skip
    // the live wire — a misspelled variable yielding a green pipeline that
    // ingests nothing. Refuse to start instead (the reference fails startup
    // on a missing connection, src/main.zig wiring).
    config.postgres.foreach { pg =>
      require(pg.connectionUri.isDefined,
        s"source.postgres configured but env var '${pg.connectionEnv}' is " +
          "unset — refusing to start a pipeline that would ingest nothing")
    }

    // the sink bootstrap too: a malformed or non-wire one must fail here,
    // not at the first snapshot produce after the slot already exists
    val sinkEndpoint = sys.env.get("GRAFT_KAFKA_BOOTSTRAP")
      .map(graft.sink.kafka.WireEndpoint.parse(_))

    val spark = GraftSession.getOrCreate()

    val metrics = new GraftMetrics
    spark.streams.addListener(new GraftQueryListener(metrics, config.streams))
    val http = new MetricsHttp(metrics,
      sys.env.getOrElse("GRAFT_HTTP_PORT", "0").toInt)
    val port = http.start()
    println(s"[graft] metrics on :$port — streams: " +
      config.streams.map(s => s"${s.name}(${s.resource}→${s.destination})")
        .mkString(", "))

    // From here on the JDK HttpServer's non-daemon dispatcher thread pins
    // the JVM: an exception that merely kills the main thread leaves a
    // zombie child that never exits and never runs its shutdown hooks
    // (observed in the wild: a bootstrap failure left graft.Main alive for
    // 6+ hours with only DestroyJavaVM + HTTP-Dispatcher running). Every
    // exit from main MUST go through sys.exit so hooks fire and the
    // process terminates with a diagnosable status.
    try runPipeline(config, sinkEndpoint, spark, metrics, http, walDir,
      ckptDir, outDir)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        System.err.println(s"[graft] fatal during startup/run: $e")
        try http.stop() catch { case _: Throwable => () }
        sys.exit(1)
    }
    sys.exit(0)
  }

  /** Best-effort post-mortem when a bootstrap statement stalls: what is the
    * server doing / waiting on? Runs on a throwaway short-timeout session;
    * any failure is swallowed — diagnosis must never mask the original
    * error or stall the retry for long. */
  private def diagnoseServer(
      ep: graft.source.postgres.SocketCopyBothChannel.Endpoint): Unit =
    try {
      val s = graft.source.postgres.PgSession.connect(ep,
        connectTimeoutMs = 5000, queryTimeoutMs = 5000)
      try s.simpleQuery(
          "SELECT pid, state, wait_event_type, wait_event, " +
            "left(query, 120) AS query FROM pg_stat_activity " +
            "WHERE state IS NOT NULL").rows
          .foreach(r => System.err.println(
            s"[graft] pg_stat_activity: ${r.mkString(" | ")}"))
      finally s.close()
    } catch { case e: Throwable =>
      System.err.println(s"[graft] server diagnosis unavailable: $e")
    }

  private def runPipeline(config: graft.config.EngineConfig,
      sinkEndpoint: Option[graft.sink.kafka.WireEndpoint.Ep],
      spark: SparkSession, metrics: GraftMetrics, http: MetricsHttp,
      walDir: String, ckptDir: String, outDir: String): Unit = {

    // live wire: with a postgres block in the config, run the full cold-start
    // bootstrap over ONE session — publication + slot creation (capturing
    // consistent_point), snapshot rows delivered to the sink as READ events
    // before the marker drops, then CopyBoth streaming into the WAL dir the
    // source reads (reference: src/main.zig:179-238 wiring). Without the
    // block, walDir is expected to be fed externally (tests, replays).
    // ONE producer for both delivery phases: snapshot READ events and
    // streamed changes must reach the SAME destination (a Kafka consumer
    // must see the initial state before the first I/U/D)
    val producer: Option[graft.sink.FrameProducer] =
      sinkEndpoint.map(graft.sink.kafka.WireFrameProducer(_))

    val spooler = config.postgres.map { pg =>
      val ep = graft.source.postgres.SocketCopyBothChannel.parseUri(
        pg.connectionUri.get) // presence enforced at startup above
      // chunked delivery: bounded driver memory for any table size
      val delivery = new graft.streaming.SnapshotDelivery(
        spark, config.streams, producer, outDir, metrics = Some(metrics))
      def bootstrapOnce() = {
        val session = graft.source.postgres.PgSession.connect(ep,
          queryTimeoutMs = pg.queryTimeoutMs)
        try {
          val boot = graft.source.postgres.WireBootstrap.bootstrap(
            session, pg.slotName, pg.publicationName, config.streams,
            confirmedLsn = graft.source.wal.WalLog.confirmed(walDir),
            emit = delivery.emit,
            flushDelivery = () => delivery.flush())
          (session, boot)
        } catch { case e: Throwable =>
          try session.close() catch { case _: Throwable => () }
          throw e
        }
      }
      // The bootstrap state machine is crash-safe and idempotent by
      // construction (marker-before-slot, redo-on-orphan, per-resource
      // ledger — SnapshotBootstrap), so ONE retry on a FRESH session is
      // always semantically safe: a transient stall poisons the first
      // session (stream position unknown ⇒ reconnect is mandatory anyway)
      // and must not take the process down when redoing the bootstrap
      // would succeed. At-least-once holds — a retry can redeliver
      // snapshot READs; consumers dedup on meta.lsn.
      val (session, boot) =
        try bootstrapOnce()
        catch { case e: Throwable =>
          System.err.println(s"[graft] bootstrap attempt 1 failed ($e); " +
            "dumping server activity, then retrying once on a fresh session")
          diagnoseServer(ep)
          bootstrapOnce()
        }
      println(s"[graft] bootstrap: ${boot.outcome} — " +
        s"${delivery.deliveredCount} snapshot events delivered; streaming " +
        s"from ${graft.model.ChangeEvent.lsnText(boot.startLsn)}")
      val ch = session.startReplication(pg.slotName, pg.publicationName,
        graft.model.ChangeEvent.lsnText(boot.startLsn))
      new graft.source.postgres.ReplicationSpooler(ch, walDir)
    }

    val query = StreamingPipeline.start(
      spark, walDir, config.streams, ckptDir, outDir,
      kafkaBootstrap = None, producer = producer,
      triggerMs = sys.env.getOrElse("GRAFT_TRIGGER_MS", "100").toLong)

    // wire death is fail-fast: the pump records the error and stops the
    // query IMMEDIATELY — restart-from-checkpoint in seconds, never hidden
    // behind query-side liveness (reference: source.zig:394-401)
    val pump = spooler.map { sp =>
      metrics.wireAttached() // from here on, /healthz also requires wire traffic
      new graft.source.postgres.WirePump(sp,
        onFatal = e => {
          metrics.lastError.compareAndSet(null, s"replication wire: ${e.getMessage}")
          query.stop()
        },
        onTraffic = () => metrics.wireHeartbeat()).start()
    }

    // stall fail-fast: silent wire past the liveness window stops the query
    // and we exit nonzero so the supervisor restarts from the checkpoint
    val watchdog = StallWatchdog(metrics, query).start()

    // the spooler's close() sends ONE final standby status carrying the
    // engine's confirmed LSN — without it a drain-and-exit run leaves the
    // server's restart point at the last 10 s cadence tick and the next
    // start redelivers the tail (correct but wasteful). A dead wire makes
    // that farewell throw; swallow it — death was already reported.
    def closeWire(): Unit = {
      pump.foreach(_.close())
      spooler.foreach(sp => try sp.close() catch {
        case _: java.io.IOException | _: IllegalStateException => ()
      })
    }
    sys.addShutdownHook { closeWire(); query.stop(); http.stop() }
    if (sys.env.contains("GRAFT_DRAIN_AND_EXIT")) {
      // Drain-to-quiet: the wire spools ASYNCHRONOUSLY, so a single
      // processAllAvailable() races the pump and can exit with the server's
      // already-sent backlog still in flight. Keep processing until the
      // spooled WAL stops advancing across two grace windows (a static,
      // externally-fed walDir is immediately quiet). Wire death breaks the
      // loop and is reported through the failure contract below.
      val graceMs = sys.env.getOrElse("GRAFT_DRAIN_GRACE_MS", "300").toLong
      var lastLsn = -1L
      var quiet = 0
      while (quiet < 2 && !watchdog.stalled && pump.forall(_.fatal == null)) {
        query.processAllAvailable()
        val nowLsn = graft.source.wal.WalLog.maxLsn(walDir)
        if (nowLsn == lastLsn) { quiet += 1; Thread.sleep(graceMs) }
        else { quiet = 0; lastLsn = nowLsn }
      }
      query.processAllAvailable()
      query.stop()
      closeWire()
      watchdog.close()
      println(s"[graft] drained; events=${metrics.eventsProcessed.get()} " +
        s"batches=${metrics.batchesProcessed.get()}")
      http.stop()
      spark.stop()
      // a wire death mid-drain leaves a short event count that must NOT
      // read as success — same failure contract as the steady-state path
      if (watchdog.stalled || pump.exists(_.fatal != null)) {
        System.err.println(s"[graft] ${metrics.lastError.get()}")
        sys.exit(1)
      }
    } else {
      query.awaitTermination()
      closeWire()
      watchdog.close()
      if (watchdog.stalled || pump.exists(_.fatal != null)) {
        System.err.println(s"[graft] ${metrics.lastError.get()}")
        sys.exit(1)
      }
    }
  }
}
