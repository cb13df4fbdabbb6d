package graft.perfbench

import graft.source.wal.WalLog
import java.io.Writer
import java.nio.file.{Files, Path}

/** wal_backlog: `graft.Main` drains generated pgoutput WAL backlogs, one
  * round at a time (closed loop). The engine first drains a small prime
  * segment, which absorbs start-up, then untimed warm-up rounds, then the
  * timed rounds; each round is published at once and ends when the broker
  * holds every expected (topic, lsn) of it. */
object WalBacklog {
  val PrimeTxns = 200
  val TxnsPerRound = 4000
  /** Untimed rounds: per-round CPU falls over the first dozen rounds after
    * start-up while the JIT compiles the hot path. */
  val WarmupRounds = 8
  /** Timed rounds per `--seconds`: fixed work, sized so a run of the
    * shipped engine on 4 cores measures for about `--seconds`. */
  val RoundsPerSecond = 0.75

  /** The generated backlog a run drains, with each change's (topic, lsn). */
  final class Backlog(seed: Long, streams: StreamConfig, expected: Writer) {
    private val gen = new Gen.Generator(seed)
    private var lsn = 0x16000000L
    private var seg = 0
    var events = 0L

    /** Stage `txns` transactions as the next segment of `walDir`; returns
      * the number of expected (topic, lsn) records. */
    def stage(walDir: Path, txns: Int, round: Int): Int = {
      val (frames, changes) = Gen.segment(Vector.fill(txns)(gen.next()), lsn,
        1767225600000000L + seg * 1000000L)
      lsn = frames.last.lsn + 16
      Gen.stage(walDir, seg, frames)
      seg += 1
      var n = 0
      changes.foreach { case (c, l) =>
        streams.topicsFor(Gen.Tables(c.table), c.op).foreach { t =>
          n += 1
          pending += s"$round\t$t\t${Lsn.text(l)}\t"
        }
      }
      events += changes.size
      n
    }
    private val pending = scala.collection.mutable.ArrayBuffer.empty[String]
    /** Stamp the staged records with their due time and write them out. */
    def published(dueUs: Long): Unit = {
      pending.foreach(p => expected.write(p + dueUs + "\n"))
      pending.clear()
    }
  }

  /** Publish and time the warm-up and measured rounds on a running engine;
    * `want` is the (topic, lsn) count already expected at the broker. */
  def rounds(a: Args, backlog: Backlog, walDir: Path, broker: Broker,
      want0: Int, cpuTicks: () => Long): Vector[Map[String, Any]] = {
    val rounds = math.max(2, math.round(a.seconds * RoundsPerSecond).toInt)
    var want = want0
    val out = Vector.newBuilder[Map[String, Any]]
    // warm-up rounds are numbered below the prime's -1
    for (r <- (-1 - WarmupRounds until -1) ++ (0 until rounds)) {
      val n = backlog.stage(walDir, TxnsPerRound, r)
      want += n
      val c0 = cpuTicks()
      val t0 = Common.nowUs()
      WalLog.publishStaged(walDir.toString)
      backlog.published(t0)
      val done = Common.waitUntil(60000)(broker.distinctLsn >= want)
      val t1 = Common.nowUs()
      if (!done) throw new IllegalStateException(
        s"round $r incomplete after 60 s (${broker.distinctLsn}/$want)")
      if (r >= 0) out += Map("round" -> r, "publish_us" -> t0, "done_us" -> t1,
        "records" -> n, "cpu_ticks" -> (cpuTicks() - c0))
    }
    out.result()
  }

  def run(a: Args): Map[String, Any] = {
    val streams = new StreamConfig(a.streams)
    val config = a.runDir.resolve("engine.json")
    streams.writeEngineConfig(config, None)
    val expected = Files.newBufferedWriter(a.runDir.resolve("expected.tsv"))
    val backlog = new Backlog(a.seed, streams, expected)
    val broker = new Broker(streams.topics)
    val engine = new EngineChild(a.runDir.resolve("engine"), config, broker)
    try {
      val nPrime = backlog.stage(engine.walDir, PrimeTxns, -1)
      WalLog.publishStaged(engine.walDir.toString)
      engine.start()
      backlog.published(engine.launchedUs)
      val setupS = engine.awaitFirstDelivery(180)
      Common.log("first delivery")
      require(Common.waitUntil(60000)(broker.distinctLsn >= nPrime),
        s"prime segment not delivered (${broker.distinctLsn}/$nPrime)")
      val rs = rounds(a, backlog, engine.walDir, broker, nPrime, () => engine.cpuTicks)
      Common.log("rounds done")
      Map("setup_s" -> Seq(setupS), "rounds" -> rs,
        "events_generated" -> backlog.events, "child" -> Map(
          "rss_hwm_kb" -> engine.rssHwmKb,
          "metrics_events_total" -> engine.eventsProcessed(broker.count),
          "broker_records" -> broker.count,
          "progress" -> engine.progressFile.toString))
    } finally {
      engine.stop()
      broker.close()
      broker.dump(a.runDir.resolve("delivered.tsv"), byIdentity = false)
      expected.close()
    }
  }
}

/** pg_lsn text form X/X (upper-case hex words). */
object Lsn {
  def text(lsn: Long): String =
    s"${(lsn >>> 32).toHexString.toUpperCase}/${(lsn & 0xFFFFFFFFL).toHexString.toUpperCase}"
}
