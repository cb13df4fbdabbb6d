package graft.perfbench

import graft.source.postgres.{PgServerHarness, PgSession}
import java.nio.file.Files

/** pg_live: a real PostgreSQL server, an open-loop generator and
  * `graft.Main` bootstrapping and streaming over the replication wire.
  *
  * The generator is one server-side `DO` block that walks a pre-loaded
  * schedule and COMMITs each small transaction at its due time, so its pace
  * does not slow when the engine does. Each row stores its due time
  * (created_at) and the actual clock_timestamp() (updated_at); an unlogged
  * log table records each transaction's due and commit times. */
object PgLive {
  /** Offered load: row changes per second. */
  val Rate = 2000
  val SnapshotRows = 1000
  /** Seconds of schedule before the measured window: the engine's JIT
    * settles there (latency falls ~4x over the first seconds after start). */
  val WarmupSeconds = 10
  val Publication = "perfbench_pub"
  val UriEnv = "PERFBENCH_PG_URI"

  private def createTables(s: PgSession): Unit = {
    val cols = Gen.Columns.map { case (n, _, t) =>
      if (n == "id") s"$n $t PRIMARY KEY" else s"$n $t" }.mkString(", ")
    Gen.Tables.foreach { t =>
      s.simpleQuery(s"CREATE TABLE $t ($cols)")
      s.simpleQuery(s"ALTER TABLE $t REPLICA IDENTITY FULL")
    }
    s.simpleQuery("CREATE UNLOGGED TABLE perfbench_schedule (seq int8 PRIMARY KEY, " +
      "txn int8, due_ms float8, tbl text, op text, id int8, account_id int8, " +
      "amount numeric(20,6), status text, payload jsonb)")
    s.simpleQuery("CREATE UNLOGGED TABLE perfbench_txn_log " +
      "(txn int8, due timestamptz, committed timestamptz)")
  }

  private def q(s: String) = "'" + s.replace("'", "''") + "'"

  private def insertRows(s: PgSession, sql: String, rows: Seq[String]): Unit =
    rows.grouped(500).foreach(g => s.simpleQuery(sql + g.mkString(",")))

  /** The generator: waits for each transaction's due time, applies its
    * changes, logs due vs actual commit time, COMMITs. */
  private def generatorSql(t0Us: Long): String =
    s"""DO $$$$
DECLARE
  t0 timestamptz := to_timestamp(${t0Us / 1000000.0});
  r record; cur int8 := -1; due timestamptz;
BEGIN
  FOR r IN SELECT * FROM perfbench_schedule ORDER BY seq LOOP
    IF r.txn <> cur THEN
      IF cur >= 0 THEN
        INSERT INTO perfbench_txn_log VALUES (cur, due, clock_timestamp());
        COMMIT;
      END IF;
      cur := r.txn;
      due := t0 + make_interval(secs => r.due_ms / 1000.0);
      PERFORM pg_sleep(GREATEST(0, EXTRACT(EPOCH FROM due - clock_timestamp())));
    END IF;
    IF r.op = 'I' THEN
      EXECUTE format('INSERT INTO %I VALUES ($$1, $$2, $$3, $$4, $$5, $$6, clock_timestamp())', r.tbl)
        USING r.id, r.account_id, r.amount, r.status, r.payload, due;
    ELSIF r.op = 'U' THEN
      EXECUTE format('UPDATE %I SET account_id = $$2, amount = $$3, status = $$4, payload = $$5, created_at = $$6, updated_at = clock_timestamp() WHERE id = $$1', r.tbl)
        USING r.id, r.account_id, r.amount, r.status, r.payload, due;
    ELSE
      EXECUTE format('DELETE FROM %I WHERE id = $$1', r.tbl) USING r.id;
    END IF;
  END LOOP;
  INSERT INTO perfbench_txn_log VALUES (cur, due, clock_timestamp());
  COMMIT;
END $$$$"""

  /** A started server with the tables, the snapshot rows and the loaded
    * schedule: (transaction, due ms after the first one). */
  final class Prepared(val pg: PgServerHarness, val snapRows: Vector[Gen.Row],
      val schedule: Vector[(Gen.Txn, Double)], val changes: Int) {
    private val ep = pg.endpoint(PgServerHarness.DefaultSuperUser, None)
    val uri = s"postgres://${ep.user}@${ep.host}:${ep.port}/${ep.database}"
  }

  def prepare(a: Args): Prepared = {
    val pg = PgServerHarness.start().getOrElse(
      throw new IllegalStateException("could not start PostgreSQL"))
    Common.log("postgres up")
    val gen = new Gen.Generator(a.seed)
    val snapRows = gen.prepopulate(Gen.SnapshotTable, SnapshotRows)
    // transactions until rate x seconds changes, each due when the changes
    // before it would have been issued at the rate
    val txns = Vector.newBuilder[(Gen.Txn, Double)]
    var issued = 0
    while (issued < Rate * (WarmupSeconds + a.seconds)) {
      val tx = gen.next()
      txns += ((tx, issued * 1000.0 / Rate))
      issued += tx.changes.size
    }
    val schedule = txns.result()
    val s = pg.session()
    try {
      createTables(s)
      insertRows(s, s"INSERT INTO ${Gen.SnapshotTable} VALUES ", snapRows.map(r =>
        s"(${r.id}, ${r.accountId}, ${r.amount}, ${q(r.status)}, ${q(r.payload)}, now(), now())"))
      var seq = 0L
      insertRows(s, "INSERT INTO perfbench_schedule VALUES ", schedule.flatMap {
        case (tx, dueMs) => tx.changes.map { c =>
          seq += 1
          s"($seq, ${tx.index}, $dueMs, ${q(Gen.Tables(c.table))}, ${q(c.op.toString)}, " +
            s"${c.row.id}, ${c.row.accountId}, ${c.row.amount}, ${q(c.row.status)}, ${q(c.row.payload)})"
        }
      })
      s.simpleQuery("ANALYZE")
    } finally s.close()
    Common.log("schedule loaded")
    new Prepared(pg, snapRows, schedule, issued)
  }

  /** Expect the snapshot's READ records; returns their count. */
  def expectSnapshot(p: Prepared, streams: StreamConfig, expected: java.io.Writer,
      dueUs: Long): Int = {
    val topics = streams.topicsFor(Gen.SnapshotTable, 'R')
    val t = Gen.Tables.indexOf(Gen.SnapshotTable)
    p.snapRows.foreach(r => topics.foreach(tp => expected.write(
      s"-1\t$tp\t${Gen.Change(t, 'R', r).identity}\t$dueUs\n")))
    p.snapRows.size * topics.size
  }

  def run(a: Args): Map[String, Any] = {
    val streams = new StreamConfig(a.streams)
    val prep = prepare(a)
    val config = a.runDir.resolve("engine.json")
    streams.writeEngineConfig(config, Some((UriEnv, "perfbench_slot", Publication)))
    val expected = Files.newBufferedWriter(a.runDir.resolve("expected.tsv"))
    val broker = new Broker(streams.topics)
    val engine = new EngineChild(a.runDir.resolve("engine"), config, broker,
      Map(UriEnv -> prep.uri))
    try {
      engine.start()
      val snap = expectSnapshot(prep, streams, expected, engine.launchedUs)
      val setupS = engine.awaitFirstDelivery(180)
      Common.log("first delivery")
      // snapshot READs all carry the slot's start LSN, so progress here is
      // the record count; the gap check names what is missing
      require(Common.waitUntil(60000)(broker.count >= snap),
        s"snapshot not delivered (${broker.count}/$snap)")
      val w = measure(a, prep, broker, streams, expected, snap, () => engine.cpuTicks)
      w ++ Map("setup_s" -> Seq(setupS), "rate" -> Rate,
        "changes_scheduled" -> prep.changes, "child" -> Map(
          "cpu_ticks_total" -> w("cpu_ticks"),
          "rss_hwm_kb" -> engine.rssHwmKb,
          "metrics_events_total" -> engine.eventsProcessed(broker.count - snap),
          "broker_records" -> broker.count,
          "snapshot_records" -> snap,
          "progress" -> engine.progressFile.toString))
    } finally {
      engine.stop()
      broker.close()
      broker.dump(a.runDir.resolve("delivered.tsv"), byIdentity = true)
      expected.close()
      prep.pg.stop()
    }
  }

  /** Run the generator against a streaming engine and wait until the broker
    * holds every scheduled record. */
  def measure(a: Args, p: Prepared, broker: Broker, streams: StreamConfig,
      expected: java.io.Writer, snapshotRecords: Int, cpuTicks: () => Long): Map[String, Any] = {
    val start = (Common.nowUs() / 1000 + 500) * 1000 // due time of the first txn
    val t0 = start + WarmupSeconds * 1000000L // the measured window opens
    var records = 0
    p.schedule.foreach { case (tx, dueMs) =>
      val due = start + (dueMs * 1000).toLong
      val round = if (due < t0) -2 else 0 // warm-up records: checked, not timed
      tx.changes.foreach(c => streams.topicsFor(Gen.Tables(c.table), c.op).foreach { t =>
        records += 1
        expected.write(s"$round\t$t\t${c.identity}\t$due\n")
      })
    }
    val genSession = PgSession.connect(p.pg.endpoint(PgServerHarness.DefaultSuperUser, None),
      queryTimeoutMs = (WarmupSeconds + a.seconds + 120) * 1000)
    var genError: Throwable = null
    val genThread = new Thread(() =>
      try genSession.simpleQuery(generatorSql(start))
      catch { case e: Throwable => genError = e }
      finally genSession.close(), "perfbench-generator")
    genThread.start()
    Common.waitUntil(30000)(Common.nowUs() >= t0)
    val cpu0 = cpuTicks()
    Common.log("window open")
    genThread.join()
    if (genError != null) throw genError
    val drained = Common.waitUntil(60000)(broker.count >= snapshotRecords + records)
    val cpu = cpuTicks() - cpu0
    Common.log("window drained")
    val log = p.pg.session()
    val txnLog = try log.simpleQuery("SELECT txn, " +
        "(extract(epoch FROM due) * 1000000)::int8, " +
        "(extract(epoch FROM committed) * 1000000)::int8 FROM perfbench_txn_log ORDER BY txn")
      .rows finally log.close()
    val sizes = p.schedule.map { case (tx, _) => tx.index -> tx.changes.map(c =>
      streams.topicsFor(Gen.Tables(c.table), c.op).size).sum }.toMap
    val w = Files.newBufferedWriter(a.runDir.resolve(s"txnlog.tsv"))
    try txnLog.foreach(r => w.write(s"${r(0)}\t${r(1)}\t${r(2)}\t${sizes(r(0).toLong)}\n"))
    finally w.close()
    Map("start_us" -> start, "t0_us" -> t0, "drained" -> drained, "cpu_ticks" -> cpu)
  }

}
