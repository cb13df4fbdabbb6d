package graft

import graft.source.pgoutput.{PgOutputEncoder, PgOutputMessage}
import graft.source.pgoutput.PgOutputMessage._
import graft.source.pgoutput.PgOutputMessages._
import graft.source.postgres.ReplicationWire._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** E2e of the APPLICATION entry point `graft.Main` itself — config parsing,
  * startup guards, bootstrap wiring, drain-to-quiet, exit codes — run as a
  * real subprocess JVM (Main builds its own SparkSession; in-process it
  * would fight the shared test session). The test hosts the scripted
  * walsender and hands the child its URI through the config's
  * connection_env, exactly how a deployment injects credentials.
  */
object MainE2ESpec {
  /** Every child JVM ever spawned — killed from a shutdown hook so that even
    * an sbt JVM torn down mid-test (SIGTERM from a CI timeout) cannot leak a
    * graft.Main subprocess. The 6-hour zombie observed in the wild leaked
    * exactly this way: the test harness died between spawn and the spec's
    * own destroyForcibly. */
  private val children = new java.util.concurrent.ConcurrentLinkedQueue[Process]()
  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    children.forEach(p => if (p.isAlive) p.destroyForcibly()), "e2e-child-reaper"))
  private[graft] def register(p: Process): Unit = children.add(p)
}

class MainE2ESpec extends AnyFunSuite {
  import FakeWalsender._

  /** Same module opens build.sbt forks tests with — Spark 4 on JDK 17. */
  private val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  private def spawnMain(args: Seq[String], env: Map[String, String]): (Process, StringBuilder) = {
    val javaBin = Paths.get(sys.props("java.home"), "bin", "java").toString
    val cmd = Seq(javaBin) ++ addOpens ++ Seq("-Xmx3g",
      "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
      "-cp", sys.props("java.class.path"), "graft.Main") ++ args
    val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
    env.foreach { case (k, v) => pb.environment().put(k, v) }
    val proc = pb.start()
    MainE2ESpec.register(proc)
    val out = new StringBuilder
    val reader = new Thread(() => {
      val src = scala.io.Source.fromInputStream(proc.getInputStream)
      try src.getLines().foreach(l => out.synchronized { out ++= l; out += '\n' })
      finally src.close()
    })
    reader.setDaemon(true); reader.start()
    (proc, out)
  }

  private def runMain(args: Seq[String], env: Map[String, String],
      timeoutS: Long = 420,
      whileRunning: () => Unit = () => ()): (Int, String) = {
    val (proc, out) = spawnMain(args, env)
    // a whileRunning failure (e.g. the phase-1 landing probe timing out)
    // must kill the child AND surface its output — the bare assert used to
    // leak the subprocess and report nothing about WHY nothing landed
    try whileRunning() catch {
      case t: Throwable =>
        proc.destroyForcibly()
        fail(s"${t.getMessage}; child alive=${proc.isAlive}; output tail:\n" +
          out.synchronized(out.toString).takeRight(4000))
    }
    val done = proc.waitFor(timeoutS, java.util.concurrent.TimeUnit.SECONDS)
    if (!done) { proc.destroyForcibly(); fail(s"Main timed out; output:\n$out") }
    (proc.exitValue(), out.synchronized(out.toString))
  }

  private def writeConfig(dir: String): String = {
    val cfg = """{
      |  "source": {"type": "postgres", "postgres": {
      |    "connection_env": "GRAFT_PG_E2E",
      |    "slot_name": "graft_slot", "publication_name": "graft_pub"}},
      |  "sink": {"type": "kafka"},
      |  "streams": [
      |    {"name": "s_signup", "resource": "public.signup",
      |     "operations": ["insert", "read"], "destination": "cdc.signup"}]
      |}""".stripMargin
    val p = Paths.get(dir, "config.json")
    Files.writeString(p, cfg)
    p.toString
  }

  test("Main cold-starts against a live wire, drains to quiet, exits 0 with " +
      "the complete consistent sink state") {
    val base = Files.createTempDirectory("graft-main-e2e").toString
    val walDir = s"$base/wal"; val ckptDir = s"$base/ckpt"
    val outDir = s"$base/out"
    Files.createDirectories(Paths.get(walDir))

    val srv = new FakeWalsender(Trust)
    srv.strictSlots = true
    srv.nextConsistentPoint = 0x800L
    srv.tables.put("public.signup",
      (Seq(("id", 20), ("name", 25)), Seq(
        Seq("1", "alice"), Seq("2", "bob"), Seq("3", "carol"))))
    val rel = Relation(55, "public", "signup", 'd'.toByte, Vector(
      ColumnDef(1, "id", 20, -1), ColumnDef(0, "name", 25, -1)))
    Seq[(Long, PgOutputMessage)](
      0x900L -> rel,
      0x901L -> Begin(0x910L, 820454400000000L, 7),
      0x902L -> Insert(55, TupleData(Vector(TextDatum("4"), TextDatum("dave")))),
      0x910L -> Commit(0, 0x910L, 0x910L, 820454400000000L)
    ).foreach { case (lsn, m) =>
      srv.send(encodeXLogData(XLogData(lsn, lsn, 0L, PgOutputEncoder.encode(m))))
    }

    val spark = SparkTestBase.spark

    // phase 2 is injected only once phase 1 is VISIBLE in the child's sink:
    // a second transaction makes the engine run another batch, which is
    // when Spark fires source.commit for batch 1 — so the farewell status
    // can carry a real confirmed LSN (a single-batch run would honestly
    // report 0: at-least-once, replay on restart)
    def injectPhase2WhenPhase1Lands(): Unit = {
      // generous: under a full parallel `sbt test` the child JVM shares 32
      // cores with every other Spark suite, and cold start + bootstrap +
      // first stream batch has been observed to blow a 120 s budget
      val deadline = System.nanoTime() + 330000000000L
      var landed = false
      while (!landed && System.nanoTime() < deadline) {
        landed = try {
          spark.read.parquet(outDir).filter("key = '4'").limit(1).count() > 0
        } catch { case _: Exception => false }
        if (!landed) Thread.sleep(50)
      }
      assert(landed, "phase-1 insert never reached the child's sink")
      Seq[(Long, PgOutputMessage)](
        0xA01L -> Begin(0xA10L, 820454400000000L, 8),
        0xA02L -> Insert(55, TupleData(Vector(TextDatum("5"), TextDatum("eve")))),
        0xA10L -> Commit(0, 0xA10L, 0xA10L, 820454400000000L)
      ).foreach { case (lsn, m) =>
        srv.send(encodeXLogData(XLogData(lsn, lsn, 0L, PgOutputEncoder.encode(m))))
      }
    }

    try {
      val (rc, out) = runMain(
        Seq(writeConfig(base), walDir, ckptDir, outDir),
        Map(
          "GRAFT_PG_E2E" -> s"postgres://graft_user@${srv.host}:${srv.port}/appdb",
          "GRAFT_DRAIN_AND_EXIT" -> "1",
          // wide grace so the drain-to-quiet loop is still alive when the
          // test injects phase 2 (it only fires after phase 1 LANDED)
          "GRAFT_DRAIN_GRACE_MS" -> "2000",
          "GRAFT_TRIGGER_MS" -> "50",
          "SPARK_GRAFT_CPUS" -> "4"),
        whileRunning = () => injectPhase2WhenPhase1Lands())
      assert(rc == 0, s"Main exited $rc; output:\n$out")
      assert(out.contains("bootstrap: "), s"no bootstrap line in:\n$out")
      assert(out.contains("drained; events="), s"no drain line in:\n$out")

      // consumer view from the child's sink dirs (snapshot ∪ stream)
      val all = spark.read.parquet(outDir + "_snapshot")
        .unionByName(spark.read.parquet(outDir))
        .selectExpr("op", "key", "lsn").collect()
      val reads = all.filter(_.getString(0) == "READ")
      val inserts = all.filter(_.getString(0) == "INSERT")
      assert(reads.map(_.getString(1)).sorted.toSeq == Seq("1", "2", "3"),
        "every pre-slot row exactly once as READ")
      assert(reads.forall(_.getString(2) == "0/800"))
      assert(inserts.map(_.getString(1)).sorted.toSeq == Seq("4", "5"),
        "both post-slot transactions streamed exactly once")
      assert(all.length == 5)

      // the child reported durable progress back over the wire: batch 2's
      // run committed batch 1, and the farewell status (spooler.close on
      // the drain path) carried that confirmed LSN to the server. The
      // confirmed position reaches the final DATA frame (0x902) but stays
      // below the trailing COMMIT frame: a real walsender reuses a commit's
      // LSN for the next transaction's first change (PgLiveWireSpec), so
      // the boundary — and with it the confirmable position — must not
      // advance onto an unproven trailing run. At-least-once is preserved:
      // on restart the server re-sends from the last commit and consumers
      // dedup on meta.lsn.
      assert(srv.statuses.toArray.exists {
        case s: Status => s.flushed >= 0x902L
        case _ => false
      }, s"server never saw flushed >= 0/902: ${srv.statuses}")
    } finally srv.close()
  }

  test("Main refuses to start when the configured connection env is unset") {
    val base = Files.createTempDirectory("graft-main-noenv").toString
    Files.createDirectories(Paths.get(s"$base/wal"))
    val (rc, out) = runMain(
      Seq(writeConfig(base), s"$base/wal", s"$base/ckpt", s"$base/out"),
      env = Map.empty, timeoutS = 60)
    assert(rc != 0, s"must refuse to start; output:\n$out")
    assert(out.contains("refusing to start"), s"wrong failure in:\n$out")

    // a sink bootstrap that is not wire:// or wire+tls:// is refused at
    // startup too, before any connection: the source URI points at a
    // closed port, so a child that got as far as the bootstrap would say so
    val closedPort = { val s = new java.net.ServerSocket(0); try s.getLocalPort finally s.close() }
    val (rc2, out2) = runMain(
      Seq(writeConfig(base), s"$base/wal", s"$base/ckpt", s"$base/out"),
      env = Map(
        "GRAFT_PG_E2E" -> s"postgres://graft_user@127.0.0.1:$closedPort/appdb",
        "GRAFT_KAFKA_BOOTSTRAP" -> "127.0.0.1:9092"),
      timeoutS = 60)
    assert(rc2 != 0, s"must refuse a non-wire bootstrap; output:\n$out2")
    assert(out2.contains("wire://host:port") && out2.contains("wire+tls://host:port"),
      s"the failure must name the accepted forms:\n$out2")
    assert(!out2.contains("[graft] bootstrap attempt"),
      s"refused only after a connection attempt:\n$out2")
  }
}
