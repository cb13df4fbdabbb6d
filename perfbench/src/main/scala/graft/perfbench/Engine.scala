package graft.perfbench

import com.fasterxml.jackson.databind.JsonNode
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The benchmark's stream config (perfbench/streams.json) and the routing
  * it implies, derived here without engine code: a change goes to every
  * stream whose resource is its table and whose operations include its op. */
final class StreamConfig(path: Path) {
  val root: JsonNode = Common.mapper.readTree(path.toFile)
  private val streams = root.path("streams").elements().asScala.toVector
  val topics: Vector[String] = streams.map(_.path("destination").asText()).distinct
  private val opWord = Map('I' -> "insert", 'U' -> "update", 'D' -> "delete", 'R' -> "read")

  def topicsFor(table: String, op: Char): Vector[String] = streams.filter { s =>
    s.path("resource").asText() == s"public.$table" &&
      s.path("operations").elements().asScala.exists(_.asText() == opWord(op))
  }.map(_.path("destination").asText())

  /** The engine config file: these streams, a Kafka sink, and optionally a
    * `source.postgres` block. */
  def writeEngineConfig(dest: Path, postgres: Option[(String, String, String)]): Unit = {
    val cfg = Common.mapper.createObjectNode()
    val src = cfg.putObject("source"); src.put("type", "postgres")
    postgres.foreach { case (env, slot, pub) =>
      val pg = src.putObject("postgres")
      pg.put("connection_env", env); pg.put("slot_name", slot)
      pg.put("publication_name", pub)
    }
    cfg.putObject("sink").put("type", "kafka")
    cfg.put("format", "json")
    cfg.set[JsonNode]("streams", root.path("streams"))
    Common.mapper.writeValue(dest.toFile, cfg)
  }
}

/** One `graft.Main` child: launched as users run it, delivering over the
  * Kafka wire protocol to a benchmark-hosted broker. */
final class EngineChild(val dir: Path, config: Path, broker: Broker,
    env: Map[String, String] = Map.empty) {
  Files.createDirectories(dir)
  val walDir: Path = dir.resolve("wal")
  val progressFile: Path = dir.resolve("progress.jsonl")
  val httpPort: Int = Common.freePort()
  Files.createDirectories(walDir)
  private var proc: Process = _
  var launchedUs = 0L

  def start(): this.type = {
    launchedUs = Common.nowUs()
    proc = Common.spawnJvm("engine", "graft.Main",
      Seq(config.toString, walDir.toString, dir.resolve("ckpt").toString,
        dir.resolve("out").toString),
      env ++ Map("GRAFT_KAFKA_BOOTSTRAP" -> broker.bootstrap,
        "GRAFT_HTTP_PORT" -> httpPort.toString),
      dir, EngineChild.Xmx,
      Map("spark.sql.streaming.streamingQueryListeners" -> classOf[ProgressLog].getName,
        "perfbench.progress" -> progressFile.toString))
    this
  }

  def pid: Long = proc.pid()
  def alive: Boolean = proc.isAlive
  private lazy val cpu = new Common.AppCpu(pid)
  /** The engine's CPU without its JIT compiler threads (`Common.AppCpu`). */
  def cpuTicks: Long = cpu.ticks()
  def rssHwmKb: Long = Common.statusKb(pid, "VmHWM")

  /** Seconds from launch to the first record at the broker. */
  def awaitFirstDelivery(timeoutS: Int): Double = {
    val before = broker.count
    require(Common.waitUntil(timeoutS * 1000L)(broker.count > before || !alive),
      s"engine delivered nothing within $timeoutS s; see ${dir.resolve("engine.log")}")
    require(alive, s"engine exited during start-up; see ${dir.resolve("engine.log")}")
    (broker.firstArrivalUs.get - launchedUs) / 1e6
  }

  /** The engine's own delivered-event counter from its /metrics endpoint,
    * polled until it reaches `target` (progress reports land just after
    * delivery) or `timeoutMs` passes. */
  def eventsProcessed(target: Long, timeoutMs: Long = 10000): Long = {
    var v = -1L
    Common.waitUntil(timeoutMs, 100) {
      v = try Common.promValue(Common.httpGet(httpPort, "/metrics"),
        "graft_events_processed_total") catch { case _: java.io.IOException => -1L }
      v >= target
    }
    v
  }

  def stop(): Unit = if (proc != null) Common.stop(proc)
}

object EngineChild {
  /** Heap for the engine JVM, sized for a 4-core, shared-memory box. */
  val Xmx = "2g"
}
