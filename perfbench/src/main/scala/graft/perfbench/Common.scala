package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Clock, /proc readers, raw-result output and the engine child process —
  * the plumbing every workload shares. */
object Common {
  val mapper = new ObjectMapper()

  /** Epoch microseconds on the monotonic clock: one wall-clock anchor taken
    * at start, then nanoTime deltas, so arrival stamps never jump. */
  private val anchorUs = System.currentTimeMillis() * 1000L
  private val anchorNs = System.nanoTime()
  def nowUs(): Long = anchorUs + (System.nanoTime() - anchorNs) / 1000L

  private val t0Ns = System.nanoTime()
  /** A progress line in the run's log, stamped with seconds since start. */
  def log(msg: String): Unit =
    println(f"[perfbench ${(System.nanoTime() - t0Ns) / 1e9}%7.2f] $msg")

  def nproc: Int = Runtime.getRuntime.availableProcessors()

  def loadAvg(): Double =
    Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble

  /** utime + stime of a process, in clock ticks. */
  def cpuTicks(pid: Long): Long =
    statTicks(Files.readString(Paths.get(s"/proc/$pid/stat")))

  /** CPU a JVM spends on its own work, in clock ticks: the process's
    * utime + stime minus what its JIT compiler threads used. In a run of a
    * few tens of seconds the C1/C2 compiler threads take about half of the
    * engine's CPU, at points that differ from run to run; a long-running
    * engine pays that once. A compiler thread that exits keeps its last
    * sampled ticks, so sample at least at each measured boundary. */
  final class AppCpu(pid: Long) {
    private val jit = scala.collection.mutable.Map.empty[Long, Long]
    private val tasks = Paths.get(s"/proc/$pid/task")

    def ticks(): Long = synchronized {
      val threads = Files.list(tasks)
      try threads.iterator().asScala.foreach { t =>
        try {
          val stat = Files.readString(t.resolve("stat"))
          val comm = stat.substring(stat.indexOf('(') + 1, stat.lastIndexOf(')'))
          if (AppCpu.isJit(comm)) jit(t.getFileName.toString.toLong) = statTicks(stat)
        } catch { case _: java.io.IOException => () } // the thread exited
      } finally threads.close()
      cpuTicks(pid) - jit.values.sum
    }
  }

  object AppCpu {
    /** HotSpot's compiler and code-cache sweeper threads (names cut to
      * the 15 characters /proc keeps). */
    def isJit(comm: String): Boolean =
      comm.startsWith("C1 CompilerThre") || comm.startsWith("C2 CompilerThre") ||
        comm.startsWith("Sweeper thread")
  }

  private def statTicks(stat: String): Long = {
    val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
    f(11).toLong + f(12).toLong // fields 14 and 15 of proc(5)
  }

  def selfPid: Long = ProcessHandle.current().pid()

  /** A /proc/<pid>/status field in kB (VmHWM, VmRSS). */
  def statusKb(pid: Long, field: String): Long =
    Files.readAllLines(Paths.get(s"/proc/$pid/status")).asScala
      .find(_.startsWith(field + ":"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)

  /** The session `graft.Main` and `graft.Verify` build: local[nproc],
    * shuffle partitions = nproc, the 64k object-agg threshold, UTC,
    * nanosAsLong and the engine's extensions. */
  def engineSession(): org.apache.spark.sql.SparkSession = {
    val cpus = nproc.toString
    val spark = org.apache.spark.sql.SparkSession.builder().appName("graft")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def freePort(): Int = {
    val s = new java.net.ServerSocket(0)
    try s.getLocalPort finally s.close()
  }

  /** Raw results: a JSON object of scalars, lists and nested maps built from
    * Scala values; the Python side turns it into metrics. */
  def toJava(v: Any): AnyRef = v match {
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case a: Array[_] => a.toSeq.map(toJava).asJava
    case o: Option[_] => o.map(toJava).orNull
    case x: AnyRef => x
    case x => x.asInstanceOf[AnyRef]
  }

  def writeJson(path: Path, v: Any): Unit =
    mapper.writerWithDefaultPrettyPrinter().writeValue(path.toFile, toJava(v))

  /** Module opens Spark 4 needs on JDK 17 outside spark-submit (the same
    * list the engine's build forks its JVMs with). */
  val addOpens: Seq[String] = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  /** Spawn a JVM on this process's classpath with a clean environment (no
    * inherited GRAFT_/SPARK_ settings), scratch dirs under `dir`, and its
    * output drained to `dir/<name>.log`. */
  def spawnJvm(name: String, mainClass: String, args: Seq[String],
      env: Map[String, String], dir: Path, xmx: String,
      sysProps: Map[String, String] = Map.empty): Process = {
    val tmp = dir.resolve("tmp"); Files.createDirectories(tmp)
    val javaBin = Paths.get(sys.props("java.home"), "bin", "java").toString
    val props = (Map(
      "java.io.tmpdir" -> tmp.toString,
      "spark.local.dir" -> tmp.toString,
      "spark.ui.enabled" -> "false",
      "spark.sql.warehouse.dir" -> dir.resolve("warehouse").toString,
      "derby.system.home" -> tmp.toString) ++ sysProps)
      .map { case (k, v) => s"-D$k=$v" }
    val cmd = Seq(javaBin) ++ addOpens ++ Seq(s"-Xmx$xmx") ++ props ++
      Seq("-cp", sys.props("java.class.path"), mainClass) ++ args
    val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
      .redirectOutput(dir.resolve(s"$name.log").toFile)
      .directory(dir.toFile)
    val e = pb.environment()
    e.keySet().removeIf(k => k.startsWith("GRAFT_") || k.startsWith("SPARK_"))
    e.put("SPARK_GRAFT_CPUS", nproc.toString)
    env.foreach { case (k, v) => e.put(k, v) }
    val p = pb.start()
    children.add(p)
    p
  }

  private val children = new java.util.concurrent.ConcurrentLinkedQueue[Process]()
  Runtime.getRuntime.addShutdownHook(new Thread(() => children.forEach(p =>
    if (p.isAlive) { p.destroyForcibly(); p.waitFor() }), "perfbench-reaper"))

  /** Kill a child and wait for it to end. Measurements are taken before
    * this, and a killed engine is the crash case at-least-once must survive,
    * so there is nothing to gain from a graceful stop. */
  def stop(p: Process): Unit = {
    p.destroyForcibly(); p.waitFor()
    children.remove(p)
  }

  def httpGet(port: Int, path: String): String = {
    val c = new java.net.URL(s"http://127.0.0.1:$port$path").openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    c.setConnectTimeout(2000); c.setReadTimeout(5000)
    try new String(c.getInputStream.readAllBytes(), "UTF-8")
    finally c.disconnect()
  }

  /** A counter from the engine's Prometheus text, or -1 when absent. */
  def promValue(text: String, name: String): Long =
    text.linesIterator.find(_.startsWith(name + " "))
      .map(_.split(" ")(1).toLong).getOrElse(-1L)

  def waitUntil(timeoutMs: Long, pollMs: Long = 2)(cond: => Boolean): Boolean = {
    val end = System.nanoTime() + timeoutMs * 1000000L
    while (!cond) {
      if (System.nanoTime() > end) return false
      Thread.sleep(pollMs)
    }
    true
  }
}
