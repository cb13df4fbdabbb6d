package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable

/** suite: `SparkEntry.queries` at sf0.1, each materialized to a noop sink in
  * a seed-permuted order, with a result fingerprint checked per query. */
object Suite {
  /** Every Stride-th query of each family, in name order: the whole
    * registry (~165 s on 4 cores) does not fit one run's time budget, and a
    * per-family stride keeps every family in the set (README.md). */
  val Stride = 20
  val Tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The engine's session plus registration of the fixture tables;
    * returns (session, seconds taken). */
  def setup(sfDir: String): (SparkSession, Double) = {
    val t0 = System.nanoTime()
    val spark = Common.engineSession()
    Tables.foreach { t =>
      val p = s"$sfDir/$t.parquet"
      if (new java.io.File(p).exists) spark.read.parquet(p).createOrReplaceTempView(t)
    }
    (spark, (System.nanoTime() - t0) / 1e9)
  }

  /** Order-independent content hash input: floats rendered to 9 significant
    * digits, arrays and maps sorted, recursively. */
  private def norm(c: Column, t: DataType): Column = t match {
    case FloatType | DoubleType =>
      when(c.isNull, lit(null)).otherwise(format_string("%.8e", c.cast(DoubleType) + lit(0.0)))
    case ArrayType(e, _) => array_sort(transform(c, x => norm(x, e)))
    case MapType(k, v, _) => norm(map_entries(c),
      ArrayType(StructType(Seq(StructField("key", k), StructField("value", v)))))
    case StructType(fs) =>
      when(c.isNull, lit(null)).otherwise(
        struct(fs.map(f => norm(c.getField(f.name), f.dataType).as(f.name)).toSeq: _*))
    case _ => c
  }

  def fingerprinted(df: DataFrame, obs: Observation): DataFrame = {
    val cols = df.schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
      norm(df.col(s"`${f.name}`"), f.dataType).as(s"c$i") }
    df.observe(obs, count(lit(1)).as("rows"),
      coalesce(sum(pmod(xxhash64(cols: _*), lit(2147483647L))), lit(0L)).as("hash"))
  }

  final case class Outcome(name: String, wallS: Double, cpuTicks: Long,
      fingerprint: Option[(Long, Long)], error: Option[String])

  private lazy val cpu = new Common.AppCpu(Common.selfPid)

  /** Run one query: build, materialize to noop, read the fingerprint. */
  def runQuery(spark: SparkSession, name: String, sfDir: String): Outcome = {
    val fn = graft.SparkEntry.queries(name)
    val c0 = cpu.ticks()
    val t0 = System.nanoTime()
    try {
      val obs = Observation(s"fp_$name")
      fingerprinted(fn(spark, sfDir), obs).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      val m = obs.get
      Outcome(name, wall, cpu.ticks() - c0, Some(
        (m("rows").asInstanceOf[Long], m("hash").asInstanceOf[Long])), None)
    } catch { case e: Throwable =>
      Outcome(name, (System.nanoTime() - t0) / 1e9,
        cpu.ticks() - c0, None, Some(e.toString.take(300)))
    } finally graft.util.Checkpoints.releaseOwned(spark)
  }

  def selected: Vector[String] =
    graft.SparkEntry.queries.keys.toVector.sorted.groupBy(Families.of)
      .values.flatMap(_.zipWithIndex.collect { case (q, i) if i % Stride == 0 => q })
      .toVector.sorted

  def run(a: Args): Map[String, Any] = {
    // one cold set-up per run: a second one needs a fresh JVM (~11 s), which
    // the run budget cannot carry (README.md)
    val (spark, setupS) = setup(a.sfDir)
    // one untimed pass first, in its own seed-permuted order: a query's
    // first run executes cold code, and its CPU then depends on where the
    // order puts it (graph_bfs_levels used 4.4-11.8 CPU-s cold)
    val rnd = new scala.util.Random(a.seed)
    Common.log("set up")
    val warmup = rnd.shuffle(selected).map(q => runQuery(spark, q, a.sfDir))
    Common.log("warm-up pass done")
    val trace = if (a.trace) Some(new SuiteTrace(spark)) else None
    val order = rnd.shuffle(selected)
    val outcomes = order.map { q =>
      trace.fold(runQuery(spark, q, a.sfDir))(_.around(q)(runQuery(spark, q, a.sfDir)))
    }
    Common.log("timed pass done")
    val held = trace.map(_.heldMaxMb)
    trace.foreach(_.finish(a.runDir))
    val recorded = Common.mapper.readTree(a.fingerprints.toFile).path("queries")
    Map(
      "warmup_failed" -> warmup.filter(o => o.error.isDefined ||
        !Option(recorded.get(o.name)).exists(n => o.fingerprint.contains(
          (n.get(0).asLong(), n.get(1).asLong())))).map(_.name),
      "setup_s" -> Seq(setupS),
      "order" -> order,
      "queries" -> outcomes.map { o =>
        val fp = o.fingerprint.map { case (r, h) => Seq(r, h) }
        val rec = Option(recorded.get(o.name)).map(n => Seq(n.get(0).asLong(), n.get(1).asLong()))
        Map("name" -> o.name, "wall_s" -> o.wallS, "cpu_ticks" -> o.cpuTicks,
          "fingerprint" -> fp, "recorded" -> rec, "error" -> o.error)
      },
      "rss_hwm_kb" -> Common.statusKb(Common.selfPid, "VmHWM"),
      "checkpoint_mb_held_max" -> held)
  }

  /** Fingerprint every query once (sequentially, name order) and write the
    * reference file the suite checks against. */
  def record(a: Args): Map[String, Any] = {
    val (spark, _) = setup(a.sfDir)
    val out = graft.SparkEntry.queries.keys.toVector.sorted.map { q =>
      val o = runQuery(spark, q, a.sfDir)
      Common.log(f"$q%-40s ${o.wallS}%8.2f s ${o.fingerprint.getOrElse(o.error)}")
      q -> o
    }
    val node = Common.mapper.createObjectNode()
    node.put("data", a.sfDir.split("/").last)
    val qs = node.putObject("queries")
    out.foreach { case (q, o) => o.fingerprint.foreach { case (r, h) =>
      qs.putArray(q).add(r).add(h) } }
    Common.mapper.writerWithDefaultPrettyPrinter().writeValue(a.fingerprints.toFile, node)
    Map("wall_s" -> out.map { case (q, o) => q -> o.wallS }.toMap,
      "errors" -> out.collect { case (q, o) if o.error.isDefined => q -> o.error.get }.toMap)
  }
}

/** The traced suite run: per query, a span with the planning phases and the
  * Spark jobs under it, and task-level totals from a SparkListener. */
final class SuiteTrace(spark: SparkSession) {
  val spans = new Spans
  private var current = 0
  private var currentName = ""
  private val totals = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  private val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private var heldMax = 0.0

  private val listener = new SparkListener {
    override def onJobEnd(e: SparkListenerJobEnd): Unit = totals.synchronized {
      totals("jobs") += 1
      jobStart.remove(e.jobId).foreach(t0 =>
        spans.add("queries.job", current, currentName, t0 * 1000, e.time * 1000))
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = totals.synchronized {
      jobStart(e.jobId) = e.time }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      totals.synchronized { totals("stages") += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = totals.synchronized {
      totals("tasks") += 1
      taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      val m = e.taskMetrics
      if (m != null) {
        totals("executor_run_ms") += m.executorRunTime
        totals("shuffle_read_mb") += m.shuffleReadMetrics.totalBytesRead / 1e6
        totals("shuffle_write_mb") += m.shuffleWriteMetrics.bytesWritten / 1e6
        totals("spill_mb") += (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6
      }
    }
  }
  private val jobStart = mutable.Map.empty[Int, Long]
  spark.sparkContext.addSparkListener(listener)

  private val qeListener = new org.apache.spark.sql.util.QueryExecutionListener {
    override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
        d: Long): Unit = phases(qe)
    override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
        e: Exception): Unit = phases(qe)
    private def phases(qe: org.apache.spark.sql.execution.QueryExecution): Unit =
      qe.tracker.phases.foreach { case (phase, s) =>
        totals.synchronized(totals(s"${phase}_ms") += s.durationMs)
        spans.add(s"queries.$phase", current, currentName, s.startTimeMs * 1000, s.endTimeMs * 1000)
      }
  }
  spark.listenerManager.register(qeListener)

  /** Time one query as a span; tasks and jobs that ran inside it become
    * child spans (jobs) and the driver gap (wall with no task running). */
  def around[T](name: String)(body: => T): T = {
    currentName = name
    spans.span(s"queries.${Families.of(name)}", 0, name) { id =>
      current = id
      val t0 = System.currentTimeMillis()
      taskIntervals.synchronized(taskIntervals.clear())
      try body
      finally {
        org.apache.spark.ListenerDrain(spark.sparkContext)
        val t1 = System.currentTimeMillis()
        val busy = totals.synchronized(Families.unionMs(taskIntervals.toSeq, t0, t1))
        totals.synchronized(totals("driver_gap_ms") += (t1 - t0) - busy)
        heldMax = math.max(heldMax,
          spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1e6)
      }
    }
  }

  def heldMaxMb: Double = heldMax

  def finish(dir: java.nio.file.Path): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    spans.write(dir.resolve("spans.jsonl"))
    Common.writeJson(dir.resolve("suite_layers.json"), totals.toMap)
  }
}

object Families {
  /** Query family from the registry name's prefix. */
  def of(q: String): String = q.takeWhile(_ != '_')

  /** Milliseconds of [t0, t1] covered by at least one interval. */
  def unionMs(iv: Seq[(Long, Long)], t0: Long, t1: Long): Long = {
    var covered = 0L; var lo = -1L; var hi = -1L
    iv.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (a > hi) { if (hi > lo) covered += hi - lo; lo = a; hi = b }
        else hi = math.max(hi, b)
      }
    if (hi > lo) covered += hi - lo
    covered
  }
}
