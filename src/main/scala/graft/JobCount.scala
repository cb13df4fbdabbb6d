package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted}
import java.util.concurrent.atomic.AtomicLong

/** Optimization-round measurement tool (r20): count Spark JOBS and STAGES
  * per declared query — the driver-side scheduling constant the r19
  * verdict flagged. Not part of the driver contract; pairs with PlanDump
  * the way `.explain` pairs with the benchmark (evidence, not timing).
  *
  * Usage: runMain graft.JobCount <sfDir> [q1,q2,...]
  * Env:   GRAFT_EAGER_CHECKPOINT=1 for the before/after comparison.
  */
object JobCount {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val onlySet = if (args.length > 1) Some(args(1).split(",").toSet) else None
    val spark = GraftSession.getOrCreate()
    val jobs = new AtomicLong; val stages = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        stages.incrementAndGet()
    })
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => onlySet.forall(_.contains(n)) }
    val rows = ordered.map { case (name, fn) =>
      val j0 = jobs.get; val s0 = stages.get
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val secs = (System.nanoTime() - t0) / 1e9
      graft.util.Checkpoints.releaseOwned(spark)
      // listener events are async (the bus is private[spark]) — a short
      // settle suffices for a counting tool
      Thread.sleep(250)
      (name, jobs.get - j0, stages.get - s0, secs)
    }
    val total = (rows.map(_._2).sum, rows.map(_._3).sum)
    println(rows.map { case (n, j, st, s) =>
      f"""{"q":"$n","jobs":$j,"stages":$st,"s":$s%.3f}"""
    }.mkString("[", ",", "]"))
    System.err.println(
      s"[jobcount] ${rows.size} queries: ${total._1} jobs, ${total._2} stages")
    spark.stop()
  }
}
