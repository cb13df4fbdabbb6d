package graft

import graft.operators.Routing
import graft.source.wal.{WalFixture, WalLog}
import graft.streaming.StreamingPipeline
import graft.metrics.{GraftMetrics, GraftQueryListener}
import java.nio.file.Files

/** Runnable end-to-end demo of the streaming CDC path: renders the events
  * fixture as pgoutput WAL bytes, replays it through the DSv2 micro-batch
  * source, routes + serializes to per-topic sinks, and reports metrics and
  * the confirmed LSN. Usage: runMain graft.StreamDemo [sfDir] */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.getOrCreate()

    val walDir = Files.createTempDirectory("graft-demo-wal").toString
    val outDir = Files.createTempDirectory("graft-demo-out").toString
    val ckptDir = Files.createTempDirectory("graft-demo-ckpt").toString

    val t0 = System.nanoTime()
    val ev = WalFixture.eventsUs(spark, sfDir).orderBy("event_id")
      .collect().iterator
      .map(WalFixture.evFromRow)
    val nEvents = WalFixture.writeLog(ev, walDir)
    println(f"[demo] rendered $nEvents events as pgoutput WAL in ${(System.nanoTime() - t0) / 1e9}%.2f s at $walDir")

    val metrics = new GraftMetrics
    spark.streams.addListener(new GraftQueryListener(metrics, Routing.fixtureStreams))
    val t1 = System.nanoTime()
    val http = new graft.metrics.MetricsHttp(metrics, 0)
    val port = http.start()
    println(s"[demo] metrics at http://localhost:$port/metrics")
    val q = StreamingPipeline.start(spark, walDir, Routing.fixtureStreams,
      ckptDir, outDir, kafkaBootstrap = None, triggerMs = 100L,
      sliceEvents = 2000)
    q.processAllAvailable()
    q.stop()
    val secs = (System.nanoTime() - t1) / 1e9

    val out = spark.read.parquet(outDir)
    val n = out.count()
    println(f"[demo] delivered $n kafka frames in $secs%.2f s " +
      f"(${metrics.eventsProcessed.get() / secs}%.0f events/s), " +
      s"batches=${metrics.batchesProcessed.get()}, " +
      s"confirmed_lsn=${WalLog.confirmed(walDir)}/${WalLog.maxLsn(walDir)}")
    out.groupBy("topic").count().orderBy("topic").show(false)
    println(metrics.render)
    http.stop()
    spark.stop()
  }
}
