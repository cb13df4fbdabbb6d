package graft
import graft.operators.Routing
import graft.source.wal.{WalFixture, WalLog}
import graft.streaming.StreamingPipeline
import java.nio.file.{Files, Paths}
/** Sustained-drain scale check: replay the sf0.1 events N times (default
  * 10: 1M events, shifted LSNs/ids) and time the drain at a given
  * micro-batch size (default 100k frames).
  *
  * {{{
  *   Test/runMain graft.DrainScale [copies] [maxEventsPerBatch]
  * }}}
  */
object DrainScale {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.getOrCreate()
    val rows = WalFixture.eventsUs(spark, "/root/testdata/sf0.1")
      .orderBy("event_id").collect()
    val walDir = Files.createTempDirectory("scale-wal").toString
    val copies = args.headOption.map(_.toInt).getOrElse(10)
    var n = 0L
    (0 until copies).foreach { c =>
      val seen = scala.collection.mutable.Set.empty[String]
      val shift = c.toLong * 200000L
      WalLog.write(Paths.get(walDir, f"$c%08d.wal"),
        rows.iterator.flatMap { r =>
          val ev = WalFixture.evFromRow(r).copy(eventId = r.getLong(0) + shift)
          WalFixture.frames(ev, seen)
        })
      n += rows.length
    }
    println(s"[scale] rendered $n events")
    val out = Files.createTempDirectory("scale-out").toString
    val ckpt = Files.createTempDirectory("scale-ckpt").toString
    val t0 = System.nanoTime()
    val q = StreamingPipeline.start(spark, walDir, Routing.fixtureStreams,
      ckpt, out, None, 0L, maxEventsPerBatch = args.lift(1).map(_.toInt).getOrElse(100000))
    q.processAllAvailable()
    q.stop()
    val s = (System.nanoTime() - t0) / 1e9
    println(f"[scale] drained $n events in $s%.1f s = ${n / s}%.0f events/s (batches=${args.lift(1).getOrElse("100000")} frames, incl. startup)")
    println(s"[scale] confirmed=${WalLog.confirmed(walDir)} max=${WalLog.maxLsn(walDir)} frames out=${spark.read.parquet(out).count()}")
    spark.stop()
  }
}
