package graft

import graft.config.StreamDef
import graft.metrics.GraftMetrics
import graft.model.{ChangeEvent, Meta, Op}
import graft.operators.Routing
import graft.sink.FrameProducer
import graft.streaming.SnapshotDelivery
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** Snapshot READ events must reach the SAME destination as streamed changes:
  * through the FrameProducer in producer mode, and NEVER into the streaming
  * sink's metadata-logged outDir in stand-in mode (batch files there are
  * invisible to readers resolving through `_spark_metadata`) — plus bounded
  * driver memory via chunked delivery. */
class SnapshotDeliverySpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def readEvent(i: Long) = ChangeEvent(Op.Read, s"""{"id":$i}""",
    Meta("postgres", "public.signup", 1700000000L, ChangeEvent.lsnText(0x500L)))

  test("stand-in mode: chunked delivery to <outDir>_snapshot, never outDir") {
    val outDir = Files.createTempDirectory("graft-snapdel").toString + "/out"
    val d = new SnapshotDelivery(spark, Routing.fixtureStreams,
      producer = None, outDir, chunkRows = 10)
    (1L to 25L).foreach(i => d.emit(readEvent(i)))
    // two full chunks delivered eagerly — the driver never held 25 events
    assert(d.deliveredCount == 20)
    d.flush()
    assert(d.deliveredCount == 25)

    val snap = spark.read.parquet(d.snapshotOutDir)
    assert(snap.count() == 25)
    val row = snap.selectExpr("op", "topic", "lsn").distinct().collect()
    assert(row.map(_.getString(0)).toSet == Set("READ"))
    assert(row.map(_.getString(1)).toSet == Set("cdc.signup"))
    assert(row.map(_.getString(2)).toSet == Set("0/500"))
    // the streaming sink's own dir is untouched (no invisible batch files)
    assert(!Files.exists(Paths.get(outDir)))
  }

  test("producer mode: snapshot frames flow through the SAME FrameProducer " +
      "as streamed changes") {
    val produced = new AtomicLong(0)
    val p = new FrameProducer {
      override def produce(shaped: DataFrame): Unit =
        produced.addAndGet(shaped.count())
    }
    val outDir = Files.createTempDirectory("graft-snapdel2").toString + "/out"
    val d = new SnapshotDelivery(spark, Routing.fixtureStreams,
      producer = Some(p), outDir, chunkRows = 4)
    (1L to 9L).foreach(i => d.emit(readEvent(i)))
    d.flush()
    assert(produced.get() == 9)
    assert(!Files.exists(Paths.get(d.snapshotOutDir)),
      "producer mode must not write parquet")
  }

  test("delivered snapshot READs count in /metrics, per stream as op=read") {
    val routed = new AtomicLong(0)
    val p = new FrameProducer {
      override def produce(shaped: DataFrame): Unit =
        routed.addAndGet(shaped.count())
    }
    // two streams read public.signup; none reads public.view
    val streams = Routing.fixtureStreams :+
      StreamDef("s_audit", "public.signup", Seq("read"), "cdc.audit")
    val metrics = new GraftMetrics
    val d = new SnapshotDelivery(spark, streams, Some(p),
      Files.createTempDirectory("graft-snapdel3").toString + "/out",
      chunkRows = 10, metrics = Some(metrics))
    (1L to 25L).foreach(i => d.emit(readEvent(i)))
    d.emit(ChangeEvent(Op.Read, """{"id":1}""",
      Meta("postgres", "public.view", 1700000000L, ChangeEvent.lsnText(0x500L))))
    d.flush()
    assert(d.deliveredCount == 26)
    assert(metrics.snapshotEvents.get() == d.deliveredCount)
    val tallies = metrics.streamOpCounts.asScala.map { case (k, v) => k -> v.get() }
    assert(tallies == Map(("s_signup", "read") -> 25L, ("s_audit", "read") -> 25L))
    // the tallies count exactly the routed frames the sink received
    assert(tallies.values.sum == routed.get())
    // the streaming query's counter stays streamed changes only
    assert(metrics.eventsProcessed.get() == 0)
    val text = metrics.render
    assert(text.contains("graft_snapshot_events_total 26\n"), text)
    assert(text.contains("graft_stream_events_total{stream=\"s_audit\",op=\"read\"} 25\n"), text)
    assert(text.contains("graft_events_processed_total 0\n"), text)
  }
}
