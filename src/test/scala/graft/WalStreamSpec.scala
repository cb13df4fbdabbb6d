package graft

import graft.operators.Routing
import graft.source.wal.{WalFixture, WalLog}
import graft.streaming.StreamingPipeline
import graft.metrics.{GraftMetrics, GraftQueryListener}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** End-to-end: events fixture → pgoutput WAL bytes → DSv2 micro-batch source
  * → decode/convert → route → serialize → sink, with checkpointed offsets
  * and confirmed-LSN commit — the cdc_test.zig / snapshot_test.zig contract:
  * exact counts, no dupes, no loss. */
class WalStreamSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private lazy val walDir: String = {
    val dir = Files.createTempDirectory("graft-wal").toString
    val ev = WalFixture.eventsUs(spark, SparkTestBase.sf)
      .orderBy("event_id")
      .collect()
      .iterator
      .map(WalFixture.evFromRow)
    WalFixture.writeLog(ev, dir)
    dir
  }

  test("micro-batch WAL source delivers every change exactly once, in order") {
    val out = Files.createTempDirectory("graft-out").toString
    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    // private log copy: this test appends a nudge event (to prove the old
    // tail and fire the deferred final commit) which must not leak into the
    // shared fixture other tests count against
    val walDir = {
      val dir = Files.createTempDirectory("graft-wal-own").toString
      val ev = WalFixture.eventsUs(spark, SparkTestBase.sf)
        .orderBy("event_id").collect().iterator
        .map(WalFixture.evFromRow)
      WalFixture.writeLog(ev, dir)
      dir
    }
    val metrics = new GraftMetrics
    val listener = new GraftQueryListener(metrics)
    spark.streams.addListener(listener)
    try {
      val q = StreamingPipeline.start(spark, walDir, Routing.fixtureStreams,
        ckpt, out, kafkaBootstrap = None, triggerMs = 50L,
        maxEventsPerBatch = 1000)
      q.processAllAvailable()

      val got = spark.read.parquet(out)
      val expected = graft.queries.CdcQueries.cdcKafkaMessages._1(spark, SparkTestBase.sf)
      // exact count parity with the batch pipeline over the same fixture
      assert(got.count() == expected.count())
      // no duplicate (topic, lsn) deliveries
      assert(got.groupBy("topic", "lsn").count().filter(col("count") > 1).count() == 0)
      // payload parity with the batch pipeline: identical except the LSN,
      // which in the WAL replay is the data frame's position (event*10+2)
      // rather than the event ordinal — strip meta.lsn and compare sets
      def stripLsn(df: org.apache.spark.sql.DataFrame) = df.select(
        col("topic"),
        regexp_replace(col("value"), "\"lsn\":\"[0-9A-F/]+\"", "\"lsn\":\"\"").as("v"))
      val gotSet = stripLsn(got).distinct()
      val expSet = stripLsn(expected).distinct()
      assert(gotSet.exceptAll(expSet).count() == 0)
      assert(expSet.exceptAll(gotSet).count() == 0)
      // commit() confirmed delivered epochs (standby-status analog). Spark
      // commits source offsets for epoch N during epoch N+1, so a QUIESCENT
      // log's final epoch stays unconfirmed until new activity — and the
      // boundary itself holds below the trailing COMMIT frame (a real
      // walsender reuses that LSN for the next transaction; advancing onto
      // it loses the continuation — PgLiveWireSpec's discovery). One more
      // event proves the old tail and triggers the deferred commits.
      val seen = scala.collection.mutable.Set.empty[String]
      WalLog.write(java.nio.file.Paths.get(walDir, "99999999.wal"),
        WalFixture.frames(WalFixture.Ev(2000000L, 1700000000000000L, 1L,
          "click", 1.0, "{}"), seen))
      q.processAllAvailable()
      q.stop()
      val confirmed = WalLog.confirmed(walDir)
      assert(confirmed > 0 && confirmed <= WalLog.maxLsn(walDir))
      // observe() metrics flowed through the listener (+1 = the nudge event)
      assert(metrics.eventsProcessed.get() == expected.count() + 1)
      assert(metrics.batchesProcessed.get() > 1) // admission control split batches
      assert(metrics.live && metrics.ready)
      assert(metrics.render.contains("graft_events_processed_total"))
    } finally spark.streams.removeListener(listener)
  }

  test("restart from checkpoint resumes, not replays (at-least-once, no dupes after sink dedup)") {
    val out = Files.createTempDirectory("graft-out2").toString
    val ckpt = Files.createTempDirectory("graft-ckpt2").toString
    val q1 = StreamingPipeline.start(spark, walDir, Routing.fixtureStreams,
      ckpt, out, None, 50L)
    q1.processAllAvailable()
    q1.stop()
    val n1 = spark.read.parquet(out).count()
    // restart against the same checkpoint: nothing new to read
    val q2 = StreamingPipeline.start(spark, walDir, Routing.fixtureStreams,
      ckpt, out, None, 50L)
    q2.processAllAvailable()
    q2.stop()
    val n2 = spark.read.parquet(out).count()
    assert(n1 == n2, "restart must not re-deliver committed batches")
  }

  test("restart with a multi-batch backlog never regresses offsets or re-delivers") {
    // regression guard: a fresh stream instance scans from LSN 0; if
    // latestOffset could return an offset below the checkpointed one, Spark
    // would rewrite the offset log backwards and replay the committed
    // backlog (found in review; fixed by clamping in deserializeOffset)
    val out = Files.createTempDirectory("graft-reg-out").toString
    val ckpt = Files.createTempDirectory("graft-reg-ckpt").toString
    val q1 = StreamingPipeline.start(spark, walDir, Routing.fixtureStreams,
      ckpt, out, None, 20L, maxEventsPerBatch = 100) // many batches
    q1.processAllAvailable()
    q1.stop()
    val n1 = spark.read.parquet(out).count()
    assert(n1 > 0)
    // new source instance, same checkpoint — in-memory scan state is gone
    val q2 = StreamingPipeline.start(spark, walDir, Routing.fixtureStreams,
      ckpt, out, None, 20L, maxEventsPerBatch = 100)
    q2.processAllAvailable()
    q2.stop()
    val after = spark.read.parquet(out)
    assert(after.count() == n1, "restart re-delivered committed batches")
    assert(after.groupBy("topic", "lsn").count()
      .filter(col("count") > 1).count() == 0)
  }

  test("sliced parallel decode delivers the identical frame set (and tallies via observe)") {
    // sliceEvents splits each micro-batch into one input partition per slice
    // — decode/convert/serialize run in parallel; the delivered set, dedup
    // guarantee, and confirmed LSN must be indistinguishable from the
    // single-partition plan
    val out = Files.createTempDirectory("graft-sl-out").toString
    val ckpt = Files.createTempDirectory("graft-sl-ckpt").toString
    val metrics = new GraftMetrics
    val listener = new GraftQueryListener(metrics, Routing.fixtureStreams)
    spark.streams.addListener(listener)
    try {
      val q = StreamingPipeline.start(spark, walDir, Routing.fixtureStreams,
        ckpt, out, kafkaBootstrap = None, triggerMs = 50L,
        maxEventsPerBatch = 1000, sliceEvents = 97) // ~10 slices per batch
      q.processAllAvailable()
      q.stop()
      val got = spark.read.parquet(out)
      val expected = graft.queries.CdcQueries.cdcKafkaMessages._1(spark, SparkTestBase.sf)
      assert(got.count() == expected.count())
      assert(got.groupBy("topic", "lsn").count().filter(col("count") > 1).count() == 0)
      def stripLsn(df: org.apache.spark.sql.DataFrame) = df.select(
        col("topic"),
        regexp_replace(col("value"), "\"lsn\":\"[0-9A-F/]+\"", "\"lsn\":\"\"").as("v"))
      assert(stripLsn(got).distinct().exceptAll(stripLsn(expected).distinct()).count() == 0)
      assert(stripLsn(expected).distinct().exceptAll(stripLsn(got).distinct()).count() == 0)
      // per-(stream, op) tallies ride observe(), merged across the slice
      // partitions: each must equal the delivered per-(stream, lower(op))
      // count (so their per-stream totals equal the delivered counts too)
      val perPair = got.groupBy(col("stream"), lower(col("op"))).count().collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      var tallies = Map.empty[(String, String), Long]
      metrics.streamOpCounts.forEach((k: (String, String), v: java.util.concurrent.atomic.AtomicLong) =>
        tallies = tallies.updated(k, v.get()))
      assert(perPair.size > 1, perPair)
      assert(tallies == perPair)
    } finally spark.streams.removeListener(listener)
  }

  test("slice cuts beyond ~2x scheduler width coalesce at plan time, " +
      "below it plans are unchanged") {
    val dir = Files.createTempDirectory("graft-wal-coal").toString
    val seen = scala.collection.mutable.Set.empty[String]
    val evs = (1L to 4000L).map(i => WalFixture.Ev(i, 1700000000000000L, 1L,
      "click", 1.0, "{}"))
    WalLog.write(java.nio.file.Paths.get(dir, "00000000.wal"),
      evs.iterator.flatMap(e => WalFixture.frames(e, seen)))
    // local[4] session: defaultParallelism=4 → cap 8 partitions
    val cap = 2 * spark.sparkContext.defaultParallelism
    // fine stride: 4000/8 = 500 cuts — far past the cap
    val fine = new graft.source.wal.PgWalMicroBatchStream(dir,
      maxPerBatch = 100000, sliceEvents = 8)
    val fs = fine.initialOffset(); val fe = fine.latestOffset()
    val fineParts = fine.planInputPartitions(fs, fe)
    assert(fineParts.length <= cap,
      s"coalesced plan must respect the cap (${fineParts.length} > $cap)")
    assert(fineParts.length > 1, "coalescing must keep parallelism")
    // partitions must tile the offset range exactly (no gap, no overlap)
    val bounds = fineParts.map(_.asInstanceOf[graft.source.wal.PgWalInputPartition])
    assert(bounds.head.afterLsn == fs.asInstanceOf[graft.source.wal.LsnOffset].lsn)
    assert(bounds.last.untilLsn == fe.asInstanceOf[graft.source.wal.LsnOffset].lsn)
    bounds.sliding(2).foreach { case Array(a, b) =>
      assert(a.untilLsn == b.afterLsn, "partitions must tile contiguously")
    }
    // coarse stride under the cap: planned exactly one partition per slice
    val coarse = new graft.source.wal.PgWalMicroBatchStream(dir,
      maxPerBatch = 100000, sliceEvents = 1000) // 4 cuts → 5 ≤ cap
    val cs = coarse.initialOffset(); val ce = coarse.latestOffset()
    val coarseParts = coarse.planInputPartitions(cs, ce)
    assert(coarseParts.length >= 4 && coarseParts.length <= cap,
      s"sub-cap plan must keep its per-slice partitions (${coarseParts.length})")
  }

  test("idle stream retains at most the head boundary snapshot") {
    val dir = Files.createTempDirectory("graft-wal-idle").toString
    val seen = scala.collection.mutable.Set.empty[String]
    val evs = (1L to 64L).map(i => WalFixture.Ev(i, 1700000000000000L, 1L,
      "click", 1.0, "{}"))
    WalLog.write(java.nio.file.Paths.get(dir, "00000000.wal"),
      evs.iterator.flatMap(e => WalFixture.frames(e, seen)))
    val src = new graft.source.wal.PgWalMicroBatchStream(dir,
      maxPerBatch = 1000, sliceEvents = 8)
    val start = src.initialOffset()
    val end = src.latestOffset()
    // slice cuts pile up while the batch is being planned…
    assert(src.boundarySnapshotCount > 1)
    src.planInputPartitions(start, end)
    // …and an idle tick (nothing new admitted) collapses retention to the
    // single head boundary the next batch's start seek needs
    assert(src.latestOffset() == end)
    assert(src.boundarySnapshotCount == 1)
    // still planning-correct after the prune: an empty range plans empty
    assert(src.planInputPartitions(end, end).isEmpty)
  }
}
