package graft

import graft.operators.Routing
import graft.source.wal.{WalFixture, WalLog}
import graft.streaming.MultiSlot
import graft.streaming.MultiSlot.SlotSpec
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Multi-slot ingest: N WAL dirs drain as N concurrent streaming queries in
  * one session, with per-slot commit isolation and a free union view. */
class MultiSlotSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def renderSlot(dir: String, ids: Range,
      types: Seq[String]): Seq[WalFixture.Ev] = {
    val evs = ids.map(i => WalFixture.Ev(i.toLong,
      1700000000000000L + i * 1000000L, i % 5,
      types(i % types.size), i * 0.5, "{}"))
    WalFixture.writeLog(evs.iterator, dir, segmentSize = 64)
    evs
  }

  private def lastCommitLsn(evs: Seq[WalFixture.Ev]): Long =
    evs.map(_.eventId * 10 + 13).max

  /** Distinct (topic, lsn) pairs a complete drain of `evs` must deliver,
    * derived from the generator: one routed frame per (event × matching
    * stream), through the pipeline's own routing join over the ops
    * `WalFixture` renders. LSNs are unique per event and each fixture
    * stream owns its topic, so the routed row count is the distinct count. */
  private def expectedFrames(evs: Seq[WalFixture.Ev]): Long = {
    import spark.implicits._
    Routing.route(
      evs.map(e => (s"public.${e.eventType}", WalFixture.opFor(e.eventId)))
        .toDF("resource", "op"),
      Routing.streamsDF(spark, Routing.fixtureStreams)).count()
  }

  test("two slots drain concurrently with isolated confirmed LSNs and sinks") {
    val walA = Files.createTempDirectory("graft-slotA-wal").toString
    val walB = Files.createTempDirectory("graft-slotB-wal").toString
    val out = Files.createTempDirectory("graft-slots-out").toString
    val ckpt = Files.createTempDirectory("graft-slots-ckpt").toString

    // disjoint resources per slot so cross-talk would be visible in a sink
    val evsA = renderSlot(walA, 1 to 150, Seq("click", "purchase"))
    val evsB = renderSlot(walB, 1 to 90, Seq("signup", "view"))
    val (lastA, lastB) = (lastCommitLsn(evsA), lastCommitLsn(evsB))

    val handles = MultiSlot.start(spark,
      Seq(SlotSpec("slot_a", walA), SlotSpec("slot_b", walB)),
      Routing.fixtureStreams, ckpt, out,
      triggerMs = 25L, maxEventsPerBatch = 50, sliceEvents = 16)
    try {
      assert(handles.forall(_.query.isActive))
      MultiSlot.drainAll(handles)

      // per-slot commit isolation: each WAL dir carries its OWN confirmed
      // LSN, each inside its own backlog's range (confirm may lag the last
      // batch — Spark commits source offsets lazily — but must never be 0
      // after a multi-batch drain, and must never leak across slots)
      val cA = handles(0).confirmed
      val cB = handles(1).confirmed
      assert(cA > 0 && cA <= lastA, s"slot_a confirmed $cA not in (0, $lastA]")
      assert(cB > 0 && cB <= lastB, s"slot_b confirmed $cB not in (0, $lastB]")
      assert(WalLog.confirmedPath(walA) != WalLog.confirmedPath(walB))

      // sinks don't cross: slot_a wrote only its resources, ditto slot_b
      val a = spark.read.parquet(s"$out/slot=slot_a")
      val b = spark.read.parquet(s"$out/slot=slot_b")
      import org.apache.spark.sql.functions.col
      assert(a.count() > 0 && b.count() > 0)
      assert(a.filter(col("resource").isin("public.signup", "public.view")).count() == 0)
      assert(b.filter(col("resource").isin("public.click", "public.purchase")).count() == 0)

      // fixture-truth delivered set: every frame each slot's generator
      // implies arrived under that slot, so a slot that drops frames fails
      Seq("slot_a" -> evsA, "slot_b" -> evsB).foreach { case (name, evs) =>
        val delivered = spark.read.parquet(s"$out/slot=$name")
          .select("topic", "lsn").distinct().count()
        val expected = expectedFrames(evs)
        assert(delivered == expected,
          s"$name delivered $delivered distinct (topic, lsn), fixture " +
            s"expects $expected")
      }

      // the union view is free: slot is a Hive-style partition column
      val union = spark.read.parquet(out)
      assert(union.columns.contains("slot"))
      assert(union.select("slot").distinct().count() == 2)
      assert(union.count() == a.count() + b.count())

      // stopping one slot leaves the other live (independent queries)
      handles(0).query.stop()
      assert(!handles(0).query.isActive && handles(1).query.isActive)
    } finally MultiSlot.stopAll(handles)
  }

  test("slot specs are validated: unique names, unique wal dirs, safe names") {
    val d1 = Files.createTempDirectory("graft-ms-v1").toString
    val d2 = Files.createTempDirectory("graft-ms-v2").toString
    intercept[IllegalArgumentException] {
      MultiSlot.start(spark, Seq(SlotSpec("x", d1), SlotSpec("x", d2)),
        Routing.fixtureStreams, "/tmp/nope", "/tmp/nope2")
    }
    intercept[IllegalArgumentException] {
      MultiSlot.start(spark, Seq(SlotSpec("x", d1), SlotSpec("y", d1)),
        Routing.fixtureStreams, "/tmp/nope", "/tmp/nope2")
    }
    intercept[IllegalArgumentException] { SlotSpec("../escape", d1) }
  }
}
