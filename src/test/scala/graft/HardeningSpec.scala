package graft

import graft.operators.Routing
import graft.source.pgoutput.{PgOutputDecodeException, PgOutputDecoder, PgOutputEncoder, PgOutputMessage}
import graft.source.pgoutput.PgOutputMessage._
import graft.source.pgoutput.PgOutputMessages._
import graft.streaming.StreamingPipeline
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class HardeningSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  // ---- decoder fuzz: graceful errors, never wrong results ----
  test("decoder: every truncation of valid messages raises a decode error or skips") {
    val msgs: Seq[PgOutputMessage] = Seq(
      Begin(1L, 2L, 3),
      Commit(0, 1L, 2L, 3L),
      Relation(7, "public", "users", 'f'.toByte, Vector(
        ColumnDef(1, "id", 23, -1), ColumnDef(0, "name", 25, -1))),
      Insert(7, TupleData(Vector(TextDatum("1"), TextDatum("x")))),
      Update(7, Some(TupleData(Vector(TextDatum("1"), NullDatum))),
        TupleData(Vector(TextDatum("2"), ToastDatum))),
      Delete(7, TupleData(Vector(TextDatum("1"), BinaryDatum(Array(1, 2))))))
    msgs.foreach { m =>
      val full = PgOutputEncoder.encode(m)
      assert(PgOutputDecoder.decode(full) == m)
      (0 until full.length).foreach { cut =>
        try PgOutputDecoder.decode(full.take(cut)) match {
          case _: Skipped => () // a prefix that happens to be T/Y/O alone
          case other =>
            // a shorter VALID message is acceptable only if it parses cleanly
            assert(other != null)
        } catch {
          case _: PgOutputDecodeException => () // expected
        }
      }
    }
  }

  test("decoder: random byte soup raises decode errors, never hangs or corrupts") {
    val rnd = new scala.util.Random(7)
    (1 to 2000).foreach { _ =>
      val buf = Array.fill(rnd.nextInt(64))(rnd.nextInt(256).toByte)
      try PgOutputDecoder.decode(buf) match {
        case m => assert(m != null)
      } catch { case _: PgOutputDecodeException => () }
    }
  }

  // ---- fail-fast: corrupt frame fails the query (reference design #2:
  // crash → restart → slot resends; never skip silently) ----
  test("a corrupt WAL frame fails the streaming query instead of skipping") {
    import graft.source.wal.{WalFixture, WalLog}
    val walDir = Files.createTempDirectory("graft-bad-wal").toString
    val ev = WalFixture.eventsUs(spark, SparkTestBase.sf)
      .orderBy("event_id").limit(50).collect().iterator
      .map(WalFixture.evFromRow)
    WalFixture.writeLog(ev, walDir)
    // append a junk frame past the valid ones, PROVEN by a higher-LSN
    // successor — an unproven tail run is (correctly) withheld from
    // batches, so a bare trailing junk frame would never reach a decoder
    WalLog.write(java.nio.file.Paths.get(walDir, "00000001.wal"),
      Seq(WalLog.Frame(999999L, Array[Byte]('Z', 1, 2, 3)),
        WalLog.Frame(1000999L, Array[Byte]('Z', 9, 9, 9))))
    val out = Files.createTempDirectory("graft-bad-out").toString
    val ckpt = Files.createTempDirectory("graft-bad-ckpt").toString
    val q = StreamingPipeline.start(spark, walDir, Routing.fixtureStreams,
      ckpt, out, None, 50L)
    val ex = intercept[Exception](q.processAllAvailable())
    assert(ex.getMessage.contains("unknown message tag") ||
      (ex.getCause != null))
    q.stop()
  }

  // ---- at-least-once resend: a slot resend replays the SAME LSNs; the
  // source's monotone offsets mean re-delivered positions are never re-read,
  // so consumers see no duplicates (the reference's check-gaps.sh contract) ----
  test("re-appended WAL content with already-processed LSNs is not re-delivered") {
    import graft.source.wal.{WalFixture, WalLog}
    val walDir = Files.createTempDirectory("graft-resend-wal").toString
    def events(n: Int) = WalFixture.eventsUs(spark, SparkTestBase.sf)
      .orderBy("event_id").limit(n).collect().iterator
      .map(WalFixture.evFromRow)
    WalFixture.writeLog(events(100), walDir)
    val out = Files.createTempDirectory("graft-resend-out").toString
    val ckpt = Files.createTempDirectory("graft-resend-ckpt").toString
    val q = StreamingPipeline.start(spark, walDir, Routing.fixtureStreams,
      ckpt, out, None, 50L)
    q.processAllAvailable()
    val n1 = spark.read.parquet(out).count()
    // "resend": write the same 100 events again as a NEW segment (same LSNs)
    val seen = scala.collection.mutable.Set.empty[String]
    graft.source.wal.WalLog.write(
      java.nio.file.Paths.get(walDir, "00000009.wal"),
      events(100).flatMap(e => WalFixture.frames(e, seen)).toSeq)
    q.processAllAvailable()
    q.stop()
    val after = spark.read.parquet(out)
    assert(after.count() == n1, "resent LSNs must not duplicate deliveries")
    assert(after.groupBy("lsn").count().filter(col("count") > 1).count() == 0)
  }
}
