package graft

import graft.operators.Routing
import graft.sink.FrameProducer
import graft.source.wal.WalFixture
import graft.streaming.StreamingPipeline
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

/** K1/K2 delivery semantics without a broker, via the [[FrameProducer]]
  * seam: fail-fast on produce error → restart from checkpoint → redelivery
  * → consumer-side dedup collapse (the reference's contract,
  * src/sink/kafka/producer.zig:430-502). Bad security config is rejected
  * at parse time by `WireEndpoint.parse` (KafkaWireTlsSpec,
  * KafkaWireSaslSpec). */
class KafkaDeliverySpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  /** Delivers every batch to a parquet "topic log" (append — duplicates
    * VISIBLE, like a real topic), then fails the epoch the first `failures`
    * times AFTER delivering: the delivered-but-unconfirmed hazard that
    * at-least-once exists to survive. */
  private final class FlakyProducer(logDir: String, failures: Int)
      extends FrameProducer {
    val produceCalls = new AtomicInteger(0)
    override def produce(shaped: DataFrame): Unit = {
      shaped.select("topic", "key", "value", "lsn")
        .write.mode("append").parquet(logDir)
      if (produceCalls.incrementAndGet() <= failures)
        throw new RuntimeException("injected: broker unavailable after send")
    }
  }

  test("produce failure fails the epoch; restart redelivers; lsn dedup collapses to exactly-once") {
    val walDir = Files.createTempDirectory("graft-kafka-wal").toString
    val logDir = Files.createTempDirectory("graft-kafka-log").toString
    val ckpt = Files.createTempDirectory("graft-kafka-ckpt").toString
    val seen = scala.collection.mutable.Set.empty[String]
    val events = (1L to 80L).map(i => WalFixture.Ev(i,
      1700000000000000L + i * 1000000L, i % 5,
      Seq("click", "purchase", "signup", "view")(i.toInt % 4), i * 0.5, "{}"))
    graft.source.wal.WalLog.write(
      java.nio.file.Paths.get(walDir, "00000000.wal"),
      events.iterator.flatMap(e => WalFixture.frames(e, seen)))

    val flaky = new FlakyProducer(logDir, failures = 1)
    def run(): Unit = {
      val q = StreamingPipeline.start(spark, walDir, Routing.fixtureStreams,
        ckpt, outDir = logDir + "-unused", kafkaBootstrap = None,
        triggerMs = 25L, maxEventsPerBatch = 1000, sliceEvents = 16,
        producer = Some(flaky))
      try q.processAllAvailable()
      finally q.stop()
    }

    // first run: the batch is DELIVERED, then the epoch fails → query dies
    // loudly (fail-fast, no silent drop)
    val ex = intercept[StreamingQueryException] { run() }
    assert(ex.getMessage.contains("injected") ||
      Option(ex.getCause).exists(_.getMessage.contains("injected")))

    // restart from the same checkpoint: the unconfirmed batch REDELIVERS
    run()
    assert(flaky.produceCalls.get() >= 2, "restart must re-produce the batch")

    val log = spark.read.parquet(logDir)
    val total = log.count()
    val distinctByLsn = log.dropDuplicates("lsn").count()
    // duplicates exist on the wire (that's at-least-once redelivery)...
    assert(total > distinctByLsn, s"expected redelivered duplicates, log=$total")
    // ...and consumer-side dedup on meta.lsn collapses to exactly the
    // routed event set, value-identical per lsn
    val perLsnValues = log.groupBy("lsn")
      .agg(countDistinct("value").as("nv"))
      .filter(col("nv") > 1).count()
    assert(perLsnValues == 0, "redelivered frames must be byte-identical")
    // the deduped count equals one delivery of every routed frame
    val onceMore = Files.createTempDirectory("graft-kafka-once").toString
    val ckpt2 = Files.createTempDirectory("graft-kafka-ckpt2").toString
    val clean = new FlakyProducer(onceMore, failures = 0)
    val q2 = StreamingPipeline.start(spark, walDir, Routing.fixtureStreams,
      ckpt2, outDir = onceMore + "-unused", kafkaBootstrap = None,
      triggerMs = 25L, maxEventsPerBatch = 1000, sliceEvents = 16,
      producer = Some(clean))
    try q2.processAllAvailable() finally q2.stop()
    assert(distinctByLsn == spark.read.parquet(onceMore).count())
  }
}
