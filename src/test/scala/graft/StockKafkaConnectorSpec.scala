package graft

import org.scalatest.funsuite.AnyFunSuite

/** Self-closing smoke for the ONE carried environment boundary: the stock
  * `format("kafka")` connector line has never executed because this
  * container ships no kafka jars (the produce path itself — wire format
  * v2, CRC32C, murmur2 partitioning, delivery barrier — runs e2e against
  * the scripted broker in KafkaWireSpec and in the benchmark's CDC
  * workloads).
  *
  * This spec makes the gap close WITHOUT a round of work the moment the
  * environment provides the pieces: it runs the real stock writer iff
  * (a) the spark-sql-kafka provider class is on the classpath AND (b) a
  * reachable broker is configured via GRAFT_KAFKA_BOOTSTRAP — and cancels
  * with a precise reason otherwise (the HarnessLifecycleSpec
  * skip-without-binaries convention). In this container it cancels at (a);
  * an environment with the jars but no broker cancels at (b); with both,
  * the write must succeed and the test goes green with no code change.
  */
class StockKafkaConnectorSpec extends AnyFunSuite {

  private def providerPresent: Boolean =
    try { Class.forName("org.apache.spark.sql.kafka010.KafkaSourceProvider"); true }
    catch { case _: ClassNotFoundException => false }

  test("stock format(\"kafka\") batch write runs when jars + broker exist") {
    assume(providerPresent,
      "spark-sql-kafka provider not on the classpath (no kafka jars in " +
        "this container — the carried boundary; KafkaWireSpec covers the " +
        "wire produce path)")
    val bootstrap = sys.env.get("GRAFT_KAFKA_BOOTSTRAP")
    assume(bootstrap.isDefined,
      "kafka jars present but no broker configured — set " +
        "GRAFT_KAFKA_BOOTSTRAP=host:port to run the stock-connector smoke")
    val spark = SparkTestBase.spark
    import spark.implicits._
    // the same (key, value, topic) shape FramesSink's kafkaFrame rows use;
    // a successful batch write through the stock DSv2 provider closes the
    // last missing inventory line (reference src/config/config.zig sinks)
    Seq(("k1", """{"op":"c","data":{"id":1}}"""),
        ("k2", """{"op":"c","data":{"id":2}}"""))
      .toDF("key", "value")
      .selectExpr("CAST(key AS BINARY) AS key", "CAST(value AS BINARY) AS value")
      .write.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap.get)
      .option("topic", "graft.smoke")
      .save()
  }
}
