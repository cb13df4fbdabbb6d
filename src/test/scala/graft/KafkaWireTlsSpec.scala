package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sink.kafka.{WireEndpoint, WireProducer}
import graft.source.postgres.PgTls

/** TLS on the Kafka WIRE producer — the reference producer is TLS-capable
  * and TESTED for verify/reject (reference:
  * src/sink/kafka/producer_test.zig:70-282: TLS connect, verify-full
  * accept, reject on a certificate the client's trust config can't
  * satisfy). Same contract here, against the in-process broker wrapped in
  * a real JSSE server context: no protocol preamble (security.protocol=SSL
  * is TLS from byte 0), verify-full accepts the good SAN and rejects the
  * wrong one, an unknown root is rejected outright, and delivery runs
  * end-to-end (produce → CRC-verified broker ingest) over the encrypted
  * socket. Certificates come from [[TlsTestCerts]] — fresh keypair per
  * call, so reject-on-unknown-CA is by construction, never fixture luck.
  */
class KafkaWireTlsSpec extends AnyFunSuite {

  private def tlsBroker(creds: TlsTestCerts.ServerCreds) =
    new FakeKafkaBroker(Map("t" -> 2), tls = Some(creds.context))

  test("verify-full accepts the matching SAN and delivers end-to-end") {
    val creds = TlsTestCerts.makeServer() // SAN covers localhost/127.0.0.1
    val broker = tlsBroker(creds)
    try {
      val p = new WireProducer("localhost", broker.port,
        tls = Some(PgTls.SslConfig("verify-full",
          Some(creds.certPath.toString))))
      try {
        p.testConnection(Seq("t"))
        (1 to 20).foreach(i =>
          p.send("t", s"k$i".getBytes, s"v$i".getBytes))
        p.flush() // delivery barrier over the encrypted socket
        assert(p.deliveryErrorCount == 0)
      } finally p.close()
      // the broker re-verifies CRC32C on ingest, so 20 stored records mean
      // the full record-batch codec survived the TLS transport intact
      assert(broker.receivedSeq.size == 20)
      assert(broker.receivedSeq.map(_._4).toSet == (1 to 20).map("v" + _).toSet)
    } finally broker.close()
  }

  test("verify-full rejects a certificate whose SAN does not match the host") {
    val creds = TlsTestCerts.makeServer(san = "dns:not-this-host.example")
    val broker = tlsBroker(creds)
    try {
      val full = new WireProducer("localhost", broker.port,
        tls = Some(PgTls.SslConfig("verify-full",
          Some(creds.certPath.toString))))
      try {
        val e = intercept[Exception](full.testConnection(Seq("t")))
        assert(e.isInstanceOf[javax.net.ssl.SSLException] ||
          e.getCause.isInstanceOf[javax.net.ssl.SSLException],
          s"expected an SSL failure, got $e")
      } finally full.abortClose()
      // verify-ca accepts the SAME chain (trusted root, no hostname check)
      // — pinning that the rejection above is the HOSTNAME verification,
      // not an accident of the chain
      val ca = new WireProducer("localhost", broker.port,
        tls = Some(PgTls.SslConfig("verify-ca",
          Some(creds.certPath.toString))))
      try {
        ca.testConnection(Seq("t"))
        ca.send("t", "k".getBytes, "v".getBytes)
        ca.flush()
      } finally ca.close()
    } finally broker.close()
  }

  test("verify-full rejects a broker whose root the client does not trust") {
    val serverCreds = TlsTestCerts.makeServer()
    val otherCreds = TlsTestCerts.makeServer() // fresh, unrelated root
    val broker = tlsBroker(serverCreds)
    try {
      val p = new WireProducer("localhost", broker.port,
        tls = Some(PgTls.SslConfig("verify-full",
          Some(otherCreds.certPath.toString))))
      try {
        val e = intercept[Exception](p.testConnection(Seq("t")))
        assert(e.isInstanceOf[javax.net.ssl.SSLException] ||
          e.getCause.isInstanceOf[javax.net.ssl.SSLException],
          s"expected an SSL failure, got $e")
      } finally p.abortClose()
    } finally broker.close()
  }

  test("a wire+tls bootstrap parses to its TLS config or fails at parse time") {
    val creds = TlsTestCerts.makeServer()
    val caPath = creds.certPath.toString
    // bootstrap-string form
    val ep = WireEndpoint.parse(s"wire+tls://localhost:9999?ca=$caPath")
    assert(ep.host == "localhost" && ep.port == 9999)
    assert(ep.tls.contains(PgTls.SslConfig("verify-full", Some(caPath))))
    assert(WireEndpoint.parse(
        s"wire+tls://h:1?ca=$caPath&verify=ca").tls.get.mode == "verify-ca")
    assert(WireEndpoint.parse("wire+tls://h:1?verify=require")
      .tls.get.mode == "require")
    assert(WireEndpoint.parse("wire://h:1").tls.isEmpty)
    // verify modes without a CA fail at PARSE time, never at first produce
    intercept[IllegalArgumentException](WireEndpoint.parse("wire+tls://h:1"))
    intercept[IllegalArgumentException](
      WireEndpoint.parse("wire+tls://h:1?verify=sideways"))
    // a CA path holding '&' (legal in a filename) rides percent-encoded
    // and decodes at parse time
    val amp = java.nio.file.Files.createTempFile("graft-ca&", ".crt")
    try {
      val enc = java.net.URLEncoder.encode(amp.toString, "UTF-8")
      assert(WireEndpoint.parse(s"wire+tls://b:2?ca=$enc") ==
        WireEndpoint.Ep("b", 2, Some(PgTls.SslConfig("verify-full", Some(amp.toString)))))
    } finally java.nio.file.Files.deleteIfExists(amp)
    // TLS params on a plaintext bootstrap are refused, not ignored
    intercept[IllegalArgumentException](WireEndpoint.parse(s"wire://b:2?ca=$caPath"))
    // a bootstrap of any other scheme names the accepted forms
    val e = intercept[IllegalArgumentException](WireEndpoint.parse("b:2"))
    assert(e.getMessage.contains(WireEndpoint.Forms), e.getMessage)
  }

  test("the frames sink's wire mode carries TLS through the DSv2 path") {
    // the full delivery path — StreamingPipeline's sink option string →
    // FramesSink parse → pooled per-task producers — must preserve the
    // TLS identity (the pool keys on it, so a verify-full task can never
    // be handed a plaintext socket)
    val creds = TlsTestCerts.makeServer()
    val ep = WireEndpoint.parse(
      s"wire+tls://localhost:1234?ca=${creds.certPath}")
    assert(ep.poolKey != WireEndpoint.Ep("localhost", 1234, None).poolKey,
      "TLS and plaintext producers must not share a pool slot")
    val broker = tlsBroker(creds)
    try {
      val p = graft.sink.kafka.WireProducerPool.borrow(
        WireEndpoint.parse(s"wire+tls://localhost:${broker.port}?ca=${creds.certPath}"))
      try {
        p.send("t", "k".getBytes, "v".getBytes)
        p.flush()
        assert(broker.receivedSeq.nonEmpty)
      } finally p.abortClose()
    } finally broker.close()
  }

  test("wire+tls routes through the DSv2 frames sink (async-capable end to end)") {
    // r15 review finding: the routing gate used a wire:// PREFIX check, so
    // a wire+tls:// bootstrap silently fell back to the foreachBatch
    // producer — losing the pooled per-task DSv2 path the TLS work
    // targets. Pin the routing by its observable: the running query's
    // sink is the FramesSink table, not ForeachBatchSink, async progress
    // is accepted, and delivery still lands on the TLS broker.
    import java.nio.file.{Files, Paths}
    import graft.operators.Routing
    import graft.source.wal.{WalFixture, WalLog}
    import graft.streaming.StreamingPipeline
    val spark = SparkTestBase.spark
    val creds = TlsTestCerts.makeServer()
    val broker = new FakeKafkaBroker(Map("cdc.click" -> 2,
      "cdc.purchase" -> 2, "cdc.signup" -> 1, "cdc.view" -> 1),
      tls = Some(creds.context))
    try {
      val walDir = Files.createTempDirectory("graft-tlswal").toString
      val seen = scala.collection.mutable.Set.empty[String]
      val events = (1L to 40L).map(i => WalFixture.Ev(i,
        1700000000000000L + i * 1000000L, i % 5,
        Seq("click", "purchase", "signup", "view")(i.toInt % 4), i * 0.5, "{}"))
      WalLog.write(Paths.get(walDir, "00000000.wal"),
        events.iterator.flatMap(e => WalFixture.frames(e, seen)))
      val out = Files.createTempDirectory("graft-tlsout").toString
      val ckpt = Files.createTempDirectory("graft-tlsck").toString
      val q = StreamingPipeline.start(spark, walDir, Routing.fixtureStreams,
        ckpt, out,
        kafkaBootstrap = Some(
          s"wire+tls://localhost:${broker.port}?ca=${creds.certPath}"),
        triggerMs = 25L, sinkFormat = "frames", asyncProgress = true)
      try q.processAllAvailable() finally q.stop()
      // the DSv2 table renders as graft.sink.frames.FramesTable; the
      // foreachBatch fallback renders as ForeachBatchSink
      assert(Option(q.lastProgress).exists(
        _.sink.description.contains("graft.sink.frames")),
        "wire+tls did not route through the DSv2 frames sink: " +
          Option(q.lastProgress).map(_.sink.description))
      assert(broker.receivedSeq.nonEmpty,
        "no frames delivered over the TLS wire")
    } finally broker.close()
  }
}
