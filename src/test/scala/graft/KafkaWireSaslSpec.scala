package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sink.kafka.{DeliveryFailedException, KafkaSasl, WireEndpoint,
  WireProducer}
import graft.source.postgres.PgTls

/** SASL on the Kafka WIRE producer (r15 VERDICT #4 — the last sink-parity
  * sliver; every managed Kafka requires SASL). Reference contract: the
  * sink's mechanism axis PLAIN / SCRAM-SHA-256 / SCRAM-SHA-512 with the
  * password from a configured env var, and security.protocol derived from
  * the tls×sasl axes (/root/reference/src/config/config.zig:28,61-85,
  * 194-198). Exercised against the in-process broker speaking the real
  * SaslHandshake/SaslAuthenticate exchange: accept AND wrong-password
  * reject per mechanism, pre-auth data APIs fail, and SASL_SSL composes
  * the exchange over the TLS transport. The SCRAM client is the SAME
  * hash-parameterized core the live-PostgreSQL tier authenticates with.
  */
class KafkaWireSaslSpec extends AnyFunSuite {

  private val users = Map("svc" -> "s3cret", "u=2," -> "oddpw")
  private def saslBroker(mechs: Set[String] = KafkaSasl.Mechanisms) =
    new FakeKafkaBroker(Map("t" -> 2),
      sasl = Some(KafkaSasl.ServerConfig(users, mechs)))

  private def deliver(p: WireProducer): Unit = {
    p.testConnection(Seq("t"))
    (1 to 10).foreach(i => p.send("t", s"k$i".getBytes, s"v$i".getBytes))
    p.flush()
    assert(p.deliveryErrorCount == 0)
  }

  Seq("PLAIN", "SCRAM-SHA-256", "SCRAM-SHA-512").foreach { mech =>
    test(s"$mech: correct password authenticates and delivers end-to-end") {
      val broker = saslBroker()
      try {
        val p = new WireProducer("localhost", broker.port,
          sasl = Some(KafkaSasl.Config(mech, "svc", "s3cret")))
        try deliver(p) finally p.close()
        assert(broker.receivedSeq.size == 10)
      } finally broker.close()
    }

    test(s"$mech: wrong password is rejected before any data API") {
      val broker = saslBroker()
      try {
        val p = new WireProducer("localhost", broker.port,
          sasl = Some(KafkaSasl.Config(mech, "svc", "wrong")))
        try {
          val e = intercept[DeliveryFailedException](p.testConnection(Seq("t")))
          assert(e.getMessage.contains("58") ||
            e.getMessage.toLowerCase.contains("authentication"),
            s"expected an authentication failure, got: ${e.getMessage}")
        } finally p.abortClose()
        assert(broker.receivedSeq.isEmpty)
      } finally broker.close()
    }
  }

  test("SCRAM saslname escaping: '=' and ',' in the username round-trip") {
    val broker = saslBroker()
    try {
      val p = new WireProducer("localhost", broker.port,
        sasl = Some(KafkaSasl.Config("SCRAM-SHA-256", "u=2,", "oddpw")))
      try deliver(p) finally p.close()
    } finally broker.close()
  }

  test("a mechanism the broker does not offer is rejected at handshake") {
    val broker = saslBroker(mechs = Set("SCRAM-SHA-256"))
    try {
      val p = new WireProducer("localhost", broker.port,
        sasl = Some(KafkaSasl.Config("PLAIN", "svc", "s3cret")))
      try {
        val e = intercept[DeliveryFailedException](p.testConnection(Seq("t")))
        assert(e.getMessage.contains("SCRAM-SHA-256"),
          s"handshake error should list offered mechanisms: ${e.getMessage}")
      } finally p.abortClose()
    } finally broker.close()
  }

  test("an unauthenticated producer's data API kills the connection") {
    val broker = saslBroker()
    try {
      // no sasl config at all against a SASL-requiring broker
      val p = new WireProducer("localhost", broker.port)
      try intercept[Exception](deliver(p)) finally p.abortClose()
      assert(broker.receivedSeq.isEmpty)
    } finally broker.close()
  }

  test("SASL_SSL: SCRAM over TLS delivers; wrong password still rejects") {
    val creds = TlsTestCerts.makeServer()
    val broker = new FakeKafkaBroker(Map("t" -> 2),
      tls = Some(creds.context),
      sasl = Some(KafkaSasl.ServerConfig(users)))
    try {
      val tls = Some(PgTls.SslConfig("verify-full",
        Some(creds.certPath.toString)))
      val good = new WireProducer("localhost", broker.port, tls = tls,
        sasl = Some(KafkaSasl.Config("SCRAM-SHA-256", "svc", "s3cret")))
      try deliver(good) finally good.close()
      assert(broker.receivedSeq.size == 10)
      val bad = new WireProducer("localhost", broker.port, tls = tls,
        sasl = Some(KafkaSasl.Config("SCRAM-SHA-256", "svc", "nope")))
      try intercept[DeliveryFailedException](bad.testConnection(Seq("t")))
      finally bad.abortClose()
    } finally broker.close()
  }

  test("fromBootstrap carries SASL through the foreachBatch wire path") {
    // r16 review finding: fromBootstrap dropped ep.sasl, silently
    // downgrading the Main/StreamingPipeline foreachBatch path to an
    // unauthenticated connect — this drives the REAL Spark-task produce
    // through a SASL bootstrap string end to end
    val broker = saslBroker()
    try {
      val boot = s"wire://localhost:${broker.port}" +
        "?saslmech=PLAIN&sasluser=svc&saslpassenv=GRAFT_TEST_SASL_PW"
      val wfp = graft.sink.kafka.WireFrameProducer.fromBootstrap(boot,
        env = n => if (n == "GRAFT_TEST_SASL_PW") Some("s3cret") else None).get
      val spark = SparkTestBase.spark
      import spark.implicits._
      wfp.produce(Seq(("t", "k1", "v1"), ("t", "k2", "v2"))
        .toDF("topic", "key", "value"))
      assert(broker.receivedSeq.size == 2)
    } finally broker.close()
  }

  test("Config.toString and anything embedding it never print the secret") {
    val c = KafkaSasl.Config("PLAIN", "svc", "s3cret")
    assert(!c.toString.contains("s3cret"), c.toString)
    val ep = WireEndpoint.Ep("h", 1, None, Some(c))
    assert(!ep.toString.contains("s3cret"), ep.toString)
    assert(!ep.poolKey.toString.contains("s3cret"))
  }

  // ---- the bootstrap string (WireEndpoint.parse) ----

  test("parse routes sasl params to a config; the password resolves from env") {
    val env = Map("KAFKA_PW" -> "s3cret")
    KafkaSasl.Mechanisms.foreach { mech =>
      val ep = WireEndpoint.parse(s"wire://h:9092?saslmech=$mech" +
        "&sasluser=svc&saslpassenv=KAFKA_PW", env.get)
      assert(ep.sasl.contains(KafkaSasl.Config(mech, "svc", "s3cret")), mech)
      assert(ep.tls.isEmpty, s"$mech over wire:// is SASL_PLAINTEXT")
    }
    // no sasl params: no SASL config, whatever the env holds
    assert(WireEndpoint.parse("wire://h:9092", env.get).sasl.isEmpty)
  }

  test("SASL bootstrap carries the env NAME; parse resolves and pools by principal") {
    val fakeEnv: String => Option[String] =
      n => if (n == "GRAFT_TEST_SASL_PW") Some("oddpw") else None
    // the user 'u=2,' percent-encoded, as a URL query value is written
    val boot = "wire://h:9092?saslmech=SCRAM-SHA-256&sasluser=u%3D2%2C" +
      "&saslpassenv=GRAFT_TEST_SASL_PW"
    assert(!boot.contains("oddpw"),
      s"the secret leaked into the bootstrap string: $boot")
    val ep = WireEndpoint.parse(boot, fakeEnv)
    assert(ep.host == "h" && ep.port == 9092 && ep.tls.isEmpty)
    assert(ep.sasl.contains(KafkaSasl.Config("SCRAM-SHA-256", "u=2,",
      "oddpw")))
    // the pool key carries the STRUCTURED principal identity — never a
    // string join free-form values could collide (r16 advice)
    assert(ep.poolKey._4.contains(("SCRAM-SHA-256", "u=2,")))
    assert(!ep.poolKey.toString.contains("oddpw"),
      "the secret leaked into the pool key")
  }

  test("parse: loud failures — unset env, missing fields, stray params") {
    val env: String => Option[String] =
      n => if (n == "PW") Some("s3cret") else None
    def rejects(boot: String, why: String): Unit = {
      val e = intercept[IllegalArgumentException](WireEndpoint.parse(boot, env))
      assert(e.getMessage.contains(why), s"$boot: ${e.getMessage}")
    }
    rejects("wire://h:1?saslmech=PLAIN&saslpassenv=PW", "without sasluser")
    rejects("wire://h:1?saslmech=PLAIN&sasluser=svc", "without saslpassenv")
    rejects("wire://h:1?saslmech=PLAIN&sasluser=svc&saslpassenv=NOPE",
      "'NOPE' but it is not set")
    rejects("wire://h:1?sasluser=svc&saslpassenv=PW", "without saslmech")
    rejects("wire://h:1?saslpassenv=PW", "without saslmech")
    // the secret itself has no param: only its env NAME rides the string
    rejects("wire://h:1?saslmech=PLAIN&sasluser=svc&saslpass=direct",
      "unknown wire bootstrap params saslpass")
    rejects("wire://h:1?saslmech=GSSAPI&sasluser=svc&saslpassenv=PW",
      "unknown SASL mechanism")
    // a second query string fails loudly, never half-parses (r16 advice)
    rejects("wire://h:1?saslmech=PLAIN&sasluser=svc&saslpassenv=PW" +
      "?saslmech=PLAIN", "'PW?saslmech=PLAIN' but it is not set")
  }

  test("pool keys cannot collide across principals via crafted values") {
    // ca path 'p|PLAIN:u|nosasl' with no SASL vs ca path 'p' with SASL
    // user 'u|nosasl' — the old '|'-joined string key collided these
    // ('|' and ':' are legal in Linux filenames; SslConfig requires the
    // CA file to exist, so create both)
    val dir = java.nio.file.Files.createTempDirectory("graft-poolkey")
    val pa = dir.resolve("p|PLAIN:u|nosasl"); val pb = dir.resolve("p")
    java.nio.file.Files.createFile(pa); java.nio.file.Files.createFile(pb)
    try {
      val a = WireEndpoint.Ep("h", 1,
        Some(PgTls.SslConfig("verify-full", Some(pa.toString))), None)
      val b = WireEndpoint.Ep("h", 1,
        Some(PgTls.SslConfig("verify-full", Some(pb.toString))),
        Some(KafkaSasl.Config("PLAIN", "u|nosasl", "pw")))
      // align the crafted suffix exactly as the old string join saw it:
      // a's ca path == b's ca path + "|PLAIN:" + b's user + "|nosasl"
      assert(pa.toString == pb.toString + "|PLAIN:u|nosasl")
      assert(a.poolKey != b.poolKey,
        "distinct security identities must never share a pool key")
    } finally {
      java.nio.file.Files.deleteIfExists(pa)
      java.nio.file.Files.deleteIfExists(pb)
      java.nio.file.Files.deleteIfExists(dir)
    }
  }

  test("NUL in SASL credentials is rejected at config time (RFC 4616)") {
    intercept[IllegalArgumentException](
      KafkaSasl.Config("PLAIN", "svc\u0000x", "pw"))
    intercept[IllegalArgumentException](
      KafkaSasl.Config("PLAIN", "svc", "pw\u0000x"))
  }

  test("malformed SCRAM client messages answer a protocol error, not a crash") {
    val server = new KafkaSasl.ServerSession(KafkaSasl.ServerConfig(users))
    assert(server.handshake("SCRAM-SHA-256")._1 == 0)
    // client-first missing r=
    val (e1, m1, _) = server.authenticateStep(
      "n,,n=svc".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(e1 == KafkaSasl.ErrAuthenticationFailed && m1.contains("r="))
    // fresh session: valid client-first, then client-final missing p=
    val s2 = new KafkaSasl.ServerSession(KafkaSasl.ServerConfig(users))
    assert(s2.handshake("SCRAM-SHA-256")._1 == 0)
    val (e2a, _, first) = s2.authenticateStep(
      "n,,n=svc,r=abc".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(e2a == 0)
    val nonce = new String(first,
      java.nio.charset.StandardCharsets.UTF_8).split(",")(0).drop(2)
    val (e2b, m2b, _) = s2.authenticateStep(
      s"c=biws,r=$nonce".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(e2b == KafkaSasl.ErrAuthenticationFailed && m2b.contains("p="))
    // and a non-base64 proof
    val s3 = new KafkaSasl.ServerSession(KafkaSasl.ServerConfig(users))
    assert(s3.handshake("SCRAM-SHA-256")._1 == 0)
    val (_, _, f3) = s3.authenticateStep(
      "n,,n=svc,r=abc".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val n3 = new String(f3,
      java.nio.charset.StandardCharsets.UTF_8).split(",")(0).drop(2)
    val (e3, m3, _) = s3.authenticateStep(
      s"c=biws,r=$n3,p=!!notb64!!".getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
    assert(e3 == KafkaSasl.ErrAuthenticationFailed && m3.contains("base64"))
  }

  test("a wire+tls bootstrap with sasl params composes SASL_SSL") {
    val ca = java.nio.file.Files.createTempFile("graft-ca", ".crt")
    try {
      val caParam = java.net.URLEncoder.encode(ca.toString, "UTF-8")
      val sasl = "saslmech=PLAIN&sasluser=svc&saslpassenv=GRAFT_TEST_SASL_PW"
      val ep = WireEndpoint.parse(s"wire+tls://h:9092?ca=$caParam&$sasl",
        _ => Some("pw"))
      assert(ep.tls.contains(PgTls.SslConfig("verify-full", Some(ca.toString))))
      assert(ep.sasl.contains(KafkaSasl.Config("PLAIN", "svc", "pw")))
      val caOnly = WireEndpoint.parse(
        s"wire+tls://h:9092?ca=$caParam&verify=ca&$sasl", _ => Some("pw"))
      assert(caOnly.tls.exists(_.mode == "verify-ca"))
      assert(caOnly.sasl.exists(_.mechanism == "PLAIN"))
      // the same params over plaintext are SASL_PLAINTEXT: no TLS
      assert(WireEndpoint.parse(s"wire://h:9092?$sasl", _ => Some("pw"))
        .tls.isEmpty)
    } finally java.nio.file.Files.deleteIfExists(ca)
  }
}
