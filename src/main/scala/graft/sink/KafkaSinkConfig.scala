package graft.sink

/** K1/K2 — Kafka producer configuration with the reference's delivery
  * semantics (reference: src/sink/kafka/producer.zig:111-176, options at
  * :150-161; constants src/constants.zig:27-29):
  *
  *  - idempotent producer, acks=all, bounded in-flight — no reordering, no
  *    duplication at the broker on retry
  *  - linger 50 ms / 256 KB batches — throughput batching
  *  - delivery verification: Spark's Kafka sink task fails the task on
  *    permanent produce errors → task retry → query restart from checkpoint,
  *    which is the reference's fail-fast + slot-resend contract (K2)
  */
object KafkaSinkConfig {

  val LingerMs = "50"
  val BatchSize = (256 * 1024).toString

  /** Options for `writeStream.format("kafka")` (prefix `kafka.` reaches the
    * producer client verbatim). */
  def producerOptions(bootstrap: String): Map[String, String] = Map(
    "kafka.bootstrap.servers" -> bootstrap,
    "kafka.enable.idempotence" -> "true",
    "kafka.acks" -> "all",
    "kafka.retries" -> Int.MaxValue.toString,
    "kafka.max.in.flight.requests.per.connection" -> "5",
    "kafka.linger.ms" -> LingerMs,
    "kafka.batch.size" -> BatchSize,
    "kafka.compression.type" -> "lz4")

  /** Closed security enums (reference: src/config/config.zig:23-28 —
    * KAFKA_SECURITY_PROTOCOLS / KAFKA_SASL_MECHANISMS). */
  val SecurityProtocols: Set[String] =
    Set("PLAINTEXT", "SSL", "SASL_PLAINTEXT", "SASL_SSL")
  val SaslMechanisms: Set[String] =
    Set("PLAIN", "SCRAM-SHA-256", "SCRAM-SHA-512")

  /** TLS/SASL pass-through with VALIDATION (M6): option names forward to the
    * client verbatim (as the reference forwards librdkafka properties), but
    * a bad security config must fail the query at build time, never
    * silently downgrade to plaintext (the reference rejects invalid TLS
    * settings up front, src/sink/kafka/producer_test.zig:70-282). */
  def withSecurity(base: Map[String, String],
      security: Map[String, String]): Map[String, String] = {
    security.foreach { case (k, v) =>
      require(v != null && v.nonEmpty,
        s"kafka security option '$k' is empty — a blank value silently " +
          "disables the setting downstream; remove it or set a real value")
    }
    val merged = base ++ security.map { case (k, v) =>
      (if (k.startsWith("kafka.")) k else s"kafka.$k") -> v
    }
    merged.get("kafka.security.protocol").foreach { p =>
      require(SecurityProtocols(p),
        s"unknown kafka security.protocol '$p' (allowed: ${SecurityProtocols.mkString(", ")})")
    }
    merged.get("kafka.sasl.mechanism").foreach { m =>
      require(SaslMechanisms(m),
        s"unknown kafka sasl.mechanism '$m' (allowed: ${SaslMechanisms.mkString(", ")})")
    }
    merged
  }

  /** Map validated `security.protocol=SSL` options to the WIRE producer's
    * TLS config — the point where the SSL enum stops being validate-only
    * on the wire path (the stock connector path forwards the same options
    * to its own client). Option names are librdkafka's, as the reference
    * forwards them (reference: src/sink/kafka/producer.zig TLS options;
    * producer_test.zig:70-282 verify/reject contract):
    *
    *  - `ssl.ca.location` — the CA bundle to verify the broker chain
    *    against (required unless certificate verification is disabled).
    *  - `ssl.endpoint.identification.algorithm` — `https` (default) adds
    *    RFC 6125 hostname verification (verify-full); `none` keeps chain
    *    verification only (verify-ca).
    *  - `enable.ssl.certificate.verification=false` — encrypt without
    *    authenticating the peer (PgTls `require` semantics; loud opt-out).
    *
    * Returns None for PLAINTEXT / SASL_PLAINTEXT / absent protocol (the
    * SASL half routes through [[wireSasl]]); SASL_SSL derives the same
    * TLS config as SSL — the reference's tls×sasl axis composition
    * (config.zig:194-198: security.protocol = sasl_ssl when both are on).
    * Throws on SSL without a usable trust config. */
  def wireTls(security: Map[String, String])
      : Option[graft.source.postgres.PgTls.SslConfig] = {
    val norm = security.map { case (k, v) =>
      (if (k.startsWith("kafka.")) k else s"kafka.$k") -> v }
    norm.getOrElse("kafka.security.protocol", "PLAINTEXT") match {
      case "PLAINTEXT" | "SASL_PLAINTEXT" => None
      case "SSL" | "SASL_SSL" =>
        val verifyChain = norm
          .getOrElse("kafka.enable.ssl.certificate.verification", "true")
          .toBoolean
        val mode =
          if (!verifyChain) "require"
          else norm.getOrElse(
              "kafka.ssl.endpoint.identification.algorithm", "https") match {
            case "https" => "verify-full"
            case "none" => "verify-ca"
            case other => throw new IllegalArgumentException(
              s"unknown ssl.endpoint.identification.algorithm '$other' " +
                "(https, none)")
          }
        Some(graft.source.postgres.PgTls.SslConfig(mode,
          norm.get("kafka.ssl.ca.location")))
      case other => throw new IllegalArgumentException(
        s"unknown kafka security.protocol '$other' " +
          s"(allowed: ${SecurityProtocols.mkString(", ")})")
    }
  }

  /** Map validated `security.protocol=SASL_*` options to the wire
    * producer's SASL config (r15 VERDICT #4 — the last sink-parity
    * sliver; every managed Kafka requires SASL). Option names are
    * librdkafka's (`sasl.mechanism`, `sasl.username`), as the reference
    * forwards them; the password comes from exactly one of:
    *
    *  - `sasl.password.env` — the NAME of an environment variable holding
    *    the secret, the reference's discipline (config.zig:61-85:
    *    `password_env` — the password never lands in a config file, and
    *    never in a bootstrap/pool-key string here), or
    *  - `sasl.password` — the secret directly (test/dev convenience;
    *    cannot ride the string-plumbed bootstrap, see
    *    [[secureWireBootstrap]]).
    *
    * Returns None for non-SASL protocols; SASL options present WITHOUT a
    * SASL_* protocol throw (a silently-ignored credential config is the
    * downgrade class the validators exist to prevent). `env` is
    * injectable for tests. */
  def wireSasl(security: Map[String, String],
      env: String => Option[String] = sys.env.get)
      : Option[graft.sink.kafka.KafkaSasl.Config] = {
    val norm = security.map { case (k, v) =>
      (if (k.startsWith("kafka.")) k else s"kafka.$k") -> v }
    def opt(k: String) = norm.get(s"kafka.$k")
    norm.getOrElse("kafka.security.protocol", "PLAINTEXT") match {
      case "SASL_PLAINTEXT" | "SASL_SSL" =>
        val mech = opt("sasl.mechanism").getOrElse(throw
          new IllegalArgumentException(
            "SASL_* security.protocol requires sasl.mechanism"))
        val user = opt("sasl.username").getOrElse(throw
          new IllegalArgumentException(
            "SASL_* security.protocol requires sasl.username"))
        val direct = opt("sasl.password")
        val fromEnv = opt("sasl.password.env")
        require(direct.isDefined != fromEnv.isDefined,
          "exactly one of sasl.password / sasl.password.env must be set")
        val pw = direct.getOrElse {
          val name = fromEnv.get
          env(name).getOrElse(throw new IllegalArgumentException(
            s"sasl.password.env names '$name' but it is not set in the " +
              "environment"))
        }
        Some(graft.sink.kafka.KafkaSasl.Config(mech, user, pw))
      case _ =>
        require(opt("sasl.mechanism").isEmpty &&
            opt("sasl.username").isEmpty && opt("sasl.password").isEmpty &&
            opt("sasl.password.env").isEmpty,
          "sasl.* options set but security.protocol is not SASL_* — " +
            "credentials would be silently ignored; set SASL_PLAINTEXT " +
            "or SASL_SSL")
        None
    }
  }

  /** Upgrade a `wire://` bootstrap to its secured form per validated
    * security options (no-op for PLAINTEXT) — the string form every
    * existing plumbing point (env var, sink option, pool key) carries:
    * `wire+tls://` for SSL, SASL params appended for SASL_* (the string
    * carries the password's env NAME, never the secret — so the direct
    * `sasl.password` option cannot ride this path and fails loudly;
    * resolve-at-parse is WireEndpoint's job). */
  def secureWireBootstrap(bootstrap: String,
      security: Map[String, String],
      env: String => Option[String] = sys.env.get): String = {
    val tls = wireTls(security)
    val saslCfg = wireSasl(security, env) // validates mechanism + env presence
    if (tls.isEmpty && saslCfg.isEmpty) return bootstrap
    require(bootstrap.startsWith("wire://"),
      s"secureWireBootstrap expects a wire:// bootstrap, got '$bootstrap'")
    // a bootstrap already carrying a query string (including this
    // function's own output fed back in) would yield two '?' whose
    // first-?-split leaves '?' inside a param value (r16 advice)
    require(!bootstrap.contains('?'),
      s"secureWireBootstrap expects a bare wire://host:port bootstrap " +
        s"(no query string — security params are derived from the " +
        s"validated options, not merged), got '$bootstrap'")
    // percent-encode values: a CA path containing '&' (legal in a
    // filename) — or a username with URL metacharacters — would
    // otherwise split the query and fail WireEndpoint.parse; parse decodes
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    val tlsParams = tls.toSeq.flatMap { cfg =>
      val verify = cfg.mode match {
        case "verify-full" => "full"
        case "verify-ca" => "ca"
        case _ => "require"
      }
      cfg.rootCertPath.map(p => s"ca=${enc(p)}").toSeq :+ s"verify=$verify"
    }
    val saslParams = saslCfg.toSeq.flatMap { c =>
      val norm = security.map { case (k, v) =>
        (if (k.startsWith("kafka.")) k else s"kafka.$k") -> v }
      val envName = norm.getOrElse("kafka.sasl.password.env", throw
        new IllegalArgumentException(
          "the string-plumbed wire bootstrap carries the password's env " +
            "NAME, never the secret — use sasl.password.env (not " +
            "sasl.password) with a wire:// bootstrap"))
      Seq(s"saslmech=${enc(c.mechanism)}", s"sasluser=${enc(c.username)}",
        s"saslpassenv=${enc(envName)}")
    }
    val scheme = if (tls.isDefined) "wire+tls://" else "wire://"
    s"$scheme${bootstrap.stripPrefix("wire://")}?" +
      (tlsParams ++ saslParams).mkString("&")
  }
}

/** The seam between a shaped micro-batch and its delivery — what the
  * fail-injection tests exercise without a broker. `produce` MUST throw on
  * delivery failure: Spark then fails the epoch and the restart-from-
  * checkpoint contract redelivers the batch (the reference's fail-fast +
  * slot-resend behavior, src/sink/kafka/producer.zig:430-502); consumers
  * dedup on meta.lsn. */
trait FrameProducer {
  /** `shaped` carries string (topic, key, value, …) columns. From
    * [[graft.streaming.StreamingPipeline.start]] its rows are key-partitioned
    * and LSN-ordered within partitions when `sinkParallelism > 1` or
    * `sliceEvents > 0`; otherwise they are the micro-batch's one partition
    * in WAL order. */
  def produce(shaped: org.apache.spark.sql.DataFrame): Unit
}

/** Real-broker producer: Spark's Kafka batch sink with the reference's
  * delivery options (idempotence, acks=all) + validated security overlay. */
final class KafkaFrameProducer(bootstrap: String,
    security: Map[String, String] = Map.empty) extends FrameProducer {
  // validate at construction — a bad TLS config must fail BEFORE the
  // streaming query starts, not on the first produce
  val options: Map[String, String] = KafkaSinkConfig.withSecurity(
    KafkaSinkConfig.producerOptions(bootstrap), security)
  override def produce(shaped: org.apache.spark.sql.DataFrame): Unit =
    shaped
      .selectExpr("topic", "CAST(key AS BINARY) AS key",
        "CAST(value AS BINARY) AS value")
      .write.format("kafka").options(options).save()
}
