package graft.sink.kafka

import graft.source.postgres.PgTls

/** Bootstrap-string form of the wire producer's endpoint, TLS and SASL
  * included, so both security axes flow through every existing string
  * plumbing point (the `GRAFT_KAFKA_BOOTSTRAP` env, the frames sink's
  * `bootstrap` option, the producer pool key) without threading new
  * parameters through DSv2:
  *
  *   - `wire://host:port` — plaintext (unchanged).
  *   - `wire+tls://host:port?ca=<path>[&verify=full|ca|require]` — TLS
  *     from byte 0 (the Kafka protocol has no in-band upgrade; this is
  *     `security.protocol=SSL`). `verify` defaults to `full`:
  *       full    → verify-full (chain against `ca` + RFC 6125 hostname)
  *       ca      → verify-ca   (chain against `ca`, no hostname check)
  *       require → encrypt-only, peer NOT authenticated (libpq
  *                 sslmode=require semantics — see PgTls's loud caveat)
  *     `ca` is required for full/ca, ignored for require.
  *   - either scheme may carry SASL params
  *     `saslmech=<PLAIN|SCRAM-SHA-256|SCRAM-SHA-512>&sasluser=<user>&
  *     saslpassenv=<ENV_NAME>` — `security.protocol=SASL_PLAINTEXT` /
  *     `SASL_SSL` per the scheme. The string carries the NAME of the
  *     environment variable holding the password, NEVER the secret
  *     itself (the reference's password_env discipline,
  *     src/config/config.zig:61-85); the variable resolves at parse
  *     time and an unset variable fails loudly.
  *
  * Validation (mode spelling, readable CA file, known mechanism, env
  * presence) happens at parse time — a bad security bootstrap fails
  * before any socket opens, never downgrading to plaintext/unauthed.
  * Reference contract: the producer's TLS verify tests plus the SASL
  * mechanism axis, src/sink/kafka/producer_test.zig:70-282 and
  * src/config/config.zig:28,194-198.
  */
object WireEndpoint {

  /** Pool key: the STRUCTURED security identity, never a string join.
    * (tlsMode, caPath) and (mechanism, username) stay separate tuple
    * components — a joined string over free-form values (a CA path
    * containing '|', a username containing ':') could collide keys
    * across distinct principals (r16 advice, medium). */
  type PoolKey = (String, Int,
    Option[(String, Option[String])], // TLS: (mode, rootCertPath)
    Option[(String, String)]) // SASL: (mechanism, username) — never the password

  final case class Ep(host: String, port: Int,
      tls: Option[PgTls.SslConfig],
      sasl: Option[KafkaSasl.Config] = None) {
    /** Pool-key form: producers with different TLS trust or SASL
      * principal identities must never share a pooled connection. The
      * password is deliberately NOT part of the key. */
    def poolKey: PoolKey = (host, port,
      tls.map(t => (t.mode, t.rootCertPath)),
      sasl.map(c => (c.mechanism, c.username)))
  }

  def accepts(bootstrap: String): Boolean =
    bootstrap != null &&
      (bootstrap.startsWith("wire://") || bootstrap.startsWith("wire+tls://"))

  /** The bootstrap forms [[parse]] accepts, as its errors name them. */
  val Forms: String = "wire://host:port or " +
    "wire+tls://host:port?ca=<path>[&verify=full|ca|require], either with " +
    "optional saslmech=…&sasluser=…&saslpassenv=<ENV_NAME>"

  /** @param env environment lookup for `saslpassenv` resolution —
    *   injectable so tests can supply credentials (the JVM cannot set
    *   real process env); production uses the default `sys.env.get`.
    *   A threaded parameter, not a process-global hook, so one caller's
    *   override can never change how another caller resolves secrets
    *   (r16 advice). */
  def parse(bootstrap: String,
      env: String => Option[String] = sys.env.get): Ep = {
    require(accepts(bootstrap),
      s"Kafka bootstrap must be $Forms, got '$bootstrap'")
    val tlsScheme = bootstrap.startsWith("wire+tls://")
    val rest =
      bootstrap.stripPrefix(if (tlsScheme) "wire+tls://" else "wire://")
    val (hp, query) = rest.indexOf('?') match {
      case -1 => (rest, "")
      case i => (rest.substring(0, i), rest.substring(i + 1))
    }
    val ci = hp.lastIndexOf(':')
    require(ci > 0, s"wire bootstrap needs host:port, got '$bootstrap'")
    val params = query.split('&').iterator.filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      require(i > 0, s"malformed wire bootstrap param '$kv' (expected k=v)")
      (kv.substring(0, i), kv.substring(i + 1))
    }.toMap
    val saslKeys = Set("saslmech", "sasluser", "saslpassenv")
    val allowed = saslKeys ++ (if (tlsScheme) Set("ca", "verify") else Set.empty)
    val unknown = params.keySet -- allowed
    require(unknown.isEmpty,
      s"unknown wire bootstrap params ${unknown.mkString(", ")} " +
        s"(allowed: ${allowed.toSeq.sorted.mkString(", ")})")
    val tls = if (!tlsScheme) None else {
      val mode = params.getOrElse("verify", "full") match {
        case "full" => "verify-full"
        case "ca" => "verify-ca"
        case "require" => "require"
        case other => throw new IllegalArgumentException(
          s"unknown verify '$other' (allowed: full, ca, require)")
      }
      // values may arrive percent-encoded (a path containing '&' must be
      // written %26 to survive the query split) — decode here
      Some(PgTls.SslConfig(mode,
        params.get("ca").map(java.net.URLDecoder.decode(_, "UTF-8"))))
    }
    val sasl = params.get("saslmech").map { mechEnc =>
      def dec(s: String) = java.net.URLDecoder.decode(s, "UTF-8")
      val user = params.getOrElse("sasluser", throw
        new IllegalArgumentException("saslmech without sasluser"))
      val envName = params.getOrElse("saslpassenv", throw
        new IllegalArgumentException("saslmech without saslpassenv — the " +
          "bootstrap carries the password's env NAME, never the secret"))
      val pw = env(dec(envName)).getOrElse(throw
        new IllegalArgumentException(
          s"saslpassenv names '${dec(envName)}' but it is not set in the " +
            "environment"))
      KafkaSasl.Config(dec(mechEnc), dec(user), pw)
    }
    require(sasl.isDefined || !params.contains("sasluser") &&
        !params.contains("saslpassenv"),
      "sasluser/saslpassenv without saslmech")
    Ep(hp.substring(0, ci), hp.substring(ci + 1).toInt, tls, sasl)
  }
}
