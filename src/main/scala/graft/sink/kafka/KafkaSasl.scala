package graft.sink.kafka

import graft.source.postgres.Scram
import java.nio.charset.StandardCharsets.UTF_8

/** SASL authentication for the Kafka WIRE producer — the public
  * SaslHandshake (api key 17, v1) / SaslAuthenticate (api key 36, v0)
  * exchange carrying PLAIN (RFC 4616) or SCRAM-SHA-256 / SCRAM-SHA-512
  * (RFC 5802/7677) mechanism bytes. The SCRAM client is the SAME
  * hash-parameterized core the PostgreSQL handshake uses
  * (`graft.source.postgres.Scram`) — one exchange implementation, two
  * wire carriages — with the username riding the n= attribute (Kafka has
  * no out-of-band username; Postgres sends it in the startup message).
  *
  * Reference contract: the sink's SASL axis — mechanisms
  * PLAIN / SCRAM-SHA-256 / SCRAM-SHA-512, username + password-from-env,
  * and `security.protocol` derived from the tls×sasl axes
  * (/root/reference/src/config/config.zig:28,61-85,194-198). The server
  * half below exists for the scripted in-process broker
  * ([[graft.FakeKafkaBroker]]) so accept AND wrong-password reject are
  * exercised against real mechanism bytes, the FakeWalsender pattern.
  */
object KafkaSasl {

  val ApiSaslHandshake: Short = 17
  val ApiSaslAuthenticate: Short = 36

  // public protocol error codes
  val ErrUnsupportedMechanism: Short = 33
  val ErrIllegalSaslState: Short = 34
  val ErrAuthenticationFailed: Short = 58

  val Mechanisms: Set[String] = Set("PLAIN", "SCRAM-SHA-256", "SCRAM-SHA-512")

  private def alg(mechanism: String): Scram.HashAlg = mechanism match {
    case "SCRAM-SHA-256" => Scram.Sha256
    case "SCRAM-SHA-512" => Scram.Sha512
    case m => throw new IllegalArgumentException(s"not a SCRAM mechanism: $m")
  }

  /** Client credentials; the password is resolved from the env var the
    * bootstrap's `saslpassenv` names BEFORE this is built — see
    * [[WireEndpoint.parse]]. */
  final case class Config(mechanism: String, username: String,
      password: String) {
    require(Mechanisms(mechanism),
      s"unknown SASL mechanism '$mechanism' (allowed: ${Mechanisms.mkString(", ")})")
    // RFC 4616 forbids NUL in authcid/passwd: an embedded NUL would shift
    // the PLAIN token's field boundaries and authenticate as a DIFFERENT
    // identity instead of failing loudly (r16 advice) — reject at config
    // time for every mechanism (SCRAM forbids it in saslname too)
    require(!username.contains('\u0000'),
      "SASL username must not contain NUL (RFC 4616/5802)")
    require(!password.contains('\u0000'),
      "SASL password must not contain NUL (RFC 4616/5802)")
    /** Identity for the producer-pool key: producers authenticated as
      * different principals must never share a pooled connection. The
      * PASSWORD is deliberately not part of the key (or any string form). */
    def poolId: String = s"$mechanism:$username"
    /** Redacted — a case class's generated toString would print the live
      * secret into any log line, exception message or failed test
      * assertion that renders a Config or an endpoint holding one (r16
      * review finding). */
    override def toString: String = s"KafkaSasl.Config($poolId,<redacted>)"
  }

  /** RFC 4616 PLAIN initial response: NUL authzid NUL authcid NUL passwd
    * (empty authzid — act as the authenticated user). */
  def plainToken(username: String, password: String): Array[Byte] = {
    val u = username.getBytes(UTF_8); val p = password.getBytes(UTF_8)
    val out = new Array[Byte](u.length + p.length + 2)
    System.arraycopy(u, 0, out, 1, u.length)
    System.arraycopy(p, 0, out, u.length + 2, p.length)
    out
  }

  /** Run the full authentication exchange over a connected socket's
    * request/response function (the producer's roundTrip): handshake,
    * then 1 (PLAIN) or 2 (SCRAM) SaslAuthenticate round trips, verifying
    * the SCRAM server signature on the final message. Throws on any
    * server error — the producer never proceeds half-authenticated. */
  def authenticate(cfg: Config,
      roundTrip: (Short, Short, KafkaWire.Out) => KafkaWire.In): Unit = {
    val hs = new KafkaWire.Out
    hs.str(cfg.mechanism)
    val hsResp = roundTrip(ApiSaslHandshake, 1, hs)
    val hsErr = hsResp.i16()
    val nMechs = hsResp.i32()
    val offered = (0 until nMechs).map(_ => hsResp.str())
    if (hsErr != 0)
      throw new DeliveryFailedException(
        s"SASL handshake rejected mechanism ${cfg.mechanism} " +
          s"(error $hsErr; broker offers: ${offered.mkString(", ")})")

    def authStep(token: Array[Byte]): Array[Byte] = {
      val body = new KafkaWire.Out
      body.bytes(token)
      val resp = roundTrip(ApiSaslAuthenticate, 0, body)
      val err = resp.i16()
      val msg = resp.str()
      val data = resp.bytes()
      if (err != 0)
        throw new DeliveryFailedException(
          s"SASL authentication failed (error $err): $msg")
      data
    }

    cfg.mechanism match {
      case "PLAIN" =>
        authStep(plainToken(cfg.username, cfg.password))
      case scram =>
        val client = new Scram.Client(alg(scram), cfg.password, cfg.username)
        val serverFirst = authStep(client.clientFirstMessage)
        val serverFinal = authStep(client.clientFinal(serverFirst))
        client.verifyServerFinal(serverFinal) // mutual: server knew it too
    }
  }

  // ------------------------------------------------------------------
  // Server half — the scripted broker's verifier (test infrastructure
  // living in main because FakeKafkaBroker, which takes it, lives there).

  /** Broker-side credential set: principal → password, plus the offered
    * mechanism list. */
  final case class ServerConfig(users: Map[String, String],
      mechanisms: Set[String] = Mechanisms)

  private def unSaslName(n: String): String =
    n.replace("=2C", ",").replace("=3D", "=")

  /** Per-connection SASL server state machine. Not thread-safe — one per
    * broker connection, like the rest of the connection handler. */
  final class ServerSession(cfg: ServerConfig) {
    private var mechanism: String = _
    private var authed = false
    // SCRAM state across the two authenticate round trips
    private var scramUser: String = _
    private var scramClientFirstBare: String = _
    private var scramServerFirst: String = _
    private var scramSalt: Array[Byte] = _
    private var scramNonce: String = _

    def authenticated: Boolean = authed

    /** SaslHandshake: (error code, mechanisms to report). */
    def handshake(mech: String): (Short, Seq[String]) = {
      val offered = cfg.mechanisms.toSeq.sorted
      if (!cfg.mechanisms(mech)) (ErrUnsupportedMechanism, offered)
      else { mechanism = mech; (0.toShort, offered) }
    }

    /** SaslAuthenticate: (error code, error message, response bytes). */
    def authenticateStep(token: Array[Byte])
        : (Short, String, Array[Byte]) = {
      if (mechanism == null)
        return (ErrIllegalSaslState, "SaslHandshake required first", null)
      mechanism match {
        case "PLAIN" =>
          val parts = new String(token, UTF_8).split("\u0000", -1)
          if (parts.length != 3)
            (ErrAuthenticationFailed, "malformed PLAIN token", null)
          else if (cfg.users.get(parts(1)).contains(parts(2))) {
            authed = true; (0.toShort, null, Array.emptyByteArray)
          } else (ErrAuthenticationFailed,
            "PLAIN authentication failed", null)
        case scram => scramStep(alg(scram), token)
      }
    }

    private def b64(b: Array[Byte]) =
      java.util.Base64.getEncoder.encodeToString(b)

    private def scramStep(a: Scram.HashAlg, token: Array[Byte])
        : (Short, String, Array[Byte]) = {
      val msg = new String(token, UTF_8)
      if (scramServerFirst == null) {
        // client-first: gs2 header "n,," + bare
        if (!msg.startsWith("n,,"))
          return (ErrAuthenticationFailed, "bad gs2 header", null)
        scramClientFirstBare = msg.substring(3)
        val attrs = Scram.attrs(scramClientFirstBare)
        scramUser = unSaslName(attrs.getOrElse('n', ""))
        if (!cfg.users.contains(scramUser))
          return (ErrAuthenticationFailed, s"unknown user $scramUser", null)
        val clientNonce = attrs.get('r').getOrElse(
          // a malformed client-first must answer a protocol error, not
          // kill the connection thread with NoSuchElementException
          return (ErrAuthenticationFailed,
            "malformed client-first: missing r= nonce", null))
        scramSalt = new Array[Byte](16)
        new java.security.SecureRandom().nextBytes(scramSalt)
        scramNonce = clientNonce + b64({
          val ext = new Array[Byte](12)
          new java.security.SecureRandom().nextBytes(ext); ext
        })
        scramServerFirst =
          s"r=$scramNonce,s=${b64(scramSalt)},i=4096"
        (0.toShort, null, scramServerFirst.getBytes(UTF_8))
      } else {
        // client-final: verify nonce + proof, answer server signature
        val attrs = Scram.attrs(msg)
        if (!attrs.get('r').contains(scramNonce))
          return (ErrAuthenticationFailed, "nonce mismatch", null)
        // a client-final missing p= answers a protocol error instead of
        // throwing (NoSuchElementException / substring(0,-1)) and killing
        // the connection thread (r16 advice)
        val proofIdx = msg.lastIndexOf(",p=")
        val proofB64 = attrs.get('p').getOrElse(
          return (ErrAuthenticationFailed,
            "malformed client-final: missing p= proof", null))
        if (proofIdx < 0)
          return (ErrAuthenticationFailed,
            "malformed client-final: missing p= proof", null)
        val withoutProof = msg.substring(0, proofIdx)
        val authMessage =
          s"$scramClientFirstBare,$scramServerFirst,$withoutProof"
        val salted = Scram.hi(a, cfg.users(scramUser), scramSalt, 4096)
        val clientKey = Scram.hmac(a, salted, "Client Key".getBytes(UTF_8))
        val storedKey = Scram.h(a, clientKey)
        val clientSig =
          Scram.hmac(a, storedKey, authMessage.getBytes(UTF_8))
        val proof = try java.util.Base64.getDecoder.decode(proofB64) catch {
          case _: IllegalArgumentException =>
            return (ErrAuthenticationFailed,
              "malformed client-final: p= is not base64", null)
        }
        if (proof.length != clientSig.length)
          return (ErrAuthenticationFailed,
            "malformed client-final: proof length", null)
        val recovered = Scram.xor(proof, clientSig)
        // constant-time comparison (MessageDigest.isEqual) — the class
        // lives in src/main even though only the scripted broker uses it
        if (!java.security.MessageDigest.isEqual(
            Scram.h(a, recovered), storedKey)) {
          // reset so a retry restarts the exchange cleanly
          scramServerFirst = null
          return (ErrAuthenticationFailed,
            "SCRAM authentication failed", null)
        }
        val serverKey = Scram.hmac(a, salted, "Server Key".getBytes(UTF_8))
        val serverSig =
          Scram.hmac(a, serverKey, authMessage.getBytes(UTF_8))
        authed = true
        (0.toShort, null, s"v=${b64(serverSig)}".getBytes(UTF_8))
      }
    }
  }
}
