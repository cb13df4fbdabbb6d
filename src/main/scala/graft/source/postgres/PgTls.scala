package graft.source.postgres

import java.io.{DataInputStream, DataOutputStream, FileInputStream}
import java.net.Socket
import java.security.KeyStore
import java.security.cert.{CertificateFactory, X509Certificate}
import javax.net.ssl.{SSLContext, SSLSocket, TrustManager, TrustManagerFactory, X509TrustManager}

/** TLS for the PostgreSQL wire: the SSLRequest negotiation that precedes the
  * StartupMessage (protocol docs "SSL Session Encryption": 8-byte packet
  * `int32 len=8, int32 80877103`; the server answers a single byte — 'S' to
  * proceed with a TLS handshake on the same socket, 'N' to refuse).
  *
  * Modes mirror libpq's sslmode surface, minus the downgrade modes:
  *  - `disable`     — plaintext; no SSLRequest is sent.
  *  - `require`     — TLS or fail; the peer certificate is NOT verified
  *                    (libpq `require` semantics: encryption without
  *                    authentication of the server).
  *  - `verify-ca`   — TLS, certificate chain verified against `sslrootcert`.
  *  - `verify-full` — `verify-ca` + hostname verification (RFC 6125 via
  *                    JSSE endpoint identification).
  * `allow`/`prefer` are deliberately unsupported: both silently downgrade to
  * plaintext on a MITM's 'N', which is exactly the failure mode a replication
  * pipeline must not hide. The reference nudges users the same direction
  * (reference: src/source/postgres/replication_protocol.zig:142-143 — "set
  * sslmode=require or higher").
  *
  * Validation happens at construction: a typo'd mode or a verify mode
  * without a root cert fails before any socket is opened. The Kafka wire
  * producer's `wire+tls://` bootstrap builds the same config
  * (sink/kafka/WireEndpoint.scala).
  */
object PgTls {

  /** SSLRequest magic code (1234.5679 in the protocol's major.minor form). */
  val SslRequestCode = 80877103

  val Modes: Set[String] = Set("disable", "require", "verify-ca", "verify-full")

  final case class SslConfig(mode: String = "disable",
      rootCertPath: Option[String] = None) {
    require(Modes(mode),
      s"unknown sslmode '$mode' (allowed: ${Modes.toSeq.sorted.mkString(", ")}" +
        "; 'allow'/'prefer' are unsupported by design — they downgrade " +
        "silently)")
    require(!(mode.startsWith("verify-") && rootCertPath.isEmpty),
      s"sslmode=$mode requires sslrootcert=<path to the CA certificate>")
    rootCertPath.foreach(p => require(java.nio.file.Files.isReadable(
      java.nio.file.Paths.get(p)), s"sslrootcert not readable: $p"))
    def enabled: Boolean = mode != "disable"
  }

  /** Negotiate TLS on a just-connected socket per `cfg`. Returns the socket
    * to speak protocol v3 on — the original for `disable`, the TLS-wrapped
    * one otherwise. Must run BEFORE the StartupMessage; any refusal or
    * handshake failure under a non-disable mode throws (never downgrades).
    * `host` is the name the user dialed — verify-full checks the peer
    * certificate against it, not against a resolved address. */
  def negotiate(socket: Socket, host: String, cfg: SslConfig): Socket = {
    if (!cfg.enabled) return socket
    val out = new DataOutputStream(socket.getOutputStream)
    out.writeInt(8); out.writeInt(SslRequestCode); out.flush()
    val answer = new DataInputStream(socket.getInputStream).readByte().toChar
    answer match {
      case 'S' => wrap(socket, host, cfg)
      case 'N' => throw new IllegalStateException(
        s"server refused TLS and sslmode=${cfg.mode} forbids plaintext")
      // a pre-TLS ErrorResponse ('E') or anything else: do not attempt to
      // parse bytes from an unauthenticated plaintext peer — fail closed
      case other => throw new IllegalStateException(
        s"unexpected SSLRequest answer '$other' (expected 'S' or 'N')")
    }
  }

  /** Wrap an already-connected socket in CLIENT TLS per `cfg` and complete
    * the handshake — no protocol preamble. The PG path calls this after its
    * SSLRequest negotiation; the Kafka wire producer calls it directly
    * (`security.protocol=SSL` is TLS from byte 0 — there is no in-band
    * upgrade in the Kafka protocol). `host` is the name the caller dialed;
    * verify-full checks the peer certificate against it. */
  def wrapClient(socket: Socket, host: String, cfg: SslConfig): SSLSocket =
    wrap(socket, host, cfg)

  private def wrap(socket: Socket, host: String, cfg: SslConfig): SSLSocket = {
    val ctx = SSLContext.getInstance("TLS")
    ctx.init(null, Array[TrustManager](trustManager(cfg)), null)
    val ssl = ctx.getSocketFactory
      .createSocket(socket, host, socket.getPort, true)
      .asInstanceOf[SSLSocket]
    ssl.setUseClientMode(true)
    if (cfg.mode == "verify-full") {
      val p = ssl.getSSLParameters
      p.setEndpointIdentificationAlgorithm("HTTPS") // RFC 6125 hostname check
      ssl.setSSLParameters(p)
    }
    ssl.startHandshake()
    ssl
  }

  private def trustManager(cfg: SslConfig): X509TrustManager = cfg.mode match {
    case "require" => InsecureTrustAll
    case _ => // verify-ca / verify-full: trust exactly the configured roots
      val cf = CertificateFactory.getInstance("X.509")
      val in = new FileInputStream(cfg.rootCertPath.get)
      val certs =
        try cf.generateCertificates(in) // PEM chain or single DER
        finally in.close()
      require(!certs.isEmpty, s"no certificates in ${cfg.rootCertPath.get}")
      val ks = KeyStore.getInstance(KeyStore.getDefaultType)
      ks.load(null, null)
      val it = certs.iterator()
      var i = 0
      while (it.hasNext) { ks.setCertificateEntry(s"root-$i", it.next()); i += 1 }
      val tmf = TrustManagerFactory.getInstance(
        TrustManagerFactory.getDefaultAlgorithm)
      tmf.init(ks)
      tmf.getTrustManagers.collectFirst { case x: X509TrustManager => x }
        .getOrElse(throw new IllegalStateException("no X509TrustManager"))
  }

  /** `require` mode's trust policy: encrypt, don't authenticate — the
    * documented libpq semantics for sslmode=require. Named loudly so no one
    * mistakes it for a verification path. */
  private object InsecureTrustAll extends X509TrustManager {
    override def checkClientTrusted(c: Array[X509Certificate], a: String): Unit = ()
    override def checkServerTrusted(c: Array[X509Certificate], a: String): Unit = ()
    override def getAcceptedIssuers: Array[X509Certificate] = Array.empty
  }
}
