package graft.source.postgres

import java.nio.file.{Files, Path, Paths}
import scala.sys.process._

/** Boots a throwaway REAL PostgreSQL server (`wal_level=logical`) for the
  * live test tier and the live drain benchmark — NOT part of the pipeline
  * runtime. The reference keeps the same capability in its load stand
  * (`tests/load/` — a real server, a set-based SQL load generator, and the
  * client drained against it); here the harness is in-process so `sbt test`
  * and the benchmark's `pg_live` workload (`perfbench`, which builds
  * against the main classes only) can run against a real server wherever
  * postgres binaries happen to exist, and skip cleanly where they don't.
  *
  * Root note: postgres refuses to run as root, so when the JVM is root the
  * server commands run through `su postgres|nobody`; otherwise directly.
  * The instance lives under a fresh tmp dir on a free localhost port and is
  * stopped (immediate mode) by [[stop]] or a JVM shutdown hook.
  */
final class PgServerHarness private (
    val host: String, val port: Int, val superUser: String,
    binDir: String, baseDir: Path, runAsUser: Option[String],
    /** The server certificate (PEM) when TLS is enabled — the `sslrootcert`
      * a verify-ca/verify-full client trusts. */
    val serverCert: Option[Path]) {

  private def sh(cmd: String): Int = runAsUser match {
    case Some(u) => Seq("su", u, "-s", "/bin/bash", "-c", s"cd /tmp && $cmd").!
    case None => Seq("/bin/bash", "-c", cmd).!
  }

  def endpoint(user: String, password: Option[String]): SocketCopyBothChannel.Endpoint =
    SocketCopyBothChannel.Endpoint(host, port, user, "postgres", password)

  /** Endpoint into a specific database — logical decoding is per-database
    * (a slot belongs to the db it was created in), so database-sharded
    * drains need per-db sessions. */
  def endpoint(user: String, password: Option[String],
      database: String): SocketCopyBothChannel.Endpoint =
    SocketCopyBothChannel.Endpoint(host, port, user, database, password)

  /** A fresh superuser session over the engine's own wire stack. */
  def session(): PgSession = PgSession.connect(endpoint(superUser, None))

  /** A fresh superuser session into `database`. */
  def session(database: String): PgSession =
    PgSession.connect(endpoint(superUser, None, database))

  /** The instance's tmp dir (data dir, socket dir, logs, TLS material) —
    * deleted by [[stop]]; exposed so hosts and the lifecycle spec can
    * verify the on-disk footprint is actually released. */
  def instanceDir: Path = baseDir

  /** The postmaster's PID (first line of `data/postmaster.pid`) — lets a
    * host sample the server process tree's CPU around a live drain, so a
    * drift in the ~90%-read-wait drain points is attributable to client,
    * server, or box. */
  def serverPid: Option[Long] =
    try Some(Files.readAllLines(
      baseDir.resolve("data").resolve("postmaster.pid")).get(0).trim.toLong)
    catch { case _: Throwable => None }

  @volatile private var stopped = false
  def stop(): Unit = if (!stopped) {
    stopped = true
    sh(s"$binDir/pg_ctl -D ${baseDir.resolve("data")} -m immediate stop " +
      "> /dev/null 2>&1")
    // Delete the instance's tmp dir: a live-drain run retains the WHOLE
    // generated backlog as WAL (slots never confirm, so nothing is
    // recycled) — the r12 4db rung's instance was 1.6 GB, and stop()
    // leaving it on disk meant (a) it sat there while the SAME bench
    // process went on to run the wal_drain_10x temp-dir-heavy tier and
    // (b) every round's runs accumulated: 25 GB of dead graft-livepg-*
    // dirs were on this box when the r12 wal_drain_10x regression was
    // root-caused. Best-effort, children-before-parents; never throws —
    // cleanup must not fail a bench or a shutdown hook.
    try {
      val walk = Files.walk(baseDir)
      try {
        import scala.jdk.CollectionConverters._
        walk.sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(p =>
            try Files.deleteIfExists(p)
            catch { case _: java.io.IOException => () })
      } finally walk.close()
    } catch { case _: Throwable => () }
  }
}

object PgServerHarness {

  val DefaultSuperUser = "graft"

  def findBinDir: Option[String] = {
    val candidates =
      Seq("15", "16", "17", "14").map(v => s"/usr/lib/postgresql/$v/bin") ++
        Seq("/usr/local/pgsql/bin", "/usr/local/bin", "/usr/bin")
    candidates.find(d => Files.isExecutable(Paths.get(d, "initdb")) &&
      Files.isExecutable(Paths.get(d, "pg_ctl")))
  }

  def binariesPresent: Boolean = findBinDir.isDefined

  private def serverUser: Option[String] =
    if (System.getProperty("user.name") != "root") None
    else Seq("postgres", "nobody").find(u => Seq("id", "-u", u).! == 0)

  private def freePort(): Int = {
    val s = new java.net.ServerSocket(0)
    try s.getLocalPort finally s.close()
  }

  /** Boot a fresh instance; None when binaries are missing or boot fails
    * (reason on stderr). `scramUser` additionally creates a SCRAM-authed
    * role and a pg_hba entry for it — the live auth test path. `tls = true`
    * generates a self-signed server certificate (CN + IP SAN = loopback,
    * requires an `openssl` binary) and starts the server with `ssl=on`;
    * plaintext connections remain allowed (the hba `host` lines match
    * both), so TLS and non-TLS clients can be tested side by side. */
  def start(superUser: String = DefaultSuperUser,
      scramUser: Option[(String, String)] = None,
      tls: Boolean = false): Option[PgServerHarness] =
    try findBinDir.flatMap { bin => boot(bin, superUser, scramUser, tls) }
    catch { case e: Throwable =>
      System.err.println(s"[livepg] boot failed: $e")
      None
    }

  private def openssl: Option[String] =
    Seq("openssl", "/usr/bin/openssl", "/root/miniconda/bin/openssl")
      .find(p => scala.util.Try(Seq(p, "version").! == 0).getOrElse(false))

  /** Generate a self-signed cert+key for `ip` into `dir`; (cert, key). */
  def selfSignedCert(dir: Path, ip: String,
      cn: String = "livepg"): Option[(Path, Path)] = openssl.map { ssl =>
    val cert = dir.resolve(s"$cn.crt"); val key = dir.resolve(s"$cn.key")
    val rc = Seq(ssl, "req", "-new", "-x509", "-days", "2", "-nodes",
      "-subj", s"/CN=$cn", "-addext", s"subjectAltName=IP:$ip",
      "-keyout", key.toString, "-out", cert.toString).!
    require(rc == 0, s"openssl cert generation failed (rc=$rc)")
    (cert, key)
  }

  private def boot(binDir: String, superUser: String,
      scramUser: Option[(String, String)],
      tls: Boolean): Option[PgServerHarness] = {
    val host = "127.0.0.1"
    val base = Files.createTempDirectory("graft-livepg-")
    val dataDir = base.resolve("data")
    val sock = base.resolve("sock")
    Files.createDirectories(sock)
    val port = freePort()
    val asUser = serverUser
    // TLS material before the chown so the server user can read the key
    // (postgres additionally demands key perms 0600)
    val certKey = if (tls) {
      val ck = selfSignedCert(base, host, "livepg-server")
      if (ck.isEmpty) {
        System.err.println("[livepg] tls requested but no openssl; skipping")
        return None
      }
      ck.foreach { case (_, key) =>
        Seq("chmod", "600", key.toString).! }
      ck
    } else None
    val h = new PgServerHarness(host, port, superUser, binDir, base, asUser,
      certKey.map(_._1))
    def sh(cmd: String): Int = asUser match {
      case Some(u) => Seq("su", u, "-s", "/bin/bash", "-c", s"cd /tmp && $cmd").!
      case None => Seq("/bin/bash", "-c", cmd).!
    }
    asUser.foreach(u => Seq("chown", "-R", u, base.toString).!)
    if (sh(s"$binDir/initdb -D $dataDir -A trust -U $superUser " +
        s"> $base/initdb.log 2>&1") != 0) {
      System.err.println(s"[livepg] initdb failed, see $base/initdb.log")
      return None
    }
    // hba: SCRAM for the scram role (real SASL exchange incl. server
    // signature), trust for everything else on loopback
    val scramLine = scramUser.map { case (u, _) =>
      s"host all $u $host/32 scram-sha-256\n" }.getOrElse("")
    Files.writeString(dataDir.resolve("pg_hba.conf"),
      scramLine + s"host all all $host/32 trust\nlocal all all trust\n")
    asUser.foreach(u =>
      Seq("chown", u, dataDir.resolve("pg_hba.conf").toString).!)
    val tlsOpts = certKey.toSeq.flatMap { case (cert, key) =>
      Seq("-c ssl=on", s"-c ssl_cert_file=$cert", s"-c ssl_key_file=$key") }
    val opts = (Seq(
      s"-p $port",
      s"-c listen_addresses=$host",
      "-c wal_level=logical",
      // the live test tier shares one server across its specs, each
      // creating its own slot (about a dozen, not all dropped), and a
      // parallel snapshot opens one walsender per partition — 24 leaves
      // headroom for a retried open racing a not-yet-released sender
      "-c max_wal_senders=24",
      "-c max_replication_slots=24",
      // Throwaway-server durability/WAL tuning. Beyond speed, this makes the
      // live-drain bench DETERMINISTIC: with stock settings a checkpoint
      // landing mid-generation (max_wal_size 1 GB, timeout 5 min — both
      // plausibly crossed while a ~1M-row backlog builds) re-arms
      // full-page-image writes for every touched page, and the walsender
      // then has to read and decode a WAL stream whose VOLUME depends on
      // checkpoint timing — the r8→r9 live_drain_10x 2× swing's shape
      // (drain wall-clock is ~90% walsender read-wait, measured by
      // LiveDrainProfile, so WAL bytes ≈ drain time). No FPIs + no
      // mid-run checkpoints ⇒ same backlog, same WAL bytes, every run.
      // synchronous_commit stays ON deliberately: with fsync=off the
      // commit-time XLogFlush is a cheap buffer write, so the flushed
      // pointer tracks the write pointer at every commit — if it lagged
      // (sync commit off), the walsender's decode would stall at the flush
      // boundary and its WalSndWaitForWal keepalives would carry a walEnd
      // AHEAD of undelivered committed rows (observed: drains "completing"
      // with 8%% of the backlog undelivered).
      "-c fsync=off",
      "-c full_page_writes=off",
      "-c max_wal_size=16GB",
      "-c checkpoint_timeout=1h",
      "-c shared_buffers=512MB",
      "-c wal_buffers=64MB",
      "-c logical_decoding_work_mem=256MB",
      "-c autovacuum=off",
      s"-c unix_socket_directories=$sock",
      "-c log_min_messages=warning") ++ tlsOpts).mkString(" ")
    if (sh(s"$binDir/pg_ctl -D $dataDir -o '$opts' -l $base/server.log " +
        "-w -t 30 start") != 0) {
      System.err.println(s"[livepg] pg_ctl start failed, see $base/server.log")
      return None
    }
    Runtime.getRuntime.addShutdownHook(new Thread(() => h.stop()))
    // ready = our own stack can connect and run a query
    var s: PgSession = null
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (s == null && System.nanoTime() < deadline) {
      try s = h.session()
      catch { case _: Throwable => Thread.sleep(250) }
    }
    if (s == null) {
      System.err.println("[livepg] server never became ready")
      h.stop()
      return None
    }
    try scramUser.foreach { case (u, pw) =>
      // quote-escape: a password containing ' must not break (or worse,
      // rewrite) the statement — test-only harness, but SQL stays SQL
      val quoted = pw.replace("'", "''")
      s.simpleQuery(s"CREATE ROLE $u LOGIN REPLICATION PASSWORD '$quoted'")
    } finally s.close()
    Some(h)
  }
}
