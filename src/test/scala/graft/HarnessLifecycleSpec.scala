package graft

import graft.source.postgres.PgServerHarness
import org.scalatest.funsuite.AnyFunSuite

/** Disk-footprint contract of the throwaway PostgreSQL harness (r13): a
  * live-drain run retains its WHOLE generated backlog as WAL (slots never
  * confirm, so nothing is recycled — the r12 4db rung's instance was
  * 1.6 GB), and `stop()` used to leave the instance dir on disk forever.
  * 25 GB of dead `graft-livepg-*` dirs had accumulated on the box when the
  * r12 `wal_drain_10x` regression was root-caused to exactly this leak.
  * The contract pinned here: stop() releases the on-disk footprint, and
  * it does so AFTER the server is actually down (an immediate-mode stop
  * with the data dir ripped out from under it would be a crash, not a
  * shutdown). Boots its OWN instance — the shared LivePostgres singleton
  * must survive for the other live suites. Skips where no binaries exist.
  */
class HarnessLifecycleSpec extends AnyFunSuite {

  test("stop() deletes the instance dir after shutting the server down") {
    assume(PgServerHarness.binariesPresent,
      "no usable postgres server in this environment")
    val h = PgServerHarness.start(scramUser = None, tls = false)
      .getOrElse(fail("harness boot failed with binaries present"))
    val dir = h.instanceDir
    assert(java.nio.file.Files.exists(dir), "instance dir missing while up")
    // the server is genuinely alive: a session round-trips a query
    val s = h.session()
    try assert(s.simpleQuery("SELECT 1 AS one").single("one").contains("1"))
    finally s.close()
    // hosts sample the postmaster process tree's CPU around a live drain
    // through serverPid — the PID it returns must be real
    val pid = h.serverPid
    assert(pid.nonEmpty, "serverPid unreadable while the server is up")
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"/proc/${pid.get}")),
      s"postmaster.pid names a dead process ${pid.get}")
    h.stop()
    assert(!java.nio.file.Files.exists(dir),
      s"instance dir $dir survived stop() — the r12 leak class is back")
    // idempotent: a second stop must not throw on the missing dir
    h.stop()
  }
}
