package graft.perfbench

import java.nio.file.{Files, Path, Paths}

final case class Args(workload: String, seed: Long, seconds: Int,
    trace: Boolean, runDir: Path, streams: Path, sfDir: String,
    fingerprints: Path)

/** Runs one workload and writes its raw measurements to `<run-dir>/raw.json`;
  * perfbench/run.py builds this, launches it, and turns the raw file into
  * the benchmark's metrics.
  *
  * {{{
  *   graft.perfbench.BenchMain <workload> <seed> <seconds> <trace 0|1>
  *     <run-dir> <streams.json> <sf-dir> <fingerprints.json>
  * }}}
  */
object BenchMain {
  def main(argv: Array[String]): Unit = {
    val Array(w, seed, secs, trace, dir, streams, sf, fp) = argv
    val a = Args(w, seed.toLong, secs.toInt, trace == "1", Paths.get(dir),
      Paths.get(streams), sf, Paths.get(fp))
    Files.createDirectories(a.runDir)
    val env0 = Map("nproc" -> Common.nproc, "loadavg_start" -> Common.loadAvg())
    val raw = (w, a.trace) match {
      case ("wal_backlog", false) => WalBacklog.run(a)
      case ("pg_live", false) => PgLive.run(a)
      case ("wal_backlog", true) => TracedCdc.walBacklog(a)
      case ("pg_live", true) => TracedCdc.pgLive(a)
      case ("suite", _) => Suite.run(a)
      case ("suite_record", _) => Suite.record(a)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    Common.writeJson(a.runDir.resolve("raw.json"),
      env0 ++ raw ++ Map("workload" -> w, "seed" -> a.seed,
        "loadavg_end" -> Common.loadAvg()))
    sys.exit(0)
  }
}
