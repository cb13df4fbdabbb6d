package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Ratchets over the main sources: one place builds a `SparkSession`
  * (`GraftSession`), and the set of `GRAFT_*` environment knobs is the
  * inventory below. A second builder or a new knob fails here; a deleted
  * knob must leave the inventory too.
  */
class SessionRatchetSpec extends AnyFunSuite {
  private val mainRoot = Paths.get("src/main")

  /** Every main source file's code, comments stripped. */
  private lazy val sources: Seq[(Path, String)] = {
    val walk = Files.walk(mainRoot)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map { p =>
        val text = new String(Files.readAllBytes(p), "UTF-8")
        p -> text.replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")
      }
    finally walk.close()
  }

  private val knobs = Set(
    "GRAFT_BENCH_10X", "GRAFT_BENCH_10X_WARMUP", "GRAFT_BENCH_ANN",
    "GRAFT_BENCH_ANN_INGEST", "GRAFT_BENCH_ANN_SWEEP",
    "GRAFT_BENCH_CONTAM_LOAD_BAR", "GRAFT_BENCH_DRAIN", "GRAFT_BENCH_FLOOR",
    "GRAFT_BENCH_FLOOR_DEBUG", "GRAFT_BENCH_FLOOR_PASSES",
    "GRAFT_BENCH_FLOOR_WIRE", "GRAFT_BENCH_HD_WARMUP", "GRAFT_BENCH_LIVE",
    "GRAFT_BENCH_LIVE_10X", "GRAFT_BENCH_LIVE_2DB", "GRAFT_BENCH_LIVE_2X4",
    "GRAFT_BENCH_LIVE_4DB", "GRAFT_BENCH_LIVE_8DB", "GRAFT_BENCH_LOAD_THRESH",
    "GRAFT_BENCH_LOAD_WAIT_S", "GRAFT_BENCH_ONLY", "GRAFT_BENCH_OUT",
    "GRAFT_BENCH_PASSES", "GRAFT_BENCH_SCALE", "GRAFT_BENCH_SINK",
    "GRAFT_BENCH_SLICE", "GRAFT_BENCH_SUITE", "GRAFT_BENCH_WIRE",
    "GRAFT_DRAIN_AND_EXIT", "GRAFT_DRAIN_GRACE_MS", "GRAFT_EAGER_CHECKPOINT",
    "GRAFT_HTTP_PORT", "GRAFT_KAFKA_BOOTSTRAP", "GRAFT_KNN_BLOCK",
    "GRAFT_KNN_CELL", "GRAFT_PLAN_EXEC", "GRAFT_SMOKE_APPEND",
    "GRAFT_SMOKE_COPIES", "GRAFT_SMOKE_EMB_JITTER", "GRAFT_SMOKE_JITTER",
    "GRAFT_SMOKE_LOAD_BAR", "GRAFT_SMOKE_ONLY", "GRAFT_SMOKE_SRC",
    "GRAFT_SMOKE_TABLES", "GRAFT_TRIGGER_MS", "GRAFT_VERIFY_ONLY")

  test("SparkSession.builder() appears only in GraftSession") {
    assert(sources.nonEmpty, s"no sources under ${mainRoot.toAbsolutePath}")
    val builders = sources.collect {
      case (p, code) if code.contains("SparkSession.builder()") =>
        p.getFileName.toString
    }
    assert(builders == Seq("GraftSession.scala"),
      s"SparkSession built outside GraftSession: $builders")
  }

  test("the GRAFT_* environment knobs read equal the inventory") {
    val read = sources.flatMap { case (_, code) =>
      "\"(GRAFT_[A-Z0-9_]+)\"".r.findAllMatchIn(code).map(_.group(1))
    }.toSet
    assert(read -- knobs == Set.empty, "knobs missing from the inventory")
    assert(knobs -- read == Set.empty, "inventory knobs no longer read")
  }
}
