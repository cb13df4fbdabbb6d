package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Ratchets over the main sources: one place builds a `SparkSession`
  * (`GraftSession`), the set of `GRAFT_*` environment knobs is the
  * inventory below, and the shipped entry points are the mains listed
  * below. A second builder, a new knob or a new main fails here; a deleted
  * knob or main must leave its list too. Timing harnesses belong in
  * `perfbench/`, not in the shipped tree. Kafka and PostgreSQL are reached
  * only through the engine's own wire clients: the build ships no Kafka
  * connector and no JDBC driver, so code calling either could never run.
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
    "GRAFT_DRAIN_AND_EXIT", "GRAFT_DRAIN_GRACE_MS", "GRAFT_EAGER_CHECKPOINT",
    "GRAFT_HTTP_PORT", "GRAFT_KAFKA_BOOTSTRAP", "GRAFT_KNN_BLOCK",
    "GRAFT_KNN_CELL", "GRAFT_PLAN_EXEC", "GRAFT_SMOKE_APPEND",
    "GRAFT_SMOKE_COPIES", "GRAFT_SMOKE_EMB_JITTER", "GRAFT_SMOKE_JITTER",
    "GRAFT_SMOKE_LOAD_BAR", "GRAFT_SMOKE_ONLY", "GRAFT_SMOKE_SRC",
    "GRAFT_SMOKE_TABLES", "GRAFT_TRIGGER_MS", "GRAFT_VERIFY_ONLY")

  private val mains =
    Set("Main", "Verify", "ScaleSmoke", "JobCount", "PlanDump", "StreamDemo")

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

  test("no JDBC or stock Kafka connector call appears under src/main") {
    val banned = Seq("DriverManager", "java.sql.Connection", "format(\"kafka\")",
      "format(\"jdbc\")", "read.jdbc")
    val found = for {
      (p, code) <- sources
      b <- banned if code.contains(b)
    } yield s"${p.getFileName}: $b"
    assert(found.isEmpty, s"calls into jars this build does not ship: $found")
  }

  test("the objects defining a main are the shipped entry points") {
    // each `def main(` (or `extends App`) belongs to the nearest object
    // declared before it in the same file
    val objectDecl = "\\bobject\\s+([A-Za-z_][A-Za-z0-9_]*)".r
    val entry = "\\bdef\\s+main\\s*\\(|\\bextends\\s+App\\b".r
    val found = sources.flatMap { case (_, code) =>
      val objects = objectDecl.findAllMatchIn(code)
        .map(m => m.start -> m.group(1)).toSeq
      entry.findAllMatchIn(code).map { m =>
        objects.filter(_._1 < m.start).lastOption.map(_._2).getOrElse("?")
      }
    }.toSet
    assert(found == mains,
      s"mains under src/main: extra ${found -- mains}, missing ${mains -- found}")
  }
}
