package graft

import graft.config.{EngineConfig, StreamDef}
import org.scalatest.funsuite.AnyFunSuite
import java.util.Locale

class ConfigSpec extends AnyFunSuite {
  private def base(streams: StreamDef*) =
    EngineConfig("postgres", "kafka", "json", streams)

  private val ok = StreamDef("users", "public.users",
    Seq("insert", "update"), "cdc.users")

  test("valid config passes") {
    assert(base(ok).normalized.validate.isEmpty)
  }

  test("resource normalization: bare table → public-qualified (config.zig:473-480)") {
    val s = StreamDef("t", "users", Seq("insert"), "d").normalized
    assert(s.resource == "public.users")
    val q = StreamDef("t", "other.users", Seq("insert"), "d").normalized
    assert(q.resource == "other.users")
  }

  test("op normalization and validation do not depend on the default locale") {
    // under tr-TR, "INSERT".toLowerCase is "ınsert" (dotless i)
    val before = Locale.getDefault
    Locale.setDefault(Locale.forLanguageTag("tr-TR"))
    try {
      val s = StreamDef("t", "users", Seq("INSERT", "Delete", "READ"), "d")
      assert(s.normalized.operations == Seq("insert", "delete", "read"))
      assert(base(s).validate.isEmpty, base(s).validate)
    } finally Locale.setDefault(before)
  }

  test("closed enums for source/sink/format (config.zig:21-26)") {
    assert(EngineConfig("mysql", "kafka", "json", Seq(ok)).validate.nonEmpty)
    assert(EngineConfig("postgres", "s3", "json", Seq(ok)).validate.nonEmpty)
    assert(EngineConfig("postgres", "kafka", "avro", Seq(ok)).validate.nonEmpty)
  }

  test("duplicate stream names rejected (config.zig:388-466)") {
    assert(base(ok, ok.copy(resource = "public.x")).validate
      .exists(_.contains("duplicate")))
  }

  test("unknown operations and bad names rejected") {
    assert(base(ok.copy(operations = Seq("upsert"))).validate.nonEmpty)
    assert(base(ok.copy(name = "bad name!")).validate.nonEmpty)
    assert(base(ok.copy(operations = Seq())).validate.nonEmpty)
    assert(base(ok.copy(routingKey = "")).validate.nonEmpty)
  }

  test("operation-set predicates gate snapshot/validation (config.zig:119-147)") {
    assert(ok.copy(operations = Seq("insert", "DELETE")).hasDeleteOperation)
    assert(!ok.hasDeleteOperation)
    val r = ok.copy(operations = Seq("read"))
    assert(r.hasReadOperation && r.needsInitialSnapshot)
    assert(ok.matchesOp("INSERT") && ok.matchesOp("insert") && !ok.matchesOp("READ"))
  }
}
