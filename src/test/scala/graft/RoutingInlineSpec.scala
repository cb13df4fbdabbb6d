package graft

import graft.config.StreamDef
import graft.operators.Routing
import org.scalatest.funsuite.AnyFunSuite

/** [[Routing.routeInline]] (one config-table lookup + explode, zero
  * exchanges) must be row-identical to [[Routing.route]] (broadcast join on
  * `lower(op)`) — same fan-out multiplicity, same inner-join miss behavior,
  * same columns — on the fixture config and a multi-subscriber config. The
  * events cover op case: mixed-case ASCII, the two non-ASCII code points
  * whose lower case holds ASCII (U+0130, U+212A KELVIN SIGN), U+0131, a
  * trailing space, an empty and a null op, so the inline form's ASCII fold
  * is checked against ICU's `lower`. The comparisons run codegen-only, so
  * the lookup's generated code must compile. The inline form is what the
  * streaming pipeline runs (it removes the per-micro-batch BroadcastExchange
  * build from the latency floor). */
class RoutingInlineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def events = {
    import spark.implicits._
    Seq(
      (1L, "INSERT", "public.click"),
      (2L, "insert", "public.click"),
      (3L, "update", "public.click"),
      (4L, "DELETE", "public.click"), // not in s_click's op set → dropped
      (5L, "insert", "public.purchase"),
      (6L, "delete", "public.purchase"),
      (7L, "read", "public.signup"),
      (8L, "insert", "public.error"), // unmatched resource → dropped
      (9L, "insert", "public.view"),
      (10L, "InSeRt", "public.click"),
      (11L, "uPDATE", "public.purchase"),
      (12L, "\u0130NSERT", "public.click"), // lower: "i\u0307nsert" → dropped
      (13L, "\u0131nsert", "public.click"), // dotless i → dropped
      (14L, "\u212Aey", "public.view"), // KELVIN SIGN: lower "key" → dropped
      (15L, "insert ", "public.click"), // trailing space → dropped
      (16L, "", "public.click"),
      (17L, null, "public.click"),
      (18L, "insert", null)
    ).toDF("lsn_num", "op", "resource")
  }

  private def assertSame(streams: Seq[StreamDef]): Unit = {
    val byJoin = Routing.route(events, Routing.streamsDF(spark, streams))
    val inline = Routing.routeInline(events, streams)
    assert(inline.columns.toSeq == byJoin.columns.toSeq,
      "column sets must match")
    val cols = inline.columns.map(org.apache.spark.sql.functions.col)
    SparkTestBase.codegenOnly(assert(
      inline.select(cols: _*).exceptAll(byJoin.select(cols: _*)).isEmpty &&
        byJoin.select(cols: _*).exceptAll(inline.select(cols: _*)).isEmpty,
      s"routeInline must equal broadcast-join route for $streams"))
  }

  test("inline route ≡ broadcast-join route on the fixture config") {
    assertSame(Routing.fixtureStreams)
  }

  test("inline route ≡ join route with multiple subscribers on one (resource, op)") {
    assertSame(Seq(
      StreamDef("a", "public.click", Seq("insert"), "t.a"),
      StreamDef("b", "public.click", Seq("insert", "update"), "t.b",
        routingKey = "user_id"),
      StreamDef("c", "public.purchase", Seq("delete"), "t.c")))
  }

  test("inline route plan has zero exchanges and stays in codegen") {
    val plan = Routing.routeInline(events, Routing.fixtureStreams)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"expected no exchange:\n$plan")
    // `*(1)` is the simple-string marker for a WholeStageCodegen stage
    assert(plan.contains("*(1) Generate"), s"expected codegen:\n$plan")
  }
}
