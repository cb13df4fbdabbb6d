package graft.operators

import graft.config.StreamDef
import graft.functions.StreamTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** F1 — stream match: filter + fan-out routing.
  *
  * The reference scans the configured streams per event and routes the event to
  * every stream whose resource matches exactly (schema-qualified) and whose
  * operation set contains the event's op, case-insensitively
  * (reference: src/processor/processor.zig:31-51; identity semantics
  * src/processor/routing_integration_test.zig:45-165). One event may route to
  * N sinks; READ events route only to read-opted streams (:170-211).
  *
  * Spark-native shape: the stream config is a tiny dimension, one row per
  * (stream, operation). Two forms route over it, with the same rows out:
  *  - [[routeInline]], what the engine and the cdc queries run: the config
  *    built once into a [[StreamTable]], one lookup per event and an
  *    `explode` of its matches. Zero exchanges, one codegen stage, no
  *    per-batch broadcast build and no one-time warm-up on the first batch.
  *  - [[route]], the reference form the specs compare against: a BROADCAST
  *    inner join on (resource, lower(op)); fan-out multiplicity falls out of
  *    the join.
  * Either way the source is scanned once, never once per stream — the
  * "serialize once, fan out many" optimization (processor.zig:204-206)
  * then applies upstream of the fan-out.
  */
object Routing {

  /** Default fixture streams used by the test queries; includes a stream per
    * resource with differing op sets and routing keys, and leaves
    * `public.error` unmatched (the matchStreams-miss path,
    * reference: src/benchmarks/match_streams_bench.zig). */
  val fixtureStreams: Seq[StreamDef] = Seq(
    StreamDef("s_click", "public.click", Seq("insert", "update"), "cdc.click"),
    StreamDef("s_purchase", "public.purchase", Seq("insert", "update", "delete"),
      "cdc.purchase", routingKey = "user_id"),
    StreamDef("s_signup", "public.signup", Seq("insert", "read"), "cdc.signup"),
    StreamDef("s_view", "public.view", Seq("insert"), "cdc.view"))

  /** (stream, resource, op, routing_key, topic) — one row per stream×op. */
  def streamsDF(spark: SparkSession, streams: Seq[StreamDef]): DataFrame = {
    import spark.implicits._
    streams.flatMap { s =>
      val n = s.normalized
      n.operations.map(op => (n.name, n.resource, op, n.routingKey, n.destination))
    }.toDF("stream", "s_resource", "s_op", "routing_key", "topic")
  }

  /** Fan-out route: every (event × matching stream) row survives. */
  def route(changes: DataFrame, streams: DataFrame): DataFrame =
    changes.join(
      broadcast(streams),
      changes("resource") === streams("s_resource") &&
        lower(changes("op")) === streams("s_op"))
      .drop("s_resource", "s_op")

  /** [[route]] with the dimension INLINED into the plan: the stream config
    * is a closed, tiny set (it comes from config, not data), so instead of
    * broadcasting a dimension table every micro-batch — a fresh
    * BroadcastExchange build is ~50–90 ms per batch, the dominant term of
    * the micro-batch latency floor — the config is built once into a
    * [[StreamTable]], one native expression looks up each row's
    * (resource, op) in it, and the fan-out is an `explode` of the matches.
    * Identical inner-join semantics (an unmatched event's NULL match list
    * explodes to zero rows; N subscribers on one (resource, op) explode to
    * N rows), pure whole-stage codegen, zero exchanges at ANY scale.
    *
    * Ops match by an ASCII case fold over the row's bytes, which matches
    * exactly the rows `lower(op)` matches (the argument is at
    * [[StreamTable]]). `lower` would build ICU's case table (>1 s of CPU) on
    * the first batch, and a DDL-string type would start the SQL parser while
    * the frame is built (~1.5 s), so neither is used here. Equality with the join
    * form is pinned by RoutingInlineSpec; keep `route` for a genuinely
    * dynamic dimension. */
  def routeInline(changes: DataFrame, streams: Seq[StreamDef]): DataFrame = {
    val kept = changes.columns
    changes
      .withColumn("__match",
        explode(new StreamTable(streams).route(col("resource"), col("op"))))
      .select(kept.map(col) ++ Seq(col("__match.stream").as("stream"),
        col("__match.routing_key").as("routing_key"),
        col("__match.topic").as("topic")): _*)
  }

  /** The fixture streams as a DuckDB VALUES clause (for oracle SQL). */
  def fixtureStreamsSql: String =
    fixtureStreams.flatMap { s =>
      val n = s.normalized
      n.operations.map(op =>
        s"('${n.name}','${n.resource}','$op','${n.routingKey}','${n.destination}')")
    }.mkString(
      "(SELECT * FROM (VALUES ", ", ",
      ") AS t(stream, s_resource, s_op, routing_key, topic))")
}
