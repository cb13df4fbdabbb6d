package graft.config

import graft.model.Op
import java.util.Locale

/** Stream definitions — the engine's "query language".
  *
  * The reference's plan is static TOML config (reference: src/config/config.zig);
  * a stream selects a resource (schema-qualified table), an operation set, a
  * routing key and a sink destination. Validation semantics mirror
  * `Config.validate` + `normalizeResources` (config.zig:388-481):
  *  - source/sink/format enums are closed sets
  *  - stream names unique, non-empty, [a-zA-Z0-9_-]
  *  - resources normalized `t` → `public.t`; identity is schema-qualified
  *  - operations ⊆ {insert, update, delete, read}, case-insensitive
  *  - routing_key defaults to "id" (config.zig:110)
  */
final case class StreamDef(
    name: String,
    resource: String,
    operations: Seq[String],
    destination: String,
    routingKey: String = "id") {

  def normalized: StreamDef = {
    val res = if (resource.contains(".")) resource else s"public.$resource"
    copy(resource = res, operations = operations.map(_.toLowerCase(Locale.ROOT)))
  }

  /** Operation-set predicates gating validation & snapshot
    * (reference: src/config/config.zig:119-147). */
  def hasDeleteOperation: Boolean = operations.exists(_.equalsIgnoreCase("delete"))
  def hasReadOperation: Boolean = operations.exists(_.equalsIgnoreCase("read"))
  def needsInitialSnapshot: Boolean = hasReadOperation

  /** Case-insensitive op match (reference: src/processor/processor.zig:31-51). */
  def matchesOp(op: String): Boolean = operations.exists(_.equalsIgnoreCase(op))
}

/** Live-source connection settings (reference: src/config/config.zig:36-44,
  * `PostgresSource`). The connection string is read from the environment
  * variable named by `connectionEnv` — never stored in the config file, so
  * the password never lands on disk (the reference's `connection_env`
  * contract). */
final case class PostgresSourceDef(
    connectionEnv: String,
    slotName: String,
    publicationName: String,
    /** Per-statement response timeout for the bootstrap's simple queries.
      * A big-table snapshot FETCH can legitimately exceed the 30 s default;
      * mid-response timeout poisons the session (desync-safe), so a slow
      * snapshot deployment raises this instead of retrying into garbage. */
    queryTimeoutMs: Int = 30000) {
  def connectionUri: Option[String] = sys.env.get(connectionEnv)
}

final case class EngineConfig(
    sourceType: String,
    sinkType: String,
    format: String,
    streams: Seq[StreamDef],
    postgres: Option[PostgresSourceDef] = None) {

  def normalized: EngineConfig = copy(streams = streams.map(_.normalized))

  /** Collect all violations (empty = valid). Mirrors config.zig:388-466. */
  def validate: Seq[String] = {
    val errs = Seq.newBuilder[String]
    if (!EngineConfig.SourceTypes(sourceType)) errs += s"unknown source type: $sourceType"
    if (!EngineConfig.SinkTypes(sinkType)) errs += s"unknown sink type: $sinkType"
    if (!EngineConfig.Formats(format)) errs += s"unknown format: $format"
    if (streams.isEmpty) errs += "no streams configured"
    val dupes = streams.groupBy(_.name).collect { case (n, ss) if ss.size > 1 => n }
    dupes.foreach(n => errs += s"duplicate stream name: $n")
    streams.foreach { s =>
      if (s.name.isEmpty || !s.name.matches("[a-zA-Z0-9_-]+"))
        errs += s"invalid stream name: '${s.name}'"
      if (s.resource.isEmpty) errs += s"stream ${s.name}: empty resource"
      if (s.operations.isEmpty) errs += s"stream ${s.name}: no operations"
      s.operations.filterNot(o => Op.configurable(o.toLowerCase(Locale.ROOT)))
        .foreach(o => errs += s"stream ${s.name}: unknown operation '$o'")
      if (s.routingKey.isEmpty) errs += s"stream ${s.name}: empty routing_key"
    }
    postgres.foreach { pg =>
      if (pg.connectionEnv.isEmpty)
        errs += "source.postgres: empty connection_env"
      // same unquoted-identifier hardening as the replication command
      // builders — these names are interpolated into wire commands
      Seq("slot_name" -> pg.slotName, "publication_name" -> pg.publicationName)
        .foreach { case (f, v) =>
          if (!v.matches("[a-z_][a-z0-9_]*"))
            errs += s"source.postgres: invalid $f '$v' (lowercase unquoted identifier)"
        }
      if (pg.queryTimeoutMs <= 0)
        errs += s"source.postgres: query_timeout_ms must be positive (${pg.queryTimeoutMs})"
    }
    errs.result()
  }
}

object EngineConfig {
  /** Closed enums (reference: src/config/config.zig:21-26). */
  val SourceTypes: Set[String] = Set("postgres")
  val SinkTypes: Set[String] = Set("kafka")
  val Formats: Set[String] = Set("json")
}
