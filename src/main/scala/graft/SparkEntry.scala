package graft

import graft.queries.{AnalyticsQueries, CdcQueries, ExtQueries, OlapDeepQueries}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 appears in [[queries]] with a
  * matching DuckDB oracle in [[oracleSql]]; aliases are identical on both
  * sides (the driver sorts columns by name before hashing).
  */
object SparkEntry {

  private val modules: Seq[Map[String, (CdcQueries.QFn, String)]] = Seq(
    CdcQueries.all, ExtQueries.all, AnalyticsQueries.all, OlapDeepQueries.all)

  /** Flagship: the full CDC pipeline — change-log → typed envelope →
    * broadcast routing fan-out → serialize-once JSON → Kafka-shaped
    * (topic, key, value) frame. Driver smoke-checks rows>0 on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    CdcQueries.cdcKafkaMessages._1(spark, "/root/testdata/sf0.001")

  // Queries whose aggregate buffers grow with the data: they keep Spark's
  // default object-agg threshold (see GraftSession's rationale).
  private val unboundedBufferQueries = Set("events_funnel_steps")

  /** One entry per implemented operator from SURVEY.md §2. Each query is
    * built in its own [[GraftSession.queryScope]] clone of the caller's
    * session, holding that query's object-agg threshold, so the returned
    * frame runs under its own conf whatever else is built or run before
    * it is consumed. Owned checkpoints still key on the caller: release
    * them with `Checkpoints.releaseOwned(caller)` once the output is
    * consumed. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.flatten.map { case (name, (fn, _)) =>
      val threshold =
        if (unboundedBufferQueries(name)) 128 else GraftSession.ObjAggThreshold
      name -> ((s: SparkSession, dir: String) =>
        fn(GraftSession.queryScope(s, threshold), dir))
    }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    modules.flatten.collect { case (name, (_, sql)) if sql.nonEmpty =>
      name -> sql
    }.toMap
}
