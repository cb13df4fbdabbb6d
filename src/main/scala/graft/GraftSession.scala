package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.ColumnBridge

/** The engine's one `SparkSession` builder, and the per-query session scope.
  *
  * Every main and the test base build their session through [[getOrCreate]],
  * so the oracle gate (Verify), the bench, the pipeline (Main) and the tests
  * plan under the same conf:
  *
  *  - master `SPARK_MASTER`, else `local[cpus]`, where cpus is
  *    `SPARK_GRAFT_CPUS`, else the JVM's available processors;
  *  - shuffle partitions = cpus;
  *  - session time zone UTC;
  *  - `legacy.parquet.nanosAsLong`, so fixture timestamps written as
  *    TIMESTAMP(NANOS) stay readable;
  *  - object-agg fallback threshold [[ObjAggThreshold]] (below);
  *  - UI off, [[GraftExtensions]], log level WARN.
  *
  * Adaptive execution is not set: it is Spark 4's default.
  *
  * Object-agg threshold (r19). The engine's typed-imperative aggregates
  * (TopKByScore heaps, MinOrd/MaxOrd, the DCT fixed-64-coefficient lists,
  * market-basket's order-size-bounded part sets) carry O(k)-bounded buffers
  * of tens of bytes to ~2 KB. Spark's default objectHashAggregate fallback
  * threshold (128 in-memory keys) demotes them to sort-based on any
  * high-cardinality group, re-introducing exactly the per-group sort the
  * heap form exists to avoid. 64k keys × ~2 KB worst-case buffer is a
  * ~128 MB per-task upper bound, independent of scale, because the buffer
  * size is bounded by k, not by the data. The argument holds only for
  * bounded buffers: a query whose aggregate buffer grows with the data
  * (events_funnel_steps collect_lists one user's event times) runs at
  * Spark's default 128 through its own [[queryScope]]. The threshold
  * changes operator strategy only, never results.
  */
object GraftSession {
  val ObjAggKey = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
  val ObjAggThreshold = 65536

  /** `SPARK_GRAFT_CPUS`, else the JVM's available processors. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def getOrCreate(cpus: Int = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .appName("graft")
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config(ObjAggKey, ObjAggThreshold.toLong)
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  // Conf key a query scope carries: the session that owns its state.
  private val OwnerKey = "graft.session.owner"

  /** The identity query-owned state keys on: owned checkpoints
    * (`util.Checkpoints`) and the knn edge cache (`ExtQueries`). A
    * [[queryScope]] clone reports its caller's identity, so the caller
    * releases what its queries registered; any other session reports its
    * own UUID. */
  def owner(s: SparkSession): String =
    s.conf.getOption(OwnerKey).getOrElse(ColumnBridge.sessionUuid(s))

  /** A clone of `caller` for one query, with that query's object-agg
    * threshold. A frame built in it plans and runs under this conf,
    * whatever the caller builds or runs in between; the caller's session
    * is never changed. The clone inherits the caller's runtime conf and
    * temp views at the time of the call. */
  def queryScope(caller: SparkSession, objAggThreshold: Int): SparkSession = {
    val q = ColumnBridge.cloneSession(caller)
    q.conf.set(OwnerKey, owner(caller))
    q.conf.set(ObjAggKey, objAggThreshold.toLong)
    q
  }
}
