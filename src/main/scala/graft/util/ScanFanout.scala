package graft.util

import org.apache.spark.sql.Dataset

/** Scale-adaptive scan fan-out (r19, guide §2.5 "input skew" / §1.2 step 1).
  *
  * The fixture parquet files are single-row-group and far below
  * `spark.sql.files.maxPartitionBytes`, so every table scan plans as ONE
  * task — and all pre-shuffle per-row work (image/audio codec kernels,
  * tokenization, partial aggregation) serializes on one core while the
  * other 31 idle. At production scale the same tables span thousands of
  * row groups and the scan parallelism comes from the file layout, so a
  * blanket `repartition(n)` would add a full payload shuffle exactly where
  * the guide's worked example (§8) says never to add one.
  *
  * [[fan]] resolves that tension adaptively: it round-robin repartitions to
  * the session's shuffle parallelism ONLY when the plan's estimated input
  * size is below one scan split (`maxPartitionBytes`) — i.e. when the scan
  * is provably single-task. Any input that already plans multiple splits
  * passes through untouched, so at scale this is the identity and no
  * payload bytes ever cross an added exchange. The explicit partition
  * count is deliberately pinned (AQE only coalesces ENSURE_REQUIREMENTS /
  * keyless-REBALANCE shuffles, and AQE sizes by shuffle input bytes —
  * blind to the per-row kernel cost downstream; same rationale as
  * simKnnGraph's pinned repartition).
  */
object ScanFanout {

  /** `ds` repartitioned to the session's shuffle parallelism when its
    * estimated input is below one scan split; `ds` unchanged otherwise. */
  def fan[T](ds: Dataset[T]): Dataset[T] = {
    val conf = ds.sparkSession.sessionState.conf
    val target = conf.numShufflePartitions
    if (target <= 1) return ds
    // idempotent: a frame already fanned upstream (a round-robin
    // Repartition to the same target anywhere in the plan) passes through,
    // so nested helpers never stack a second shuffle of the same rows
    val alreadyFanned = ds.queryExecution.logical.collectFirst {
      case r: org.apache.spark.sql.catalyst.plans.logical.Repartition
          if r.numPartitions == target => r
    }.isDefined
    if (alreadyFanned) return ds
    val bytes = ds.queryExecution.optimizedPlan.stats.sizeInBytes
    if (bytes >= BigInt(conf.filesMaxPartitionBytes)) ds
    else ds.repartition(target)
  }

  /** Keyed variant (r20): hash-repartition on the downstream aggregation
    * key when the scan is provably single-task, so the following groupBy
    * REUSES the exchange (same key, same partition count = the session's
    * shuffle parallelism) instead of adding a round-robin shuffle plus the
    * aggregation's own. Identity at scale on the same guard as [[fan]].
    * For per-row kernels with no downstream key, use [[fan]]. */
  def fanBy[T](ds: Dataset[T],
      cols: org.apache.spark.sql.Column*): Dataset[T] = {
    val conf = ds.sparkSession.sessionState.conf
    val target = conf.numShufflePartitions
    if (target <= 1) return ds
    val bytes = ds.queryExecution.optimizedPlan.stats.sizeInBytes
    if (bytes >= BigInt(conf.filesMaxPartitionBytes)) ds
    else ds.repartition(target, cols: _*)
  }
}
