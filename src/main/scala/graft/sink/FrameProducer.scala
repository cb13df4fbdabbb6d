package graft.sink

/** The seam between a shaped micro-batch and its delivery — what the
  * fail-injection tests exercise without a broker. The shipped
  * implementation is [[graft.sink.kafka.WireFrameProducer]], built from a
  * `wire://` or `wire+tls://` bootstrap. `produce` MUST throw on delivery
  * failure: Spark then fails the epoch and the restart-from-checkpoint
  * contract redelivers the batch (the reference's fail-fast + slot-resend
  * behavior, src/sink/kafka/producer.zig:430-502); consumers dedup on
  * meta.lsn. */
trait FrameProducer {
  /** `shaped` carries string (topic, key, value, …) columns. From
    * [[graft.streaming.StreamingPipeline.start]] its rows are key-partitioned
    * and LSN-ordered within partitions when `sinkParallelism > 1` or
    * `sliceEvents > 0`; otherwise they are the micro-batch's one partition
    * in WAL order. */
  def produce(shaped: org.apache.spark.sql.DataFrame): Unit
}
