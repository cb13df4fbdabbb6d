package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** Records the job starts and SQL/other events Spark posts. The listener
  * bus delivers asynchronously; [[sync]] runs a tagged one-task job and
  * returns once its start arrived — the bus is FIFO, so every event posted
  * before it has been delivered too. */
final class RecordingListener extends SparkListener {
  private val seen = new ConcurrentLinkedQueue[SparkListenerEvent]()

  override def onJobStart(e: SparkListenerJobStart): Unit = seen.add(e)
  override def onOtherEvent(e: SparkListenerEvent): Unit = seen.add(e)

  def events: Seq[SparkListenerEvent] = seen.asScala.toSeq

  /** Job starts submitted under job group `group`. */
  def jobsInGroup(group: String): Seq[SparkListenerJobStart] = events.collect {
    case j: SparkListenerJobStart
        if j.properties != null && j.properties.getProperty("spark.jobGroup.id") == group => j
  }

  def sync(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    sc.setJobGroup(tag, "listener sync")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (jobsInGroup(tag).isEmpty) {
      require(System.nanoTime() < deadline, "listener bus did not deliver the sync job")
      Thread.sleep(5)
    }
  }
}
