package graft.perfbench

import graft.FakeKafkaBroker
import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer

/** The benchmark-hosted broker plus an arrival collector: one thread drains
  * the broker's record queue every millisecond and stamps each record with
  * its arrival time. Parsing waits until the run ends, so the collector
  * takes no CPU from the engine during a timed window. */
final class Broker(topics: Seq[String]) extends AutoCloseable {
  val broker = new FakeKafkaBroker(topics.map(_ -> 1).toMap, retain = true)
  def port: Int = broker.port
  def bootstrap: String = s"wire://127.0.0.1:$port"

  private val arrivals = new ArrayBuffer[(String, String, Long)](1 << 16)
  @volatile private var running = true
  @volatile var valueBytes = 0L

  private val collector = new Thread(() => {
    while (running) {
      drain()
      Thread.sleep(1)
    }
    drain()
  }, "perfbench-collector")
  collector.setDaemon(true)
  collector.start()

  private def drain(): Unit = {
    var r = broker.received.poll()
    if (r != null) {
      val t = Common.nowUs()
      arrivals.synchronized {
        while (r != null) {
          arrivals += ((r._1, r._4, t))
          if (r._4 != null) valueBytes += r._4.length
          r = broker.received.poll()
        }
      }
    }
  }

  def count: Int = arrivals.synchronized(arrivals.size)
  def firstArrivalUs: Option[Long] = arrivals.synchronized(arrivals.headOption.map(_._3))
  /** Distinct (topic, lsn) delivered so far — the broker's own set. */
  def distinctLsn: Int = broker.deliveredLsn.size

  /** Write every arrival as `topic \t key \t arrival_us`; `key` is the
    * envelope's meta.lsn, or with `byIdentity` the change identity
    * table|op|id|v read from the row payload. */
  def dump(path: Path, byIdentity: Boolean): Unit = {
    val rows = arrivals.synchronized(arrivals.toVector)
    val w = Files.newBufferedWriter(path)
    try rows.foreach { case (topic, value, t) =>
      w.write(topic); w.write('\t'); w.write(Broker.key(value, byIdentity))
      w.write('\t'); w.write(t.toString); w.write('\n')
    } finally w.close()
  }

  override def close(): Unit = {
    running = false
    collector.join(5000)
    broker.close()
  }
}

object Broker {
  private val Ops = Map("INSERT" -> "I", "UPDATE" -> "U", "DELETE" -> "D", "READ" -> "R")

  def key(value: String, byIdentity: Boolean): String = {
    val env = Common.mapper.readTree(value)
    if (!byIdentity) env.path("meta").path("lsn").asText()
    else {
      val data = env.path("data")
      val table = env.path("meta").path("resource").asText().stripPrefix("public.")
      val v = Common.mapper.readTree(data.path("payload").asText()).path("v").asInt()
      s"$table|${Ops(env.path("op").asText())}|${data.path("id").asLong()}|$v"
    }
  }
}
