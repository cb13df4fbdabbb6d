package graft

import graft.config.StreamDef
import graft.model.{ChangeEvent, Meta, Op}
import graft.serialization.JsonEnvelope
import graft.sink.kafka.{KafkaWire, WireFrameProducer}
import graft.streaming.{SnapshotDelivery, StreamingPipeline}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

/** The `WireFrameProducer` contract beyond KafkaWireSpec's: the shipped
  * 9-column frame, null and non-ASCII keys and values, the snapshot path,
  * and the column-type check that must fail before any job runs. */
class WireFrameProducerSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private val streams = Seq(
    StreamDef("users", "public.users", Seq("insert", "update", "read"), "cdc.users"),
    StreamDef("users_by_name", "public.users", Seq("insert", "read"),
      "cdc.users.by_name", routingKey = "name"))
  private val topics = Map("cdc.users" -> 3, "cdc.users.by_name" -> 2)

  private val names = Seq("Alice", "Zoë", "中文", "emoji 😀", "q\"uote", "")

  private def event(i: Long, op: String): ChangeEvent = ChangeEvent(op,
    JsonEnvelope.obj(Seq("id" -> i, "name" -> names((i % names.size).toInt),
      "note" -> s"línea\n$i")),
    Meta(ChangeEvent.SourceName, "public.users", 1700000000L + i,
      ChangeEvent.lsnText(0x100L + i)))

  /** The envelope frame `PgWalSource` emits, as `SnapshotDelivery` builds it. */
  private def events(evs: Seq[ChangeEvent]): DataFrame = {
    import spark.implicits._
    evs.map(e => (e.op, e.data, e.meta.source, e.meta.resource, e.meta.timestamp,
        e.meta.lsn, ChangeEvent.lsnValue(e.meta.lsn)))
      .toDF("op", "data", "source", "resource", "commit_ts", "lsn", "lsn_num")
  }

  private def withBroker(f: (FakeKafkaBroker, WireFrameProducer) => Unit): Unit = {
    val broker = new FakeKafkaBroker(topics ++ Map("t" -> 2))
    try f(broker, new WireFrameProducer("localhost", broker.port))
    finally broker.close()
  }

  /** What the broker stored: (topic, key, value), keys on their murmur2
    * partition. */
  private def delivered(broker: FakeKafkaBroker): Seq[(String, String, String)] =
    broker.receivedSeq.map { case (t, p, k, v) =>
      if (k != null)
        assert(p == KafkaWire.partitionFor(k.getBytes(UTF_8), (topics ++ Map("t" -> 2))(t)),
          s"key $k on the wrong partition")
      (t, k, v)
    }

  private def sorted(rows: Seq[(String, String, String)]) =
    rows.sortBy(r => (r._1, String.valueOf(r._2), r._3))

  test("a kafkaFrame-shaped 9-column frame delivers its topic, key and value") {
    val frame = StreamingPipeline.kafkaFrame(
      events((1L to 40L).map(i => event(i, if (i % 3 == 0) Op.Update else Op.Insert))),
      streams)
    assert(frame.columns.toSeq == Seq("topic", "key", "value", "stream", "lsn",
      "lsn_num", "op", "resource", "commit_ts"))
    val want = frame.select("topic", "key", "value").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    assert(want.size == 40 + 27) // every event to "users", inserts also by name
    assert(want.exists(_._2 == "Zoë") && want.exists(_._2 == "") && want.exists(_._2 == "40"))
    withBroker { (broker, p) =>
      p.produce(frame)
      assert(sorted(delivered(broker)) == sorted(want))
    }
  }

  test("a null key is sent as a null Kafka key; non-ASCII keys and values keep their bytes") {
    import spark.implicits._
    val rows = Seq(("t", null, "v-null"), ("t", "ключ", "значение 😀"),
      ("t", "", "é\u0000\u001f"), ("t", "k", "\"quoted\" \\ 中"))
    withBroker { (broker, p) =>
      p.produce(rows.toDF("topic", "key", "value").repartition(2))
      assert(sorted(delivered(broker)) == sorted(rows))
    }
  }

  test("snapshot READs delivered through SnapshotDelivery reach the broker as the stream's frames") {
    val reads = (1L to 25L).map(i => event(i, Op.Read))
    val want = StreamingPipeline.kafkaFrame(events(reads), streams)
      .select("topic", "key", "value").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    withBroker { (broker, p) =>
      val out = Files.createTempDirectory("graft-wfp-snap").toString + "/out"
      val d = new SnapshotDelivery(spark, streams, Some(p), out, chunkRows = 10)
      reads.foreach(d.emit)
      d.flush()
      assert(d.deliveredCount == 25)
      val got = delivered(broker)
      assert(got.size == 50)
      assert(sorted(got) == sorted(want))
      assert(got.filter(_._1 == "cdc.users").map(_._2).toSet == (1 to 25).map(_.toString).toSet)
      assert(got.forall { case (_, _, v) => v.startsWith("{\"op\":\"READ\",\"data\":{\"id\":") })
    }
  }

  test("a non-string topic, key or value column fails before any job runs, naming it") {
    import spark.implicits._
    val frames = Seq(
      "topic" -> Seq((1, "k", "v")).toDF("topic", "key", "value"),
      "key" -> Seq(("t", 7L, "v")).toDF("topic", "key", "value"),
      "value" -> Seq(("t", "k", Array[Byte](1, 2))).toDF("topic", "key", "value"),
      // an exchange in the plan: planning it alone would already run jobs
      "key" -> Seq(("t", 7L, "v")).toDF("topic", "key", "value").repartition(3))
    val listener = new RecordingListener
    spark.sparkContext.addSparkListener(listener)
    try withBroker { (broker, p) =>
      frames.zipWithIndex.foreach { case ((column, frame), i) =>
        val group = s"wfp-type-check-$i"
        spark.sparkContext.setJobGroup(group, "type check")
        val ex = try intercept[IllegalArgumentException](p.produce(frame))
          finally spark.sparkContext.clearJobGroup()
        assert(ex.getMessage.contains(s"'$column'"), ex.getMessage)
        listener.sync(spark)
        assert(listener.jobsInGroup(group).isEmpty, s"a job ran for the bad '$column' frame")
      }
      assert(broker.receivedSeq.isEmpty)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
