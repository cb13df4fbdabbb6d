package graft

import graft.operators.Routing
import graft.sink.kafka.WireFrameProducer
import graft.source.wal.{WalFixture, WalLog}
import graft.streaming.StreamingPipeline
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** Ratchet on the shipped path's per-micro-batch shape, with the wire
  * producer against the scripted broker: each batch with data is ONE SQL
  * execution (the producer runs the batch's planned rows, no nested query),
  * the routing key is not re-parsed by `get_json_object`, routing and
  * tallies use no case mapping and no CASE chain, and the observation has
  * three columns however many (stream, op) pairs are configured. */
class BatchShapeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  /** A WAL directory holding 60 fixture events. */
  private def walDir(): String = {
    val dir = Files.createTempDirectory("graft-shape-wal").toString
    val seen = scala.collection.mutable.Set.empty[String]
    val events = (1L to 60L).map(i => WalFixture.Ev(i, 1700000000000000L + i * 1000000L,
      i % 5, Seq("click", "purchase", "signup", "view")(i.toInt % 4), i * 0.5, "{}"))
    WalLog.write(Paths.get(dir, "00000000.wal"),
      events.iterator.flatMap(e => WalFixture.frames(e, seen)))
    dir
  }

  test("no get_json_object in the shipped frame's plan") {
    // the shipped frame over the stream (analyzed: a streaming plan is only
    // optimized inside a running query) and over a batch of envelope rows
    import spark.implicits._
    // (an RDD: the optimizer would fold a local Seq's projection away)
    val batch = spark.sparkContext.parallelize(Seq(
        ("INSERT", "{\"id\":1}", "postgres", "public.click", 1700000000L, "0/10", 16L)))
      .toDF("op", "data", "source", "resource", "commit_ts", "lsn", "lsn_num")
    Seq(StreamingPipeline.kafkaFrame(StreamingPipeline.walStream(spark, walDir()),
        Routing.fixtureStreams).queryExecution.analyzed,
      StreamingPipeline.kafkaFrame(batch, Routing.fixtureStreams).queryExecution.optimizedPlan
    ).foreach { plan =>
      val jsonPaths = plan.flatMap(_.expressions.flatMap(_.collect {
        case e if e.getClass.getSimpleName == "GetJsonObject" => e }))
      assert(jsonPaths.isEmpty, plan.treeString)
      assert(!plan.treeString.contains("get_json_object"), plan.treeString)
    }
  }

  test("one SQL execution per micro-batch with data") {
    val wal = walDir()
    val ckpt = Files.createTempDirectory("graft-shape-ckpt").toString
    val broker = new FakeKafkaBroker(Map(
      "cdc.click" -> 2, "cdc.purchase" -> 2, "cdc.signup" -> 2, "cdc.view" -> 2))
    val listener = new RecordingListener
    spark.sparkContext.addSparkListener(listener)
    try {
      val q = StreamingPipeline.start(spark, wal, Routing.fixtureStreams, ckpt,
        outDir = wal + "-unused",
        producer = Some(new WireFrameProducer("localhost", broker.port)),
        triggerMs = 25L, maxEventsPerBatch = 20)
      val (runId, batches) =
        try {
          q.processAllAvailable()
          (q.runId.toString, q.recentProgress.filter(_.numInputRows > 0).map(_.batchId).distinct)
        } finally q.stop()
      listener.sync(spark)
      val executions = listener.events.count {
        case e: SparkListenerSQLExecutionStart => e.description.contains(runId)
        case _ => false
      }
      assert(batches.length >= 3, s"batches with data: ${batches.toSeq}")
      assert(executions == batches.length,
        s"$executions SQL executions for ${batches.length} batches with data")
      assert(broker.receivedSeq.nonEmpty)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      broker.close()
    }
  }

  test("no case mapping or CASE in the shipped query's plans; a 3-column observation") {
    val wal = walDir()
    // 9 and 1 (stream, op) pairs
    Seq(Routing.fixtureStreams, Routing.fixtureStreams.take(1).map(
      _.copy(operations = Seq("insert")))).foreach { streams =>
      val ckpt = Files.createTempDirectory("graft-shape-ckpt").toString
      val broker = new FakeKafkaBroker(streams.map(_.destination -> 1).toMap)
      val q = StreamingPipeline.start(spark, wal, streams, ckpt,
        outDir = wal + "-unused",
        producer = Some(new WireFrameProducer("localhost", broker.port)),
        triggerMs = 25L, maxEventsPerBatch = 20)
      try {
        q.processAllAvailable()
        val exec = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution
        Seq(exec.optimizedPlan, exec.executedPlan).foreach { plan =>
          val found = plan.flatMap(_.expressions.flatMap(_.collect {
            case e if Set("Lower", "Upper", "InitCap", "CaseWhen")(
              e.getClass.getSimpleName) => e.getClass.getSimpleName }))
          assert(found.isEmpty, plan.treeString)
        }
        val observed = q.recentProgress.filter(_.numInputRows > 0)
          .map(_.observedMetrics.get("graft"))
        assert(observed.nonEmpty)
        observed.foreach(row => assert(row.length == 3, row.schema))
      } finally {
        q.stop()
        broker.close()
      }
    }
  }
}
