package graft

import graft.sink.kafka.{KafkaSasl, KafkaWire}
import java.io.{DataInputStream, DataOutputStream}
import java.net.{ServerSocket, Socket}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/** Scripted in-process Kafka broker for wire-producer tests — the
  * FakeWalsender pattern at the sink boundary (reference analogue:
  * rd_kafka_mock_cluster in src/sink/kafka/producer_test.zig). Speaks the
  * same public protocol subset as [[KafkaWire]]: ApiVersions v0,
  * Metadata v0, Produce v3 with message-format-v2 RecordBatches (CRC32C
  * verified on every ingested batch — a corrupt frame fails the test, not
  * just the request). Concurrent connections each get a handler thread, so
  * per-partition producer tasks can produce in parallel.
  *
  * Scripting:
  *  - `pushProduceErrors(code, n)` — the next n Produce requests fail with
  *    `code` and their records are NOT stored (the mock-cluster
  *    push_request_errors analogue used for fail-fast and retry tests).
  *  - `brokerless = true` — Metadata reports an empty broker list
  *    (testConnection must fail).
  *
  * Lives in main (not test) because the benchmark's broker
  * (`perfbench`'s `Broker`) builds against the main classes only, and
  * the CDC workloads produce into this broker as the engine's Kafka.
  * `retain = false` skips queueing full record strings and keeps only the
  * delivered (topic, lsn) set, so a ~1M-record drain does not hold every
  * payload in broker memory.
  */
final class FakeKafkaBroker(topics: Map[String, Int],
    retain: Boolean = true,
    tls: Option[javax.net.ssl.SSLContext] = None,
    sasl: Option[KafkaSasl.ServerConfig] = None) extends AutoCloseable {
  // with `tls`, the broker speaks TLS from byte 0 (security.protocol=SSL —
  // the Kafka protocol has no in-band upgrade); the handshake runs lazily
  // on the accepted socket's first stream use inside handle(), so a client
  // the broker's certificate can't satisfy fails ITS side of the handshake
  // and the per-connection thread just exits
  private val server: ServerSocket = tls match {
    case Some(ctx) => ctx.getServerSocketFactory.createServerSocket(0)
    case None => new ServerSocket(0)
  }
  val port: Int = server.getLocalPort

  /** (topic, partition, key, value) in arrival order. */
  val received = new ConcurrentLinkedQueue[(String, Int, String, String)]()
  /** Distinct delivered (topic, meta.lsn) — the delivered-SET honesty
    * metric, comparable 1:1 with the frames-file sink's
    * `distinct(topic, lsn)` count. Maintained in every mode. */
  val deliveredLsn: java.util.Set[(String, String)] =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(String, String)]()
  /** Produce requests seen (including scripted failures). */
  val produceRequests = new java.util.concurrent.atomic.AtomicInteger(0)
  @volatile var brokerless = false
  private val scriptedErrors = new ConcurrentLinkedQueue[Short]()
  private val threads = TrieMap.empty[Thread, Unit]
  @volatile private var running = true

  def pushProduceErrors(code: Short, n: Int): Unit =
    (0 until n).foreach(_ => scriptedErrors.add(code))

  def clearProduceErrors(): Unit = scriptedErrors.clear()

  def receivedSeq: Seq[(String, Int, String, String)] =
    received.asScala.toSeq

  private val acceptor = new Thread(() => {
    while (running) {
      try {
        val s = server.accept()
        val t = new Thread(() => handle(s), s"fake-kafka-conn")
        t.setDaemon(true)
        threads.put(t, ()); t.start()
      } catch { case _: Exception => /* server closed */ }
    }
  }, "fake-kafka-acceptor")
  acceptor.setDaemon(true)
  acceptor.start()

  private def handle(s: Socket): Unit = {
    try {
      val in = new DataInputStream(new java.io.BufferedInputStream(
        s.getInputStream))
      val out = new DataOutputStream(new java.io.BufferedOutputStream(
        s.getOutputStream))
      // per-connection SASL state (when the broker is SASL-configured):
      // real brokers allow ApiVersions before authentication and nothing
      // else — a data API on an unauthenticated connection kills it, the
      // fail-fast twin of the real broker's error-and-close
      val saslSession = sasl.map(new KafkaSasl.ServerSession(_))
      while (running) {
        val frame = KafkaWire.readFrame(in)
        val req = new KafkaWire.In(frame)
        val apiKey = req.i16(); val version = req.i16()
        val corrId = req.i32(); req.str() // clientId
        saslSession.foreach { ss =>
          if (!ss.authenticated &&
              apiKey != KafkaSasl.ApiSaslHandshake &&
              apiKey != KafkaSasl.ApiSaslAuthenticate &&
              apiKey != KafkaWire.ApiVersions)
            throw new IllegalStateException(
              s"api key $apiKey before SASL authentication")
        }
        val body = new KafkaWire.Out
        body.i32(corrId)
        apiKey match {
          case KafkaSasl.ApiSaslHandshake =>
            val mech = req.str()
            val (err, mechs) = saslSession match {
              case Some(ss) => ss.handshake(mech)
              case None =>
                // no SASL configured: a handshake on a plaintext/SSL
                // broker is a client config error — reject loudly
                (KafkaSasl.ErrIllegalSaslState, Seq.empty[String])
            }
            body.i16(err)
            body.i32(mechs.size); mechs.foreach(body.str)
          case KafkaSasl.ApiSaslAuthenticate =>
            val token = req.bytes()
            val (err, msg, data) = saslSession match {
              case Some(ss) => ss.authenticateStep(token)
              case None => (KafkaSasl.ErrIllegalSaslState,
                "broker has no SASL configured", null)
            }
            body.i16(err); body.str(msg); body.bytes(data)
          case KafkaWire.ApiVersions =>
            body.i16(0) // error
            body.i32(3)
            body.i16(KafkaWire.ApiProduce); body.i16(3); body.i16(3)
            body.i16(KafkaWire.ApiMetadata); body.i16(0); body.i16(0)
            body.i16(KafkaWire.ApiVersions); body.i16(0); body.i16(0)
          case KafkaWire.ApiMetadata =>
            val nReq = req.i32()
            val asked = (0 until nReq).map(_ => req.str())
            val report = if (asked.isEmpty) topics.keys.toSeq.sorted
              else asked.filter(topics.contains)
            if (brokerless) body.i32(0)
            else { body.i32(1); body.i32(0); body.str("localhost"); body.i32(port) }
            body.i32(report.size)
            report.foreach { t =>
              body.i16(0); body.str(t)
              val np = topics(t)
              body.i32(np)
              (0 until np).foreach { p =>
                body.i16(0); body.i32(p); body.i32(0) // leader 0
                body.i32(1); body.i32(0) // replicas [0]
                body.i32(1); body.i32(0) // isr [0]
              }
            }
          case KafkaWire.ApiProduce =>
            produceRequests.incrementAndGet()
            req.str() // transactional_id
            req.i16() // acks
            req.i32() // timeout
            val err = Option(scriptedErrors.poll())
            val nTopics = req.i32()
            body.i32(nTopics)
            (0 until nTopics).foreach { _ =>
              val topic = req.str()
              body.str(topic)
              val nParts = req.i32()
              body.i32(nParts)
              (0 until nParts).foreach { _ =>
                val partition = req.i32()
                val batch = req.bytes()
                val code = err.getOrElse(KafkaWire.ErrNone)
                if (code == KafkaWire.ErrNone && batch != null) {
                  // decode VERIFIES the CRC32C — a corrupt producer frame
                  // fails here loudly
                  KafkaWire.decodeRecordBatch(batch).foreach { r =>
                    val v =
                      if (r.value == null) null else new String(r.value, "UTF-8")
                    if (v != null) {
                      val i = v.lastIndexOf("\"lsn\":\"")
                      if (i >= 0) {
                        val e = v.indexOf('"', i + 7)
                        if (e > i) deliveredLsn.add((topic, v.substring(i + 7, e)))
                      }
                    }
                    if (retain) received.add((topic, partition,
                      if (r.key == null) null else new String(r.key, "UTF-8"),
                      v))
                  }
                }
                body.i32(partition)
                body.i16(code)
                body.i64(0L)  // base_offset
                body.i64(-1L) // log_append_time
              }
            }
            body.i32(0) // throttle_time_ms
          case other =>
            throw new IllegalStateException(s"unscripted api key $other")
        }
        val b = body.toBytes
        out.writeInt(b.length); out.write(b); out.flush()
      }
    } catch { case _: Exception => /* connection closed */ }
    finally { try s.close() catch { case _: Exception => } }
  }

  override def close(): Unit = {
    running = false
    try server.close() catch { case _: Exception => }
  }
}
