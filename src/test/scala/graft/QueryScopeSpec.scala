package graft

import graft.util.Checkpoints
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Each `SparkEntry.queries` entry is built in its own clone of the caller's
  * session (`GraftSession.queryScope`): the query's conf binds to its own
  * run whatever is built or run in between, the caller's session is never
  * changed, and query-owned checkpoints still release through the caller.
  */
class QueryScopeSpec extends AnyFunSuite {
  private val dir = SparkTestBase.sf
  private val key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"

  // a private caller (own UUID, shared context): suites run in parallel in
  // this JVM, and its conf and owned registry must be this spec's alone
  private def caller(): SparkSession = SparkTestBase.spark.newSession()

  private def rows(s: SparkSession, q: String): Seq[String] =
    SparkEntry.queries(q)(s, dir).collect().map(_.toString).toSeq.sorted

  private def awaitPersistedGone(s: SparkSession, ids: Seq[Int]): Seq[Int] = {
    val deadline = System.nanoTime() + 10000000000L
    def still = ids.filter(s.sparkContext.getPersistentRDDs.contains)
    while (still.nonEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    still
  }

  test("a query runs under its own object-agg threshold after another is " +
      "built and run, and the caller's conf is untouched") {
    val s = caller()
    // runtime conf the clones must inherit (cloneSession, not newSession)
    s.conf.set("spark.sql.shuffle.partitions", "3")
    val before = s.conf.get(key)
    // the threshold each collect read from its executing session; the
    // listener is registered before the builds, so their clones copy it
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    s.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        if (f == "collect") seen.add(qe.sparkSession.conf.get(key))
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    def awaitSeen(n: Int): Seq[String] = {
      val deadline = System.nanoTime() + 10000000000L
      while (seen.size < n && System.nanoTime() < deadline) Thread.sleep(20)
      import scala.jdk.CollectionConverters._
      seen.asScala.toSeq
    }

    val a = SparkEntry.queries("events_funnel_steps")(s, dir)
    assert(s.conf.get(key) == before, "building A changed the caller's conf")
    val b = SparkEntry.queries("olap_market_basket")(s, dir)
    assert(s.conf.get(key) == before, "building B changed the caller's conf")
    assert(!(a.sparkSession eq s) && !(b.sparkSession eq s) &&
      !(a.sparkSession eq b.sparkSession), "queries share a session")
    assert(a.sparkSession.conf.get("spark.sql.shuffle.partitions") == "3",
      "the query scope lost the caller's runtime conf")

    val aRows = a.collect().map(_.toString).toSeq.sorted
    assert(awaitSeen(1) == Seq("128"), "A did not run under its own threshold")
    b.collect()
    assert(awaitSeen(2) == Seq("128", "65536"),
      "B did not run under its own threshold")
    assert(s.conf.get(key) == before, "running changed the caller's conf")

    assert(aRows == rows(caller(), "events_funnel_steps"),
      "A's rows differ from A run alone")
    val owned = Checkpoints.ownedFrames(s).flatMap(Checkpoints.rdds).map(_.id)
    Checkpoints.releaseOwned(s)
    assert(Checkpoints.ownedCount(s) == 0)
    assert(awaitPersistedGone(s, owned).isEmpty)
  }

  test("owned checkpoints of queries built in their own scopes release " +
      "through one releaseOwned(caller)") {
    val s = caller()
    val qs = Seq("events_markov_transitions", "olap_top_supplier")
    qs.foreach(q => assert(SparkEntry.queries(q)(s, dir).count() > 0))
    val frames = Checkpoints.ownedFrames(s)
    // one registering session per query, none of them the caller
    val sessions = frames.map(_.sparkSession).distinct
    assert(sessions.size == qs.size && !sessions.exists(_ eq s),
      s"owned frames came from ${sessions.size} sessions, expected ${qs.size}")
    val ids = frames.flatMap(Checkpoints.rdds).map(_.id)
    assert(ids.nonEmpty, "owned frames carried no checkpoint RDDs")
    assert(Checkpoints.releaseOwned(s) == frames.size)
    assert(Checkpoints.ownedCount(s) == 0)
    val still = awaitPersistedGone(s, ids)
    assert(still.isEmpty, s"RDDs $still still persisted after releaseOwned")
  }

  test("a graph query reading the shared knn edge build runs under its own " +
      "scope's conf, not the scope that built the edges") {
    val s = caller()
    val parts = "spark.sql.shuffle.partitions"
    s.conf.set(parts, "3")
    assert(SparkEntry.queries("graph_bfs_levels")(s, dir).count() > 0)
    Checkpoints.releaseOwned(s)
    s.conf.set(parts, "5")
    val kcore = SparkEntry.queries("graph_kcore")(s, dir)
    try {
      assert(kcore.sparkSession.conf.get(parts) == "5",
        "graph_kcore runs in the session that built the cached edges")
      assert(kcore.count() > 0)
    } finally {
      Checkpoints.releaseOwned(s)
      graft.queries.ExtQueries.invalidateKnnEdges(s)
    }
  }
}
