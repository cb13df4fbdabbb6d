package graft

import graft.util.Checkpoints
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Lifecycle contract of the ITERATIVE queries' per-round checkpoints (r11
  * VERDICT #3, the sequel to the knn cache's r10/r11 lifecycle rework): a
  * bounded- or fixpoint-round loop must release round R−1's checkpoint
  * blocks once round R is materialized, so block-manager state stays O(1)
  * in the round count instead of rounds×n rows — harmless at sf0.1, real
  * memory pressure at the 100 TB scale-up.
  *
  * Test design note: suites run in parallel in this JVM and every
  * localCheckpoint anywhere registers a persistent RDD, so a global
  * persistent-RDD COUNT assertion would race other suites. Instead:
  * (a) an id-specific unit proof that [[Checkpoints.release]] actually
  * removes the blocks from the registry, and (b) a monotonic release
  * counter proving the loops call it once per superseded round — together
  * they pin the O(1) property without cross-suite flake.
  */
class IterativeCheckpointLifecycleSpec extends AnyFunSuite {
  private val spark = SparkTestBase.spark
  import spark.implicits._

  test("Checkpoints.release removes a checkpointed frame's blocks from the registry") {
    val df = spark.range(100).toDF("x").localCheckpoint()
    val ids = Checkpoints.rdds(df).map(_.id)
    assert(ids.nonEmpty, "localCheckpoint produced no LogicalRDD")
    assert(ids.forall(spark.sparkContext.getPersistentRDDs.contains),
      "checkpoint blocks not registered")
    Checkpoints.release(df)
    val deadline = System.nanoTime() + 10000000000L
    def still = ids.filter(spark.sparkContext.getPersistentRDDs.contains)
    while (still.nonEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    assert(still.isEmpty, s"RDDs $still still persisted after release")
  }

  test("Components.connected on a long path releases one checkpoint per round") {
    // a path graph maximizes the round count of min-label propagation:
    // diameter-40 ⇒ ~40 rounds, so a loop that pins superseded rounds
    // accumulates ~40 frames here — the exact leak r11 flagged
    val n = 40
    val pairs = (0 until n - 1).map(i => (i.toLong, (i + 1).toLong))
      .toDF("a", "b")
    val r0 = Checkpoints.releasedTotal
    val labels = graft.dedup.Components.connected(pairs)
    val rows = labels.collect()
    val released = Checkpoints.releasedTotal - r0
    // every node reaches the path minimum
    assert(rows.length == n && rows.forall(_.getLong(1) == 0L),
      "path components wrong")
    // expected releases: the pair frame, ~(rounds−1) superseded label
    // frames, and the edge frame — anything ≥ n−10 proves the per-round
    // release runs (other suites can only inflate the global counter, and
    // an inflated count cannot hide a loop that releases nothing when the
    // loop contributes ~40 of the expected releases itself)
    assert(released >= n - 10,
      s"only $released checkpoint releases across a ~$n-round loop")
    // the returned frame must still be readable after all that releasing
    assert(labels.count() == n)
  }

  test("Components.connectedDoubling releases superseded star rounds") {
    val n = 33
    val pairs = (0 until n - 1).map(i => (i.toLong, (i + 1).toLong))
      .toDF("a", "b")
    val r0 = Checkpoints.releasedTotal
    val labels = graft.dedup.Components.connectedDoubling(pairs)
    val rows = labels.collect()
    assert(rows.length == n && rows.forall(_.getLong(1) == 0L))
    // O(log d) rounds ⇒ at least the pair frame + a few superseded rounds
    assert(Checkpoints.releasedTotal - r0 >= 3,
      "doubling loop released no superseded checkpoints")
  }

  test("query-owned checkpoints (mm_sim_dct et al) release to baseline via the registry") {
    // r12 VERDICT #6 / ADVICE: a one-shot query that checkpoints a frame
    // its returned plan reads (mm_sim_dct's descriptor frame) can't
    // release it in-query, and nothing else ever did — a harness invokes
    // each query several times (ScaleSmoke 3× per rung), so superseded
    // frames pinned blocks for the session lifetime. The registry closes
    // the class: the harness calls releaseOwned after consuming each
    // query's output.
    val s = spark.newSession()
    // two invocations back-to-back — the repeated-invocation shape that leaked
    (1 to 2).foreach { pass =>
      val out = SparkEntry.queries("mm_sim_dct")(s, SparkTestBase.sf)
      val n = out.count()
      assert(n > 0, s"pass $pass returned no rows")
      assert(Checkpoints.ownedCount(s) >= 1,
        s"pass $pass registered no owned checkpoint (descriptor frame)")
      // id-specific baseline proof (a global count races parallel suites):
      // the registered frames' RDD ids must leave the persistent registry
      val ids = Checkpoints.ownedFrames(s).flatMap(Checkpoints.rdds).map(_.id)
      assert(ids.nonEmpty, "owned frames carried no checkpoint RDDs")
      val released = Checkpoints.releaseOwned(s)
      assert(released >= 1 && Checkpoints.ownedCount(s) == 0)
      val deadline = System.nanoTime() + 10000000000L
      def still = ids.filter(s.sparkContext.getPersistentRDDs.contains)
      while (still.nonEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      assert(still.isEmpty,
        s"pass $pass: RDDs $still still persisted after releaseOwned")
    }
    // releaseOwned is strictly post-consumption, so results are unaffected:
    // a third run after two release cycles matches itself re-run
    val again = SparkEntry.queries("mm_sim_dct")(s, SparkTestBase.sf).count()
    assert(again > 0)
    Checkpoints.releaseOwned(s)
  }

  test("graph iterative queries release their per-round checkpoints and stay correct") {
    // fresh session (own cache entries), same contract as KnnCacheLifecycleSpec.
    // r20 (lazy checkpoints): a BOUNDED-round loop's in-loop release of
    // superseded rounds is a guarded no-op until the consuming action
    // finalizes the checkpoints (AQE stage materialization at build time
    // caches blocks but only a real action runs doCheckpoint), so the
    // lifecycle gate moves to the post-consumption sweep: after the
    // harness's releaseOwned, EVERY registered frame — per-round state
    // included — must leave the persistent-RDD registry. Live state during
    // one action is O(rounds) with rounds fixed at 2–4 for these queries;
    // the unbounded-round fixpoint loops (Components.connected) still
    // release per round because each round's convergence count is an
    // action (covered by the Components tests above).
    val s = spark.newSession()
    Seq("graph_label_propagation", "graph_bfs_levels", "graph_kcore")
      .foreach { q =>
        val r0 = Checkpoints.releasedTotal
        val out = SparkEntry.queries(q)(s, SparkTestBase.sf)
        val cnt = out.count()
        assert(Checkpoints.ownedCount(s) >= 2,
          s"$q registered fewer than 2 owned round checkpoints")
        val ids = Checkpoints.ownedFrames(s).flatMap(Checkpoints.rdds).map(_.id)
        // the result must not depend on released state: re-read matches
        assert(out.count() == cnt, s"$q result unstable after releases")
        Checkpoints.releaseOwned(s)
        assert(Checkpoints.releasedTotal - r0 >= 2,
          s"$q released fewer than 2 checkpoints incl. the owned sweep")
        val deadline = System.nanoTime() + 10000000000L
        def still = ids.filter(s.sparkContext.getPersistentRDDs.contains)
        while (still.nonEmpty && System.nanoTime() < deadline) Thread.sleep(50)
        assert(still.isEmpty,
          s"$q: RDDs $still still persisted after releaseOwned")
      }
    graft.queries.ExtQueries.invalidateKnnEdges(s)
  }
}
