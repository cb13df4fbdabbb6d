package graft.util

import graft.GraftSession
import org.apache.spark.sql.DataFrame

/** Lifecycle helper for `localCheckpoint()`-materialized frames.
  *
  * Iterative queries (label propagation, BFS, k-core peeling, connected
  * components) checkpoint per round to keep the plan iteration-count-
  * independent — but a checkpointed RDD's blocks live in the block manager
  * until unpersisted or session end, so a loop that never releases round
  * R−1 pins rounds×n rows of superseded state (r11 VERDICT "What's wrong"
  * #2; the knn edge cache learned the same lesson in r11 via
  * `invalidateKnnEdges`). The rule these helpers encode: release a
  * checkpointed frame as soon as the LAST frame derived from it is itself
  * materialized — and never release a frame the returned plan still reads,
  * because a localCheckpoint has truncated lineage and cannot be recomputed
  * once its blocks are gone.
  */
object Checkpoints {

  /** The checkpoint RDDs inside a frame's analyzed plan (the blocks
    * [[release]] unpersists). A non-checkpointed frame yields none. */
  def rdds(df: DataFrame): Seq[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.toSeq

  private val releasedCount = new java.util.concurrent.atomic.AtomicLong

  /** Total checkpoint RDDs released since JVM start — the observability
    * hook for "iterative loops actually release superseded rounds"
    * (monitoring at scale; IterativeCheckpointLifecycleSpec's gate). */
  def releasedTotal: Long = releasedCount.get

  /** Unpersist a superseded checkpointed frame's blocks (non-blocking;
    * failures swallowed — releasing is an optimization, never a
    * correctness step). Only call once nothing will read the frame again:
    * truncated lineage cannot recompute released blocks.
    *
    * Lazily-checkpointed frames (r20): an RDD that is checkpoint-MARKED
    * but not yet materialized must NOT be unpersisted — clearing its
    * storage level before the first compute means nothing gets cached,
    * and once `doCheckpoint` truncates the lineage after that compute,
    * any SECOND consumer fails with "checkpoint block not found". Such a
    * frame holds no blocks anyway (there is nothing to release), so the
    * guard skips it; its blocks are swept later by [[releaseOwned]] or a
    * post-materialization release. */
  def release(df: DataFrame): Unit =
    try rdds(df).foreach { r =>
      if (r.isCheckpointed) {
        r.unpersist(blocking = false)
        releasedCount.incrementAndGet()
      }
    } catch { case _: Throwable => () }

  /** Unconditional unpersist for frames whose lifecycle is OVER — the
    * post-consumption sweep ([[releaseOwned]]). Unlike [[release]] this
    * also frees frames that were cached by AQE stage materialization but
    * never finalized by an action's doCheckpoint (Spark finalizes only
    * the NEAREST marked ancestor, so superseded loop rounds stay
    * unfinalized); that is safe here and only here because the owned
    * contract guarantees no future read — an unfinalized frame released
    * early would instead crash a later doCheckpoint on its cleared
    * storage level. */
  private def releaseConsumed(df: DataFrame): Unit =
    try rdds(df).foreach { r =>
      r.unpersist(blocking = false)
      releasedCount.incrementAndGet()
    } catch { case _: Throwable => () }

  // ------------------------------------------------------------------
  // Query-owned checkpoint registry (r12 VERDICT #6). A one-shot query
  // that checkpoints a multiply-consumed frame (mm_sim_dct's descriptor
  // frame, pagerank's edge frame, the set-op count rollups…) returns a
  // plan that READS the checkpoint, so the query legitimately cannot
  // release it in-query — but nothing else ever released it either, so
  // every invocation pinned another frame's blocks for the session
  // lifetime (Bench invokes each query 4×, ScaleSmoke 3× per rung). The
  // registry closes the class: `owned` checkpoints AND records the frame
  // under the owning session's identity (GraftSession.owner); the
  // HARNESS (Bench / Verify / ScaleSmoke — whoever consumed the query's
  // output) calls `releaseOwned` once the output is materialized,
  // returning block-manager state to baseline. A query built in a
  // GraftSession.queryScope clone registers under its caller, so the
  // caller's sweep frees it. Correctness needs nothing from this: an
  // unreleased frame is only memory, and a released one is never re-read
  // because release happens strictly after consumption.
  // ------------------------------------------------------------------

  private val owned = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.ConcurrentLinkedQueue[DataFrame]]

  /** LAZY by default since r20: the eager form's materialization ran one
    * extra job per call site (and wrote the final stage's rows to the
    * block manager in that job only to read them back in the consumer's
    * first pass). With `eager = false` the checkpoint-marked RDD
    * materializes inside the FIRST consuming job — same blocks, same
    * truncated lineage, one job and one block read-back fewer. Under AQE
    * the plan's intermediate exchange stages still execute at build time
    * (`toRdd` materializes query stages), so only the final stage moves
    * into the consumer. `GRAFT_EAGER_CHECKPOINT=1` restores the old
    * behavior for A/B. */
  private val eagerCheckpoints: Boolean =
    sys.env.getOrElse("GRAFT_EAGER_CHECKPOINT", "0") == "1"

  /** Checkpoint `df` (lazily — see [[eagerCheckpoints]]) and register the
    * result as owned by a query of `df`'s session — the drop-in for
    * in-query `.localCheckpoint()` calls whose returned plan reads the
    * checkpoint.
    *
    * Registration retries until the queue it added to is still the mapped
    * one: a concurrent [[releaseOwned]] for the same session can remove
    * the queue between computeIfAbsent and add, which would strand the
    * frame on a detached queue with no release path (a silent block leak
    * under parallel suites). If the removal lands after the re-check, the
    * concurrent release sweeps the just-added frame — the legitimate
    * "registered then immediately released" ordering, never a leak. */
  // NOTE (r20): there is deliberately NO un-registered lazy checkpoint
  // helper. A lazy checkpoint that is not owned-registered can NEVER be
  // safely freed by its creator alone: Spark's doCheckpoint finalizes
  // only the NEAREST marked ancestor per action, so frames sitting
  // behind a later checkpoint stay unfinalized and the guarded
  // [[release]] must skip them — only the post-consumption owned sweep
  // (unconditional) can reclaim their blocks.

  def ownedCheckpoint(df: DataFrame): DataFrame = {
    val c = df.localCheckpoint(eager = eagerCheckpoints)
    register(c)
    c
  }

  private def register(c: DataFrame): Unit = {
    val id = GraftSession.owner(c.sparkSession)
    var registered = false
    while (!registered) {
      val q = owned.computeIfAbsent(id,
        _ => new java.util.concurrent.ConcurrentLinkedQueue[DataFrame])
      q.add(c)
      if (owned.get(id) eq q) registered = true
      else q.remove(c) // queue was detached mid-register: retry on the live one
    }
  }

  /** Frames currently registered for `s` (the lifecycle-spec gate). */
  def ownedCount(s: org.apache.spark.sql.SparkSession): Int = {
    val q = owned.get(GraftSession.owner(s)); if (q == null) 0 else q.size
  }

  /** Registered frames for `s` — spec introspection only (the lifecycle
    * gate asserts their specific RDD ids leave the persistent-RDD
    * registry after [[releaseOwned]], which a count can't prove under
    * parallel suites). */
  private[graft] def ownedFrames(
      s: org.apache.spark.sql.SparkSession): Seq[DataFrame] = {
    val q = owned.get(GraftSession.owner(s))
    if (q == null) Seq.empty
    else {
      import scala.jdk.CollectionConverters._
      q.iterator().asScala.toSeq
    }
  }

  /** Release every owned checkpoint registered for `s` since the last
    * call — the harness hook after a query's output is consumed. Also
    * sweeps registries of stopped sessions (their UUIDs never recur).
    * Returns the number of frames released for `s`. */
  def releaseOwned(s: org.apache.spark.sql.SparkSession): Int = {
    val it = owned.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val head = e.getValue.peek()
      if (head != null && head.sparkSession.sparkContext.isStopped) it.remove()
    }
    val q = owned.remove(GraftSession.owner(s))
    if (q == null) 0
    else {
      var n = 0
      val qi = q.iterator()
      while (qi.hasNext) { releaseConsumed(qi.next()); n += 1 }
      n
    }
  }
}
