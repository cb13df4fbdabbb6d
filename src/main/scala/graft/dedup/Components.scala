package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components by min-label propagation to fixpoint —
  * the canonical-cluster step that follows near-duplicate pair generation
  * (every node in a dup cluster gets the cluster's smallest id as its
  * component).
  *
  * Scale design: each round is ONE propagation join + ONE partial-aggregable
  * min, both hash-partitioned on the node key; lineage is truncated per round
  * (localCheckpoint) so the plan never grows with the iteration count, and
  * round counts are small in practice — near-dup clusters are near-cliques,
  * so label propagation converges in O(diameter) rounds, typically 1–2 plus
  * one no-change confirmation. Long-chain worst cases converge too (the
  * property spec proves a path graph), just in more rounds; a graph with
  * diameter in the hundreds wants [[connectedDoubling]] — the alternating
  * large-star/small-star algorithm (Kiveris et al., "Connected Components in
  * MapReduce and Beyond", SoCC'14), which contracts path length geometrically
  * and converges in O(log d) rounds. Same API, same output contract; both are
  * property-tested against an in-memory union-find on the same graphs.
  */
object Components {

  /** Connected components over an undirected pair list.
    *
    * @param pairs two numeric columns (a, b), one row per undirected edge;
    *              self-loops and duplicates are tolerated
    * @return (node, component) — every node that appears in `pairs`, labeled
    *         with the minimum node id reachable from it
    */
  def connected(pairs: DataFrame): DataFrame = {
    val Array(a, b) = pairs.columns
    // checkpoint the pair list BEFORE mirroring it: the union's two
    // branches would otherwise each evaluate the (often expensive)
    // pair-generation subtree — LSH joins, knn scoring — once. The
    // checkpoints here are LAZY (r20): each round's convergence count is
    // the action that materializes that round's state, so the loop runs
    // ONE job per round instead of two (checkpoint job + count job), and
    // round 1's count additionally folds in p/edges/seed materialization.
    val p = graft.util.Checkpoints.ownedCheckpoint(
      pairs.select(col(a).as("src"), col(b).as("dst")))
    val edges = graft.util.Checkpoints.ownedCheckpoint(
      p.union(p.select(col("dst"), col("src"))))
    // seed with round 1 already applied: component = min(self, neighbors)
    // — the node set is distinct(src) either way (edges are bidirected),
    // so seeding costs the same single aggregation as a plain distinct
    // but saves one full loop iteration (two joins + checkpoint + count)
    var labels = graft.util.Checkpoints.ownedCheckpoint(
      edges.groupBy(col("src"))
        .agg(min(col("dst")).as("mn"))
        .select(col("src").as("node"),
          least(col("src"), col("mn")).as("component")))
    var changed = 1L
    while (changed > 0) {
      val prop = edges.join(labels, col("src") === col("node"))
        .groupBy(col("dst")).agg(min(col("component")).as("p"))
        .withColumnRenamed("dst", "pnode")
      // carry the previous label through the propagation join so the
      // convergence count reads the SAME checkpointed result — a separate
      // old-vs-new self-join would add a join + shuffle per iteration
      val next = graft.util.Checkpoints.ownedCheckpoint(
        labels.join(prop, col("node") === col("pnode"), "left")
          .select(col("node"), col("component").as("prev"),
            least(col("component"), coalesce(col("p"), col("component")))
              .as("component")))
      changed = next.filter(col("component") =!= col("prev")).count()
      // the count materialized round R — round R−1's blocks will never be
      // read again (release is a guarded no-op on an unmaterialized lazy
      // frame; every frame released here was materialized by a count)
      graft.util.Checkpoints.release(labels)
      labels = next.select(col("node"), col("component"))
    }
    // p and edges are never FINALIZED (each round's count finalizes only
    // its own nearest-marked `next`), so these releases are guarded
    // no-ops — their blocks, and the final round's, are reclaimed by the
    // harness's releaseOwned sweep after the output is consumed; every
    // frame above is owned-registered for exactly that reason (r20).
    graft.util.Checkpoints.release(p)
    graft.util.Checkpoints.release(edges)
    labels
  }

  /** Connected components by alternating large-star / small-star rounds —
    * the high-diameter escape hatch. Where min propagation moves labels one
    * hop per round, each star round REWIRES the edge set so that long paths
    * contract geometrically: O(log d) rounds on a diameter-d graph.
    *
    * Per round (edges kept in canonical big→small direction, `u > v`):
    *  - large-star: every neighbor LARGER than a node is re-pointed at the
    *    minimum of that node's closed neighborhood;
    *  - small-star: every node and its smaller neighbors are re-pointed at
    *    the minimum among them.
    * At the fixpoint every component is a star centered on its minimum id,
    * so the edge list IS the label map. Each half-round is one
    * partial-aggregable min + one hash join on the node key, plus a
    * symmetric-difference count for convergence (two anti-joins);
    * localCheckpoint truncates lineage per round, so the plan stays
    * iteration-count-independent — the same properties that make
    * [[connected]] safe at 100 TB, minus the linear-in-diameter round count.
    *
    * Same input/output contract as [[connected]].
    */
  def connectedDoubling(pairs: DataFrame): DataFrame = {
    val Array(a, b) = pairs.columns
    val p = graft.util.Checkpoints.ownedCheckpoint(
      pairs.select(col(a).as("pu"), col(b).as("pv")))
    // self-loops and isolated nodes never survive the star rewiring — keep
    // the full node set aside so they surface in the output as their own
    // component, exactly like the propagation variant. Safe lazily (r20):
    // p stays cached until the harness's post-consumption sweep, so the
    // returned plan's nodes→p read always finds live blocks — the in-loop
    // release(p) below is a guarded no-op (p is never FINALIZED: counts
    // finalize only their nearest-marked round frame).
    val nodes = graft.util.Checkpoints.ownedCheckpoint(
      p.select(col("pu").as("node"))
        .union(p.select(col("pv").as("node"))).distinct())
    var edges = graft.util.Checkpoints.ownedCheckpoint(
      p.filter(col("pu") =!= col("pv"))
        .select(greatest(col("pu"), col("pv")).as("u"),
          least(col("pu"), col("pv")).as("v"))
        .distinct())
    var changed = 1L
    var pReleased = false
    while (changed > 0) {
      // large-star: m(x) = min over x's closed neighborhood; every neighbor
      // y > x re-points to m(x). Output keeps u > v (y > x ≥ m(x)).
      val bidir = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      val mins = bidir.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u").as("cu"), least(col("u"), col("mn")).as("m"))
      // large is NOT checkpointed: it's consumed once by the small-star
      // below, so materializing it separately would double the round's
      // job count — the small-star's own checkpoint truncates the lineage
      val large = bidir.join(mins, col("u") === col("cu"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
      // small-star: per node x, m = min(x's smaller neighbors ∪ {x}); x and
      // each smaller neighbor re-point to m. Direction u > v preserved.
      val sm = large.groupBy(col("u")).agg(min(col("v")).as("m"))
      val small = graft.util.Checkpoints.ownedCheckpoint(
        large.join(sm.select(col("u").as("cu"), col("m")),
            col("u") === col("cu"))
          .filter(col("v") =!= col("m"))
          .select(col("v").as("u"), col("m").as("v"))
          .union(sm.select(col("u"), col("m").as("v")))
          .distinct())
      // fixpoint = identical edge set (both sides are distinct); the
      // symmetric difference runs as ONE full-outer join + count — two
      // separate except().count() anti-joins would launch two jobs per
      // round over the same shuffled inputs
      changed = small.withColumn("l", lit(1))
        .join(edges.withColumn("r", lit(1)), Seq("u", "v"), "full_outer")
        .filter(col("l").isNull || col("r").isNull).count()
      // the convergence count was round R−1's last read — release it (the
      // final round's `small` stays: the label join below reads it).
      // release(p) acts only under GRAFT_EAGER_CHECKPOINT=1, where p was
      // finalized when it was built. Lazily, no action finalizes p (each
      // count finalizes only its nearest marked frame), so the guard makes
      // it a no-op and the harness's owned sweep frees p.
      graft.util.Checkpoints.release(edges)
      if (!pReleased) { graft.util.Checkpoints.release(p); pReleased = true }
      edges = small
    }
    // at fixpoint each non-center node carries exactly one star edge to its
    // component minimum; centers and isolated nodes label themselves
    nodes.join(edges.select(col("u").as("node"), col("v").as("comp")),
        Seq("node"), "left")
      .select(col("node"), coalesce(col("comp"), col("node")).as("component"))
  }
}
