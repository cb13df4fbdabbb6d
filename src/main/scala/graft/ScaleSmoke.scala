package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** sf~1 scale-step smoke (VERDICT r6 #5): replicate the sf0.1 fixtures 10×
  * by unioning key-shifted copies (no generator needed — every foreign key
  * is shifted by the same per-entity span, so referential integrity holds
  * across replicas), write them as a real parquet dir, then run the round's
  * most expensive queries against it UNCHANGED and report per-query seconds
  * plus join-strategy plan shape (broadcast vs sort-merge vs shuffled-hash
  * counts) at both scales. The r5 decimal-overflow class was only caught
  * because the bench ran 10× above the oracle gate — this main makes that
  * probe a one-command step for each next scale rung.
  *
  * Usage: runMain graft.ScaleSmoke [outDir]
  *   GRAFT_SMOKE_SRC   source fixture dir   (default /root/testdata/sf0.1)
  *   GRAFT_SMOKE_COPIES replicas            (default 10)
  *   GRAFT_SMOKE_ONLY  comma list of queries (default: the top-10 list)
  *   GRAFT_SMOKE_JITTER=1 perturb replica documents (near-dup regime
  *                     instead of exact-dup worst case; see replicate())
  *   GRAFT_SMOKE_EMB_JITTER=1 perturb replica embeddings ±1e-3 (near-dup
  *                     vector regime — de-degenerates the knn/graph tier
  *                     at exact-replication rungs; see replicate())
  *   GRAFT_SMOKE_TABLES=documents,embeddings restrict the replica set
  */
object ScaleSmoke {

  /** The most expensive suite queries by the latest recorded bench (r7),
    * plus the r9 additions whose work terms scale superlinearly in theory
    * (jaccard_suggest: Σdeg² wedges; collocations: pair-vocab shuffle;
    * attribution: per-user conv×touch within the lookback). */
  val DefaultQueries: Seq[String] = Seq(
    "dedup_components_doubling", "dedup_semantic", "dedup_components",
    "olap_market_basket", "cluster_train_2iter", "dedup_keep_best",
    "olap_waiting_suppliers", "text_repetition", "dedup_soft_weights",
    "dedup_embedding_cosine", "pipeline_clean_corpus", "olap_nation_share",
    "graph_jaccard_suggest", "text_collocations", "events_attribution_linear",
    // r12 composed additions: the DCT-descriptor similarity self-join and
    // the IVF-PQ serving path — both bucket-bounded in theory, probed here
    // so a bucket-skew regression at scale is a rung diff, not a surprise
    "mm_sim_dct", "sim_ivfpq_topk",
    // r14 additions: the capped recall contract (its truth leg's linearity
    // is the r14 claim — a rung regression here means the cap broke) and
    // the BPE trainer (vocab-bound after one corpus pass; a super-linear
    // rung means corpus state leaked into the loop)
    "mm_sim_recall", "text_bpe_train",
    // r15 additions: the TRAINED IVF-PQ path — the Lloyd trainer is
    // corpus-linear per round (assign vs a broadcast ≤8-row centroid
    // frame), and the trained-recall contract's truth leg is capped at
    // ≤500 probes; a super-linear rung on either means the broadcast
    // demoted or the cap broke
    "sim_pq_train", "sim_ivfpq_trained", "sim_ivfpq_recall",
    // r16: the trained serving PAIR (ADC shortlist → exact refine) — the
    // rung probes that the explicit shortlist broadcast keeps holding
    // where AQE cannot size the checkpointed frame
    "sim_ivfpq_rerank_trained")

  /** Deterministic ±1e-3 per-(vector, dim) embedding perturbation — the
    * near-dup vector regime (`GRAFT_SMOKE_EMB_JITTER=1`). Derived from the
    * SHIFTED vec_id so every replica copy perturbs differently; shared
    * with KnnCellSpec's near-dup recall contract so the spec pins exactly
    * what the replicator ships. */
  private[graft] def embJitterExpr: org.apache.spark.sql.Column = expr(
    "transform(embedding, (x, j) -> cast(x + " +
      "(pmod(hash(vec_id, j), 2001) - 1000) / 1e6 as float))")

  /** key columns to shift per table: (table, cols, span source table+col).
    *
    * `jitterDocs` (GRAFT_SMOKE_JITTER=1): replica copies of `documents` get
    * a deterministic per-copy text perturbation (a short copy-specific
    * suffix token; n_chars recomputed) instead of being byte-exact dups —
    * the r7 VERDICT's point that 10× exact replication probes the dedup
    * tier's worst case (every doc a 10-way exact dup, ~copies² candidate
    * pairs) but not the realistic near-dup regime where MinHash bands must
    * still bucket the pair and the verify step must still pass. */
  private def replicate(spark: SparkSession, src: String, out: String,
      copies: Int, jitterDocs: Boolean): Unit = {
    def tbl(n: String): DataFrame = spark.read.parquet(s"$src/$n.parquet")
    // one span per key FAMILY, from the table that owns the key — shifting
    // l_orderkey and o_orderkey by the SAME span keeps joins intact
    def span(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).head().getLong(0) + 1L
    val spans = Map(
      "custkey" -> span(tbl("customer"), "c_custkey"),
      "orderkey" -> span(tbl("orders"), "o_orderkey"),
      "partkey" -> span(tbl("part"), "p_partkey"),
      "suppkey" -> span(tbl("supplier"), "s_suppkey"),
      "doc_id" -> span(tbl("documents"), "doc_id"),
      "vec_id" -> span(tbl("embeddings"), "vec_id"),
      "event_id" -> span(tbl("events"), "event_id"),
      "user_id" -> span(tbl("events"), "user_id"))
    // per-table shifted key columns (family → columns)
    val shifted: Map[String, Seq[(String, String)]] = Map(
      "customer" -> Seq("c_custkey" -> "custkey"),
      "orders" -> Seq("o_orderkey" -> "orderkey", "o_custkey" -> "custkey"),
      "lineitem" -> Seq("l_orderkey" -> "orderkey", "l_partkey" -> "partkey",
        "l_suppkey" -> "suppkey"),
      "part" -> Seq("p_partkey" -> "partkey"),
      "supplier" -> Seq("s_suppkey" -> "suppkey"),
      "documents" -> Seq("doc_id" -> "doc_id"),
      "embeddings" -> Seq("vec_id" -> "vec_id"),
      "events" -> Seq("event_id" -> "event_id", "user_id" -> "user_id"),
      // dims replicate by reference only — copied once, unshifted
      "region" -> Seq.empty, "nation" -> Seq.empty)
    // GRAFT_SMOKE_TABLES=documents,embeddings restricts the replica set —
    // the sf~30+ rungs probe the vector tier only, and writing a 180 M-row
    // lineitem nobody reads would triple the rung's build cost for nothing.
    val tableFilter = sys.env.get("GRAFT_SMOKE_TABLES")
      .map(_.split(",").map(_.trim).toSet)
    shifted.filter { case (name, _) => tableFilter.forall(_.contains(name)) }
      .foreach { case (name, keys) =>
      val base = tbl(name)
      val big =
        if (keys.isEmpty) base
        else {
          // crossJoin with a replica index instead of a copies-way union:
          // one plan node regardless of the copy count (a 100-way union at
          // the sf~10 rung bloats planning; the range join does not)
          val rep = base.crossJoin(
            spark.range(copies).toDF("__k").hint("broadcast"))
          val shiftedDf = keys.foldLeft(rep) { case (df, (c, fam)) =>
            df.withColumn(c, (col(c) + col("__k") * lit(spans(fam))).cast("long"))
          }
          val jittered =
            if (name == "documents" && jitterDocs)
              shiftedDf.withColumn("text",
                  when(col("__k") === 0, col("text"))
                    .otherwise(concat(col("text"), lit(" jtr"), col("__k"),
                      lit("_"), pmod(col("doc_id"), lit(97)))))
                .withColumn("n_chars", length(col("text")).cast("long"))
            // GRAFT_SMOKE_EMB_JITTER=1: replica embeddings get a
            // deterministic per-(copy, dim) perturbation of ±1e-3 —
            // copies become NEAR-dups (cos ≈ 0.9999) instead of exact
            // dups, so the knn tier's exact-replication degeneracies
            // (every copy group collapsing onto its three lowest ids,
            // graph_kcore peeling to empty) give way to structurally
            // rich graphs. Value-exactness is untouched: jitter changes
            // the DATA both engines read, not the comparison. A separate
            // knob from GRAFT_SMOKE_JITTER so the r9 jittered-dedup rung
            // protocol keeps its recorded meaning.
            else if (name == "embeddings" &&
                sys.env.getOrElse("GRAFT_SMOKE_EMB_JITTER", "0") == "1")
              shiftedDf.withColumn("embedding",
                when(col("__k") === 0, col("embedding"))
                  .otherwise(embJitterExpr))
            else shiftedDf
          jittered.drop("__k")
        }
      big.write.mode("overwrite").parquet(s"$out/$name.parquet")
      System.err.println(s"[smoke] wrote $name ×${if (keys.isEmpty) 1 else copies}" +
        (if (name == "documents" && jitterDocs) " (jittered)" else ""))
    }
  }

  private def joinShape(p: String): String = {
    def c(s: String) = p.linesIterator.count(_.contains(s))
    s"bhj=${c("BroadcastHashJoin")} smj=${c("SortMergeJoin")} " +
      s"shj=${c("ShuffledHashJoin")} bnl=${c("BroadcastNestedLoopJoin")} " +
      s"cart=${c("CartesianProduct")} exch=${c("Exchange")}"
  }

  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("GRAFT_SMOKE_SRC", "/root/testdata/sf0.1")
    val copies = sys.env.getOrElse("GRAFT_SMOKE_COPIES", "10").toInt
    val out = args.headOption.getOrElse(
      s"${sys.props("java.io.tmpdir")}/graft_smoke_sf1")
    val cpus = GraftSession.defaultCpus
    val spark = GraftSession.getOrCreate()
    val jitter = sys.env.getOrElse("GRAFT_SMOKE_JITTER", "0") == "1"
    // completion marker, not a table probe: with GRAFT_SMOKE_TABLES the
    // replica set may not include lineitem, and a partial (crashed) build
    // must rebuild rather than silently serve half a fixture dir. The
    // marker records the full KNOB TUPLE the dir was built with (r11
    // ADVICE): a dir built under one knob set must never silently serve a
    // run with different knobs — e.g. a non-jittered replica dir answering
    // a GRAFT_SMOKE_EMB_JITTER=1 run would report "jittered regime" rung
    // numbers actually measured on exact-dup data.
    val knobs = Seq(
      s"src=$src", s"copies=$copies", s"jitter=$jitter",
      s"emb_jitter=${sys.env.getOrElse("GRAFT_SMOKE_EMB_JITTER", "0")}",
      s"tables=${sys.env.getOrElse("GRAFT_SMOKE_TABLES", "ALL")}"
    ).mkString("\n")
    val doneMarker = java.nio.file.Paths.get(s"$out/_SMOKE_DONE")
    val recorded =
      if (java.nio.file.Files.exists(doneMarker))
        Some(java.nio.file.Files.readString(doneMarker))
      else None
    if (recorded.contains(knobs)) {
      System.err.println(s"[smoke] reusing replicated dir $out (knobs match)")
    } else {
      recorded.foreach { r =>
        System.err.println(s"[smoke] REBUILDING $out — recorded knobs\n$r\n" +
          s"differ from current\n$knobs")
      }
      // wipe the WHOLE dir, not just the marker: replicate() writes only
      // the filtered table set, so a table the new knobs exclude would
      // otherwise survive from the previous regime and silently serve
      // stale data to any query that reads it. SAFETY (r12 ADVICE): only
      // wipe recursively when a _SMOKE_DONE marker proves the dir is a
      // fixture dir this tool built — `out` is an arbitrary user-supplied
      // path, and recursively deleting a non-empty dir with no marker
      // would destroy unknown content (a crashed PARTIAL build has no
      // marker either, so those must be cleared by hand — the error says
      // so rather than guessing).
      val outPath = java.nio.file.Paths.get(out)
      if (java.nio.file.Files.exists(outPath)) {
        val empty = {
          val s = java.nio.file.Files.list(outPath)
          try !s.iterator().hasNext finally s.close()
        }
        require(recorded.isDefined || empty,
          s"refusing to wipe $out: non-empty with no _SMOKE_DONE marker — " +
            "not a fixture dir this tool built (or a crashed partial " +
            "build); clear it manually or point GRAFT_SMOKE at a fresh dir")
        val walk = java.nio.file.Files.walk(outPath)
        try {
          import scala.jdk.CollectionConverters._
          walk.sorted(java.util.Comparator.reverseOrder())
            .iterator().asScala.foreach(p =>
              try java.nio.file.Files.deleteIfExists(p)
              catch { case _: java.io.IOException => () })
        } finally walk.close()
      }
      replicate(spark, src, out, copies, jitter)
      java.nio.file.Files.writeString(doneMarker, knobs)
    }

    // r15 ADVICE: the PQ/IVF tier long-encodes its argmins as
    // min(d2 * k + cid) with k ≤ 64 — exact only while d2 < 2⁶³/64. d2
    // is an exact integer L2 over 64 e6-quantized dims, so the sound
    // worst case from the rung's ACTUAL data is 64 · (2·max|x_e6|)²
    // (trained centroids are floor-means of members, so they stay inside
    // the member range). Assert the bound here, at the scale rung, so a
    // future embedding magnitude/dimension change trips a loud failure
    // instead of silently corrupting every argmin downstream.
    val embPath = java.nio.file.Paths.get(s"$out/embeddings.parquet")
    if (java.nio.file.Files.exists(embPath)) {
      val maxAbs = spark.read.parquet(embPath.toString)
        .agg(max(expr("array_max(transform(embedding, x -> " +
          "abs(cast(floor(cast(x as double) * 1000000) as bigint))))")))
        .head().getLong(0)
      val d2Bound = BigInt(64) * BigInt(2 * maxAbs).pow(2)
      require(d2Bound < BigInt(Long.MaxValue) / 64,
        s"argmin encode headroom exhausted: worst-case d2 $d2Bound >= " +
          s"2^63/64 (max|x_e6| = $maxAbs) — min(d2*k+cid) would overflow " +
          "Long and pick wrong centroids; re-scale the quantization")
      System.err.println(s"[smoke] argmin encode headroom ok: worst-case " +
        s"d2 $d2Bound < ${Long.MaxValue / 64} (max|x_e6| = $maxAbs)")
    }

    // r18 (r17 VERDICT #5): append cost at the rung. Train + save ONCE
    // (untimed — training is the deliberate, amortized step), then time
    // three frozen-codebook appends of a one-replica batch (the source
    // slice under fresh vec_ids) and one compact. The incremental path's
    // scale promise is that an append prices the BATCH (one broadcast
    // join + a long-encoded argmin HashAggregate over batch×nSub×8 rows +
    // one parquet append), never the corpus — at the 200k rung the batch
    // is 10% of the corpus, so append ≪ train is the claim under test.
    // Compact rewrites the corpus codes (4 small ints/vector/subspace)
    // and is fingerprint-gated, so its cost is the full-codes IO bound.
    if (sys.env.getOrElse("GRAFT_SMOKE_APPEND", "0") == "1" &&
        java.nio.file.Files.exists(embPath)) {
      val idxDir = java.nio.file.Files
        .createTempDirectory("graft-smoke-annidx").toString
      try {
        val corpus = spark.read.parquet(embPath.toString)
          .select(col("vec_id"), col("label"), col("embedding"))
        val nCorpus = corpus.count()
        val tTrain0 = System.nanoTime()
        val (_, codes, carr) =
          graft.queries.ExtQueries.pqTrainedIndexOn(corpus)
        graft.sim.AnnIndexStore.save(codes, carr, idxDir)
        val trainS = (System.nanoTime() - tTrain0) / 1e9
        graft.util.Checkpoints.releaseOwned(spark)
        val batchSrc = spark.read.parquet(s"$src/embeddings.parquet")
          .select(col("vec_id"), col("label"), col("embedding"))
        val nBatch = batchSrc.count()
        val maxId = corpus.agg(max("vec_id")).head().getLong(0)
        val appendS = (1 to 3).map { i =>
          val batch = batchSrc
            .withColumn("vec_id", col("vec_id") + (maxId + 1) * i)
          val t0 = System.nanoTime()
          graft.sim.AnnIndexStore.append(spark, idxDir, batch)
          (System.nanoTime() - t0) / 1e9
        }
        val tC0 = System.nanoTime()
        graft.sim.AnnIndexStore.compact(spark, idxDir)
        val compactS = (System.nanoTime() - tC0) / 1e9
        // the drift GATE priced at the rung: one corpus pass computing the
        // per-label centroid shift vs an in-distribution candidate batch
        // (the decision every streamed batch would pay before appending)
        val driftBatch = batchSrc
          .withColumn("vec_id", col("vec_id") + (maxId + 1) * 10)
        val tD0 = System.nanoTime()
        val maxShift = graft.sim.AnnIndexStore
          .driftByLabel(corpus, driftBatch)
          .agg(max(col("shift_l2sq_e12"))).head().getLong(0)
        val driftS = (System.nanoTime() - tD0) / 1e9
        System.err.println(
          f"[smoke] ann_index_append rung: corpus=$nCorpus train+save=" +
            f"$trainS%.1f s; append of $nBatch-vector batch " +
            f"[${appendS.map(t => f"$t%.2f").mkString(", ")}] s; " +
            f"compact (fingerprint-verified) $compactS%.2f s; drift gate " +
            f"$driftS%.2f s (max label shift ${maxShift}e-12)")
      } finally org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(idxDir))
    }

    val names = sys.env.get("GRAFT_SMOKE_ONLY")
      .map(_.split(",").toSeq).getOrElse(DefaultQueries)
    // r19 (r18 VERDICT #6): the ladder's runs carry env rows + a phase
    // verdict like every bench phase — the r18 2M spot-check had to argue
    // contamination from its own control runs (±40 % inter-day scatter)
    // because nothing recorded the box state next to the numbers. One env
    // row per query (1-min load at START, process cpu-s, wall, gc delta);
    // the verdict uses the load clause only (one trial per query — no
    // scatter basis) with the scaled bar cpus/2: the ladder's queries run
    // back-to-back at full width, so load at query start prices the
    // previous query's non-decayed self-load exactly like the 100× drain
    // trials (README r18) — self-load tops out at 4-6, a competing
    // saturating process pushes past 16.
    def loadAvg(): Double =
      try scala.io.Source.fromFile("/proc/loadavg").getLines()
        .next().split(" ")(0).toDouble
      catch { case _: Throwable => -1.0 }
    def cpuNanos(): Long =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
        case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
        case _ => -1L
      }
    def gcMs(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum
    }
    val loadBar = sys.env.get("GRAFT_SMOKE_LOAD_BAR").map(_.toDouble)
      .getOrElse(cpus.toDouble / 2)
    val envRows = scala.collection.mutable
      .Buffer.empty[(String, Double, Double, Double, Long)]
    val rows = names.map { name =>
      val fn = SparkEntry.queries(name)
      def shape(dir: String): String =
        joinShape(fn(spark, dir).queryExecution.executedPlan.toString)
      val small = shape(src)
      val load0 = loadAvg(); val c0 = cpuNanos(); val g0 = gcMs()
      val t0 = System.nanoTime()
      val r = try {
        fn(spark, out).write.format("noop").mode("overwrite").save(); "ok"
      } catch { case e: Throwable => s"FAIL: ${e.getMessage.take(120)}" }
      val secs = (System.nanoTime() - t0) / 1e9
      envRows += ((name, load0,
        if (c0 < 0) -1.0 else (cpuNanos() - c0) / 1e9, secs, gcMs() - g0))
      val big = try shape(out) catch { case _: Throwable => "n/a" }
      // the shape probes + timed run each registered this query's owned
      // checkpoints (lazy since r20, but the probes still register frames
      // and run their exchange stages); consumed now — release before the
      // next rung query
      graft.util.Checkpoints.releaseOwned(spark)
      val flip = if (small != big) "  PLAN-FLIP" else ""
      f"$name%-30s $secs%7.2fs  $r%s$flip%n    sf0.1: $small%n    sf~1 : $big"
    }
    println("=== ScaleSmoke (10x sf0.1) ===")
    rows.foreach(println)
    val verdict =
      if (envRows.exists(_._2 > loadBar)) "contaminated" else "clean"
    def r3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    println(s"""{"smoke_env":[${envRows.map { case (n, l, c, w, g) =>
      s"""{"q":"$n","load":${r3(l)},"cpu_s":${r3(c)},"wall_s":${r3(w)},""" +
        s""""gc_ms":$g}"""
    }.mkString(",")}],"load_bar":${r3(loadBar)},""" +
      s""""smoke_env_verdict":"$verdict"}""")
    spark.stop()
  }
}
