package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.queries.DedupQueries

/** Full-breadth scale-ramp companion to [[Bench]]: a handful of operator
  * runs over the ENTIRE fixture for operators whose registry queries carry
  * absolute range filters (`doc_id < 500`, `vec_id < NQ`) that exist to
  * bound their brute-force DuckDB oracles — at a generated sf1 those
  * filters would pin the working set to the sf0.1 size and the scale claim
  * would be untested. Prints one JSON line with the same
  * `[median_sec, min_sec, jobs, scan_mb]` record as Bench (3 interleaved
  * reps and the same retry rule, through [[Measure]]) plus `spill_disk_mb`.
  *
  * Arguments are name filters: with none, every operator entry runs. The
  * three synthetic skew-gate entries (`x_*_skew_window` and the
  * `x_substr_uniform_window` control) are not operator runs and run only
  * when the explicit token `skew` is given, which selects all three; so
  * the default ramp measures only the real operator surface.
  */
object ScaleRamp {
  private val Reps = 3

  /** Skew-gate corpus (round 17): one shared 8-token prefix + 4 unique
    * tokens per doc — the hot-gram / hot-line pathological case, derived
    * from the fixture's doc ids so it scales with the SF dir.
    */
  private def skewDocs(spark: org.apache.spark.sql.SparkSession,
                       sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.{concat, format_string, lit}
    graft.sources.Tables.documents(spark, sfDir).select(col("doc_id"),
      concat(lit("zz0 zz1 zz2 zz3 zz4 zz5 zz6 zz7 "),
        format_string("u%da u%db u%dc u%dd",
          col("doc_id"), col("doc_id"), col("doc_id"), col("doc_id")))
        .alias("text"))
  }

  /** No-skew control at identical doc count and token count. */
  private def uniformDocs(spark: org.apache.spark.sql.SparkSession,
                          sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.format_string
    graft.sources.Tables.documents(spark, sfDir).select(col("doc_id"),
      format_string(
        "u%da u%db u%dc u%dd u%de u%df u%dg u%dh u%di u%dj u%dk u%dl",
        Seq.fill(12)(col("doc_id")): _*).alias("text"))
  }

  /** Hot-key skew gate for the one-pass window shapes of the substring
    * and line dedup operators. Synthetic corpora sized off the fixture's
    * doc ids:
    *  - skew: every doc = one SHARED 8-token prefix + 4 unique tokens,
    *    so the prefix 8-gram holds 1/5 of ALL postings (a task's fair
    *    share is 1/32) and, at lineTokens=8, line 0 is the same hot
    *    line in every doc — the "boilerplate repeated 10⁹×" case,
    *    constructed to BIND;
    *  - uniform: same doc count/shape, all 12 tokens unique per doc —
    *    the no-skew control at identical scale.
    * Each entry records wall and `spill_disk_mb`, so a scale run where
    * the window shape binds shows up here.
    */
  private def skewGate(spark: org.apache.spark.sql.SparkSession,
                       sfDir: String): Seq[(String, () => DataFrame)] = Seq(
    "x_substr_skew_window" -> (() => graft.ops.Dedup.exactSubstringSpansKeep(
      skewDocs(spark, sfDir), "doc_id", "text", k = 8, keepFirst = false)),
    "x_substr_uniform_window" -> (() => graft.ops.Dedup.exactSubstringSpansKeep(
      uniformDocs(spark, sfDir), "doc_id", "text", k = 8, keepFirst = false)),
    "x_linededup_skew_window" -> (() => graft.ops.Dedup.dedupLinesKeepFirst(
      skewDocs(spark, sfDir), "doc_id", "text", lineTokens = 8)))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "target/sfgen/sf1")
    val spark = GraftSession.local()

    val runs: Seq[(String, () => DataFrame)] = Seq(
      // q93 probe DECOMPOSITION (round 11: the sf10 ramp put the probe at
      // 16.9× over 10× data — attribute the bend): batch hashing alone,
      // band-join candidate generation alone, and the full probe, all
      // against the SAME stored index the registry query reads.
      "x_q93_batch_sig" -> (() => DedupQueries.q93Signatures(spark, sfDir, batch = true)),
      "x_q93_candidates" -> (() => graft.ops.Dedup.incrementalCandidates(
        graft.sources.Tables.parquet(spark, DedupQueries.q93Index(spark, sfDir)),
        DedupQueries.q93Signatures(spark, sfDir, batch = true),
        DedupQueries.Q93Bands, DedupQueries.Q93RowsPerBand)),
      // q97 chain DECOMPOSITION (round 11: 13× at 10× data in the sf10
      // subset): the fused signal scan and the exact-dedup hash shuffle
      // are the only corpus-wide stages — time each alone.
      "x_q97_signals" -> (() => graft.ops.TextAnalysis.curationSignals(
        graft.sources.Tables.documents(spark, sfDir), "text")),
      "x_q97_exactdedup" -> (() => graft.ops.Dedup.exactDedup(
        graft.sources.Tables.documents(spark, sfDir), "doc_id", "text")),
      "x_q97_curated_chain" -> (() =>
        graft.queries.TextQueries.curatedDocs(spark, sfDir)),
      "x_q93_probe_full" -> (() => DedupQueries.q93Probe(spark, sfDir)),
      // q118's operator without the oracle-bounding doc_id filter
      "x_jaccard_prefix_full" -> (() => graft.ops.Dedup.jaccardJoinPrefix(
        graft.sources.Tables.documents(spark, sfDir), "doc_id", "text",
        threshold = 0.9)),
      // q137's operator over the whole corpus (round-13 verdict #3: the
      // ExactSubstr postings explode is a banded-family exchange running
      // at the session default — measure whether the q93 spill class
      // recurs here a decade later)
      "x_exactsubstr_full" -> (() => graft.ops.Dedup.exactSubstringSpans(
        graft.sources.Tables.documents(spark, sfDir), "doc_id", "text",
        k = 8)),
      // q44's operator (banded layout) over the whole embedding corpus —
      // kept at the round-7 settings (LEGACY threshold-only layout,
      // t=0.4) so the superlinear record in SCALE.md stays reproducible
      "x_embedding_neardup_full" -> (() => graft.ops.Dedup.embeddingNearDupAuto(
        graft.sources.Tables.embeddings(spark, sfDir), "vec_id", "embedding",
        threshold = 0.4, dim = 64)),
      // the round-7 FIX under measurement (round-8 verdict top item): the
      // corpus-sized layout at a REALISTIC near-dup threshold, vs the
      // legacy layout at the SAME threshold — the honest A/B; full-corpus
      // curves for both across sf0.2 → sf1 adjudicate "sized stays linear
      // where legacy bends quadratic"
      "x_embedding_neardup_scaled_t09" -> (() => graft.ops.Dedup.embeddingNearDupScaled(
        graft.sources.Tables.embeddings(spark, sfDir), "vec_id", "embedding",
        threshold = 0.9, dim = 64)),
      "x_embedding_neardup_legacy_t09" -> (() => graft.ops.Dedup.embeddingNearDupAuto(
        graft.sources.Tables.embeddings(spark, sfDir), "vec_id", "embedding",
        threshold = 0.9, dim = 64)),
      // the documented alternative for the near-background regime (t≈0.4,
      // where NO band layout is selective): IVF with a √n centroid count,
      // whole corpus as the query set — cost ∝ n·(n/cells)·probes, linear
      // in n at √n centroids
      "x_embedding_ivf_full" -> (() => {
        val emb = graft.sources.Tables.embeddings(spark, sfDir)
        val n = emb.count()
        graft.ops.Similarity.ivfTopK(emb, emb, "vec_id", "embedding", k = 10,
          nCentroids = math.max(16, math.sqrt(n.toDouble).toInt), nProbe = 8)
      }),
      // q222's operator: fixed-k registry form vs the paper's k ∝ n seed
      // rule — SemDeDup's pairwise stage is Σ(n_c²) ≈ n²/k, so a fixed
      // seed count bends quadratic at 10× data while k scaled with the
      // corpus (k = n/250 here; the paper uses 11k clusters for 440M)
      // holds the pairwise work linear. The A/B adjudicates that the
      // in-API control (seedIds) is the real mitigation.
      "x_semdedup_fixed_k8" -> (() => graft.ops.Dedup.semDedup(
        graft.sources.Tables.embeddings(spark, sfDir), "vec_id", "embedding",
        seedIds = (0L until 8L).toSeq, threshold = 0.4)),
      "x_semdedup_scaled_k" -> (() => {
        val emb = graft.sources.Tables.embeddings(spark, sfDir)
        val k = math.max(8L, emb.count() / 250L)
        graft.ops.Dedup.semDedup(emb, "vec_id", "embedding",
          seedIds = (0L until k).toSeq, threshold = 0.4)
      }),
      // q234's operator under the same fixed-k vs k ∝ n A/B as semdedup
      // (shared assignment + pairwise machinery, so the same control
      // must show the same curve)
      "x_contrastive_fixed_k8" -> (() => graft.ops.Similarity.contrastivePairs(
        graft.sources.Tables.embeddings(spark, sfDir), "vec_id", "embedding",
        seedIds = (0L until 8L).toSeq, threshold = 0.4)),
      "x_contrastive_scaled_k" -> (() => {
        val emb = graft.sources.Tables.embeddings(spark, sfDir)
        val k = math.max(8L, emb.count() / 250L)
        graft.ops.Similarity.contrastivePairs(emb, "vec_id", "embedding",
          seedIds = (0L until k).toSeq, threshold = 0.4)
      }),
      // q135's operator without the oracle-bounding doc_id cap (the
      // recursive-CTE oracle is why the registry form stops at 500 docs):
      // cluster-aware split over the WHOLE corpus — the family's most
      // expensive member (round-8 verdict #6), dominated by
      // resolveNearDupClustersExact's prefix-Jaccard candidates +
      // pointer-doubling CC
      "x_leakage_split_full" -> (() => graft.ops.Dedup.leakageSafeSplit(
        graft.sources.Tables.documents(spark, sfDir), "doc_id", "text",
        splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
        threshold = 0.9))
    ).filter { case (name, _) => args.isEmpty || args.exists(name.contains) } ++
      (if (args.contains("skew")) skewGate(spark, sfDir) else Nil)

    // Build the index before the reps, untimed: persisted state is the
    // premise of the incremental shape, exactly as Bench treats it
    if (runs.exists { case (name, _) => Set("x_q93_candidates", "x_q93_probe_full")(name) }) try {
      DedupQueries.q93Index(spark, sfDir)
    } catch { case e: Throwable => System.err.println(s"[ramp] q93 index build failed: ${e.getMessage}") }
    Measure.sweep(spark)

    val results = Measure.repped(spark, runs.map { case (name, mk) =>
      name -> (() => mk().write.mode("overwrite").format("noop").save())
    }, Reps)
    // record: [median_sec (negative = a rep failed), min_sec, jobs,
    // scan_mb, spill_disk_mb] — spill added round 16 so tier claims in
    // SCALE.md are recorded measurements, not log inferences
    val qs = results.map { case (name, rec) =>
      val med = rec.median
      String.format(java.util.Locale.ROOT, """"%s":[%.2f,%.2f,%d,%d,%d]""",
        name, Double.box(if (rec.ok) med.sec else -med.sec), Double.box(rec.fastest.sec),
        Long.box(med.jobs), Long.box(med.scanBytes / 1048576), Long.box(med.spillBytes / 1048576))
    }.mkString("{", ",", "}")
    println(String.format(java.util.Locale.ROOT,
      """{"metric":"scale_ramp","unit":"sec","reps":%d,"queries":%s,"sf":"%s"}""",
      Int.box(Reps), qs, sfDir))
    spark.stop()
  }
}
