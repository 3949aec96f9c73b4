package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.Checkpoints._

  /** Embedding near-dup pairs over a threshold, within random-hyperplane
    * LSH buckets (sign-bit sketch). `planes` deterministic pseudo-random
    * hyperplanes are derived from a seeded LCG — no RNG at plan time.
    * Recall rises with fewer plane bits per band / more bands.
    *
    * Candidate pairs pass through two stages before anything wide moves:
    *  1. a `prefilterBits`-bit sketch-hamming cut — for cosine c the
    *     expected mismatched-bit fraction is acos(c)/π, so pairs whose
    *     hamming exceeds the threshold's expectation + 4σ (binomial) are
    *     dropped while true pairs survive w.p. ≥ 1 - 3e-5. On a
    *     near-orthogonal corpus this prunes ~98% of bucket collisions
    *     using 8-long sketches instead of full vectors;
    *  2. exact cosine on the survivors, with per-ROW norms precomputed so
    *     each surviving pair costs one dot product, not one dot + two
    *     norm folds.
    * The banding keys are the low bits of the same wide sketch (word 1),
    * so the sketch is computed once per row.
    *
    * Degenerate gates (the q71/q74 exactness trick): `planes = 0` keys
    * every row to the single bucket 0 (candidates = all pairs) and
    * `prefilterBits = 0` disables the probabilistic sketch cut — with
    * both, the output provably equals brute-force threshold search and a
    * DuckDB all-pairs oracle pins the candidate/verify machinery (q76).
    */
trait DedupEmbedding {

  /** Per-band key columns sliced out of the wide hyperplane sketch: band
    * `b` keys on bits [b·planes, (b+1)·planes), crossing word boundaries
    * where needed. Single-word layouts (planes·bands ≤ 64) produce
    * bit-identical keys to the historical first-word extraction; wider
    * layouts (up to the sketch's own bit count) buy exponentially smaller
    * buckets — the knob that keeps band-join candidates linear as the
    * corpus grows (see [[LshParams.hyperplaneForCorpus]]).
    */
  private[graft] def bandKeyCols(ws: Column, planes: Int, bands: Int): Seq[Column] = {
    require(planes >= 1 && planes <= 64, "a band key must fit one long")
    val mask = if (planes == 64) -1L else (1L << planes) - 1
    (0 until bands).map { b =>
      val s = b * planes
      val w = s / 64
      val off = s % 64
      val lo = shiftrightunsigned(element_at(ws, w + 1), off)
      val key =
        if (off + planes <= 64) lo
        // shiftleft's Java semantics would make a shift of 64 a no-op;
        // off > 0 here whenever this branch is taken, so 64 - off < 64
        else lo.bitwiseOR(shiftleft(element_at(ws, w + 2), 64 - off))
      key.bitwiseAND(lit(mask))
    }
  }

  def embeddingNearDup(df: DataFrame, idCol: String, vecCol: String,
                       threshold: Double, dim: Int,
                       planes: Int = 8, bands: Int = 4,
                       prefilterBits: Int = 512): DataFrame = {
    import graft.functions.VectorFunctions
    val nBits = sketchBits(planes, bands, prefilterBits)
    val hp = Hyperplanes.generate(seed = 42L, nPlanes = nBits, dim = dim)
    val base0 = df.select(col(idCol).alias("__id"), col(vecCol).alias("__v"))
      .withColumn("__nrm", VectorFunctions.norm(col("__v")))
    // base stays UN-cached deliberately (round 16, measured): applying
    // the minHashNearDup signature-cache pattern here (persist base +
    // eager-cut the pair set) ran an A/B at sf0.1 to q44 1.04× / q76
    // 1.10× WORSE with jobs 10→19 — unlike the 32-hash MinHash chain,
    // the hyperplane sketch recompute is cheap next to the bucket join +
    // verify, and the eager materialization's extra job boundaries cost
    // more than the redundant per-branch sketch passes save.
    val base =
      if (nBits > 0) base0.withColumn("__ws", VectorFunctions.hyperplaneSketchWide(col("__v"), hp))
      else base0
    cosinePairs(PairSides.within(base), threshold, planes, bands, prefilterBits, nBits)
  }

  /** The sketch width a layout needs: the prefilter bits, or the band
    * bits when those are wider.
    */
  private def sketchBits(planes: Int, bands: Int, prefilterBits: Int): Int = {
    require(planes >= 0 && planes <= 64, "a band key must fit one long")
    math.max(prefilterBits, planes * bands)
  }

  /** The band → candidates → hamming cut → exact-cosine chain of
    * [[embeddingNearDup]] and [[embeddingNearDupAgainst]] over frames
    * carrying `__id`, `__v`, `__nrm` and (when `nBits` > 0) the
    * `nBits`-bit sketch `__ws`.
    */
  private def cosinePairs(sides: PairSides, threshold: Double, planes: Int,
                          bands: Int, prefilterBits: Int, nBits: Int): DataFrame = {
    import graft.functions.VectorFunctions
    // ids only through the explode/join — never replicate the vector
    val candidates = sides.candidates(idx =>
      if (planes == 0) // exhaustive: one global bucket
        idx.select(col("__id"), lit(0).alias("__band"), lit(0L).alias("__key"))
      else
        idx.select(col("__id"),
          posexplode(array(bandKeyCols(col("__ws"), planes, bands): _*))
            .as(Seq("__band", "__key"))))

    // stage 1: hamming over the full wide sketch (8 longs, not 64 floats)
    val f = math.acos(math.max(-1.0, math.min(1.0, threshold))) / math.Pi
    val cut = math.floor(nBits * f + 4.0 * math.sqrt(nBits * f * (1.0 - f))).toLong
    // the sketch and vector frames attach shuffle_hash (PairSides.attach)
    val prefiltered =
      if (prefilterBits == 0) candidates
      else sides.attach(candidates)(s => Seq(col("__ws").alias(s"__ws$s")))
        .filter(VectorFunctions.hammingWide(col("__wsa"), col("__wsb"), (nBits + 63) / 64) <= cut)
        .select(sides.ids: _*)

    // stage 2: exact cosine, norms hoisted to per-row columns
    Projections.pinnedFilter(
      sides.attach(prefiltered)(s => Seq(col("__v").alias(s"__v$s"), col("__nrm").alias(s"__n$s")))
        .withColumn("cosine", round(
          when(col("__na") > 0 && col("__nb") > 0,
            VectorFunctions.dot(col("__va"), col("__vb")) / (col("__na") * col("__nb")))
            .otherwise(lit(null)), 6)),
      col("cosine") >= threshold) // pinned: else the dot runs twice per pair
      .select(sides.ids :+ col("cosine"): _*)
  }

  /** Persistable embedding index: (`__id`, `__v`, `__nrm`, `__ws`) — the
    * per-row state an incremental embedding-dedup pipeline stores next to
    * the corpus so new batches join against it without re-sketching
    * history (the embedding analog of [[minHashSignatures]]). Hyperplanes
    * are seed-fixed, so an index built today bands identically tomorrow.
    */
  def embeddingIndex(df: DataFrame, idCol: String, vecCol: String, dim: Int,
                     prefilterBits: Int = 512): DataFrame = {
    import graft.functions.VectorFunctions
    val hp = Hyperplanes.generate(seed = 42L, nPlanes = prefilterBits, dim = dim)
    df.select(col(idCol).alias("__id"), col(vecCol).alias("__v"))
      .withColumn("__nrm", VectorFunctions.norm(col("__v")))
      .withColumn("__ws", VectorFunctions.hyperplaneSketchWide(col("__v"), hp))
      // Exact layout width persisted WITH the index (constant column —
      // parquet RLE makes it ~free): the word-count guard alone cannot
      // distinguish e.g. 450-bit from 512-bit layouts (both 8 words), and
      // comparing real bits against zero-padded tail bits inflates hamming
      // distances and silently drops true pairs (round-7 ADVICE).
      .withColumn("__nbits", lit(prefilterBits))
  }

  /** Incremental embedding near-dup: (new_id, corpus_id, cosine ≥
    * threshold) pairs between a NEW batch and an EXISTING
    * [[embeddingIndex]] — the embedding analog of
    * [[minHashNearDupAgainst]]. Only the batch is sketched per run; the
    * asymmetric batch×corpus band join scales with the BATCH, the wide-
    * sketch hamming prefilter and exact-cosine verify are shared with
    * [[embeddingNearDup]]. `planes = 0` + `prefilterBits = 0` is the
    * degenerate exhaustive layout — provably equal to brute-force
    * batch×corpus search (q120's oracle gate).
    */
  def embeddingNearDupAgainst(corpusIdx: DataFrame, newDocs: DataFrame,
                              idCol: String, vecCol: String,
                              threshold: Double, dim: Int,
                              planes: Int = 8, bands: Int = 4,
                              prefilterBits: Int = 512): DataFrame = {
    val nBits = sketchBits(planes, bands, prefilterBits)
    // A corpus index built with a different prefilterBits has a different
    // sketch length AND different bits in word 1, so banding/hammingWide
    // would silently produce wrong or empty candidates — fail loud (the
    // embedding analog of minHashNearDupAgainst's signature-length guard).
    // nBits == 0 is the degenerate exhaustive layout: __ws is never read,
    // so any corpus layout is acceptable there.
    if (nBits > 0) {
      val expectWords = (nBits + 63) / 64
      // Exact-width check when the index carries `__nbits` (written by
      // embeddingIndex since round 8); word-count check as the
      // best-effort fallback for legacy indexes without the column —
      // two layouts that round to the same word count (450 vs 512 bits)
      // differ only in zero-padded tail bits, which the exact check
      // catches and the word check cannot.
      if (corpusIdx.columns.contains("__nbits"))
        corpusIdx.select(col("__nbits"), size(col("__ws"))).limit(1)
          .collect().headOption.foreach { r =>
            require(r.getInt(0) == nBits,
              s"corpusIdx was built with prefilterBits=${r.getInt(0)} but this " +
                s"layout (prefilterBits=$prefilterBits, planes=$planes, bands=$bands) " +
                s"needs exactly $nBits; rebuild the index with " +
                s"embeddingIndex(..., prefilterBits=$nBits) or pass the layout it was built with")
          }
      else
        corpusIdx.select(size(col("__ws"))).limit(1).collect().headOption.foreach { r =>
          require(r.getInt(0) == expectWords,
            s"corpusIdx sketch has ${r.getInt(0)} words but this layout " +
              s"(prefilterBits=$prefilterBits, planes=$planes, bands=$bands) needs " +
              s"$expectWords; rebuild the index with embeddingIndex(..., prefilterBits=$nBits) " +
              "or pass the layout it was built with")
        }
    }
    val newIdx = embeddingIndex(newDocs, idCol, vecCol, dim, math.max(nBits, 1))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = cosinePairs(PairSides.against(newIdx, corpusIdx), threshold,
      planes, bands, prefilterBits, nBits).eagerCut()
    newIdx.unpersist(false)
    out
  }

  /** [[embeddingNearDup]] with the band layout chosen by
    * [[LshParams.hyperplane]] for the given threshold instead of a
    * hand-tuned (planes, bands).
    */
  def embeddingNearDupAuto(df: DataFrame, idCol: String, vecCol: String,
                           threshold: Double, dim: Int): DataFrame = {
    val (rows, bands) = LshParams.hyperplane(threshold)
    embeddingNearDup(df, idCol, vecCol, threshold, dim, rows, bands)
  }

  /** [[embeddingNearDup]] with the band layout chosen by
    * [[LshParams.hyperplaneForCorpus]] for the given threshold AND corpus
    * size — the 100 TB form. [[LshParams.hyperplane]]'s fewest-bits
    * objective under a one-word budget has a fixed bucket count, so its
    * band-join candidates grow ∝ n²/2^planes as the corpus grows (measured
    * superlinear in SCALE.md); this variant spends sketch bits the corpus
    * already carries (the 512-bit prefilter sketch) on more selective
    * multi-word band keys, keeping expected candidates linear for as long
    * as the bit budget allows. Pass `corpusSize` when known (at scale it
    * always is — a count sits in the table's metadata); -1 counts once.
    */
  def embeddingNearDupScaled(df: DataFrame, idCol: String, vecCol: String,
                             threshold: Double, dim: Int,
                             corpusSize: Long = -1L): DataFrame = {
    val n = if (corpusSize > 0) corpusSize else df.count()
    val (rows, bands) = LshParams.hyperplaneForCorpus(threshold, n)
    embeddingNearDup(df, idCol, vecCol, threshold, dim, rows, bands,
      prefilterBits = math.max(512, rows * bands))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup by
    * clustering the embedding space, then pruning near-duplicates WITHIN
    * each cluster — the pairwise stage never crosses cluster boundaries,
    * which is the whole point of the algorithm's cost model. This is the
    * deterministic, oracle-gateable statement of it:
    *
    *  1. assign every vector to its max-cosine seed centroid (the same
    *     raw-double argmax + lowest-centroid-id tie rule as
    *     [[Similarity.kmeansStep]], so one oracle discipline covers both);
    *  2. rank cluster members by (quantized centroid-cosine ASC, id ASC)
    *     — the paper keeps the LOW-centroid-similarity member of each
    *     duplicate set (diversity), so low-similarity examples rank
    *     first and survive; their high-similarity near-copies match an
    *     earlier rank and drop;
    *  3. drop a member when ANY earlier-ranked member of its cluster has
    *     quantized pairwise cosine ≥ `threshold` (the reference
    *     implementation's max-sim-to-preceding rule).
    *
    * Output: (idCol, cluster, centroid_cos, kept) — the full corpus
    * annotated, not just survivors, so downstream can audit drop rates
    * per cluster.
    *
    * Scale shape: the centroid set is k rows → broadcast; the only
    * corpus-wide exchange is ONE hash shuffle on the cluster key; the
    * pairwise stage is per-cluster local with O((n/k)²) work governed by
    * k — raise the seed count with the corpus exactly as the paper does
    * (they use k = 11k clusters for LAION-440M). For clusters that still
    * blow the quadratic budget, [[embeddingNearDup]]'s banded layout is
    * the sub-quadratic fallback within a cluster. Cosines are rounded to
    * 6 dp before every comparison (the proven q76 cross-engine rule).
    */
  def semDedup(df: DataFrame, idCol: String, vecCol: String,
               seedIds: Seq[Long], threshold: Double): DataFrame = {
    import graft.functions.VectorFunctions
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.storage.StorageLevel
    val assigned = Similarity.assignToSeeds(df, idCol, vecCol, seedIds)
      .select(col("__id"), col("cluster"),
        round(col("__cos"), 6).alias("__ccos"), col("__v"))
    val wRank = Window.partitionBy(col("cluster"))
      .orderBy(col("__ccos").asc, col("__id").asc)
    // ranked feeds three consumers (both pair sides + the final
    // annotation); persist across them, release after the eager
    // checkpoint — the triangleCounts hygiene
    val ranked = assigned
      .withColumn("__rk", row_number().over(wRank))
      .withColumn("__nrm", VectorFunctions.norm(col("__v")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val l = ranked.select(col("cluster"), col("__rk").alias("__ra"),
      col("__v").alias("__va"), col("__nrm").alias("__na"))
    val r = ranked.select(col("cluster"), col("__rk").alias("__rb"),
      col("__id").alias("__idb"), col("__v").alias("__vb"),
      col("__nrm").alias("__nb"))
    val dropped = Projections.pinnedFilter(
      l.join(r, Seq("cluster")).filter(col("__ra") < col("__rb"))
        .withColumn("__pc", round(
          when(col("__na") > 0 && col("__nb") > 0,
            VectorFunctions.dot(col("__va"), col("__vb")) /
              (col("__na") * col("__nb")))
            .otherwise(lit(null)), 6)),
      col("__pc") >= threshold) // pinned: else the dot runs twice per pair
      .select(col("__idb").alias("__drop")).distinct()
    val out = ranked.join(dropped, col("__id") === col("__drop"), "left_outer")
      .select(col("__id").alias(idCol), col("cluster"),
        col("__ccos").alias("centroid_cos"),
        col("__drop").isNull.alias("kept"))
      .eagerCut()
    ranked.unpersist()
    out
  }
}
