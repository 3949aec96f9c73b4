package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.ops.Projections
import graft.ops.Checkpoints._
import graft.sources.Tables

/** Approximate-nearest-neighbor search over an embedding column
  * (builder brief: brute-force cosine top-k baseline + bucketed scale
  * path).
  *
  * Scale design: the query set is broadcast (it is small by construction);
  * the corpus never shuffles — score+rank is computed per corpus partition
  * and only k rows per query survive the final top-k, so the reduce side
  * is tiny. For corpus-vs-corpus similarity use [[Dedup.embeddingNearDup]]
  * (bucketed self-join) instead of a cross product.
  */
object Similarity {

  /** Exact brute-force cosine top-k: for each row of `queries`, the k
    * nearest `corpus` rows by cosine (desc), ties broken by corpus id asc.
    * Output: (query_id, neighbor_id, cosine, rank).
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).alias("query_id"), col(vecCol).alias("__qv"))
    val c = corpus.select(col(idCol).alias("neighbor_id"), col(vecCol).alias("__cv"))
    // pinnedFilter: a pushed-down isNotNull would substitute the cosine
    // expression into the predicate and run every dot product twice
    val scored = Projections.pinnedFilter(
      c.crossJoin(broadcast(q))
        .withColumn("cosine", VectorFunctions.cosine(col("__qv"), col("__cv"))),
      col("cosine").isNotNull) // zero-norm vectors have no defined similarity
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).alias("cosine"),
        col("rank"))
  }

  /** Exact top-k ranked by the native [[graft.functions.TopKPairsAgg]]
    * `TypedImperativeAggregate`: bounded k-element heaps with partial
    * (map-side) aggregation — only k pairs per query per partition cross
    * the shuffle — and input rows stay in Tungsten format (no Kryo
    * buffer, no object churn per row). Same output as
    * [[bruteForceTopK]]; this is the scale path for large corpora.
    */
  def bruteForceTopKNative(queries: DataFrame, corpus: DataFrame,
                           idCol: String, vecCol: String, k: Int): DataFrame = {
    import graft.functions.TopKPairsAgg
    val q = queries.select(col(idCol).alias("query_id"), col(vecCol).alias("__qv"))
    val c = corpus.select(col(idCol).alias("neighbor_id"), col(vecCol).alias("__cv"))
    c.crossJoin(broadcast(q))
      .select(col("query_id"), col("neighbor_id"),
        VectorFunctions.cosine(col("__qv"), col("__cv")).alias("cosine"))
      .groupBy(col("query_id"))
      .agg(TopKPairsAgg(col("neighbor_id"), col("cosine"), k).alias("__top"))
      .select(col("query_id"), posexplode(col("__top")).as(Seq("__i", "__s")))
      .select(col("query_id"),
        col("__s.neighbor_id").alias("neighbor_id"),
        round(col("__s.cosine"), 6).alias("cosine"),
        (col("__i") + 1).cast("long").alias("rank"))
  }

  /** Quantized two-stage exact-ish top-k: coarse-score int8 vectors (the
    * corpus a 100 TB system actually keeps hot — 4× less I/O than float),
    * keep the best `rerankK` per query, then rerank ONLY the survivors
    * with exact float cosine and emit the top k.
    *
    * The coarse score needs no dequantization: with symmetric per-vector
    * scales, cos ≈ (sq·sc·dotInt) / (sq·|q8| · sc·|c8|) — the scales
    * cancel, so the coarse pass works on the quantized VALUES only (widened
    * to double once per row so the per-pair dot runs in the native
    * codegen'd DotProductExpr — integers ≤ 127·127·dim are exact in
    * double). Quantization shifts cosines by O(1/127·√dim); any true
    * top-k member within that margin of rank `rerankK` survives to the
    * exact stage, so with a few-× cushion the result equals brute force
    * (q64 carries q50's oracle to pin exactly that).
    */
  def quantizedTopK(queries: DataFrame, corpus: DataFrame,
                    idCol: String, vecCol: String, k: Int,
                    rerankK: Int): DataFrame = {
    import graft.functions.TopKPairsAgg
    require(rerankK >= k, "rerankK must be >= k")
    // int8 norms are hoisted to per-ROW columns before the cross product —
    // recomputing them inside the pair expression would triple the coarse
    // pass's multiply-adds
    def normInt(c: Column) = sqrt(aggregate(
      transform(c, x => x.cast("long") * x.cast("long")),
      lit(0L), (acc, v) => acc + v).cast("double"))
    // per-row prep: scale HOISTED to a column (inlining it into the
    // quantize lambda would re-run the array_max per ELEMENT — O(dim²)),
    // quantized values widened to array<double> once per row so the
    // per-PAIR coarse dot runs in the native codegen'd DotProductExpr
    // (the int values are exact in double far below 2^53; the int8 array
    // remains the STORED form — the widening is compute-side only)
    def quantize(df: DataFrame, idAlias: String, v: String): DataFrame = {
      df.select(col(idCol).alias(idAlias), col(vecCol).alias(v))
        .withColumn(s"${v}s", VectorFunctions.quantScale(col(v)))
        .withColumn(s"${v}8", VectorFunctions.quantizeInt8(col(v), col(s"${v}s")))
        .withColumn(s"${v}8d", transform(col(s"${v}8"), x => x.cast("double")))
        .withColumn(s"${v}n", normInt(col(s"${v}8")))
        .drop(s"${v}s")
    }
    val q8 = quantize(queries, "query_id", "__qv")
    val c8 = quantize(corpus, "neighbor_id", "__cv").drop("__cv") // int8-only coarse side

    val dotInt = VectorFunctions.dot(col("__qv8d"), col("__cv8d"))
    val coarseCos = when(col("__qvn") > 0 && col("__cvn") > 0,
      dotInt / (col("__qvn") * col("__cvn"))).otherwise(lit(null))

    // pinnedFilter: substitution would run the coarse integer dot TWICE
    // over the full cross product — the pass this operator exists to keep
    // cheap
    val survivors = Projections.pinnedFilter(
      c8.crossJoin(broadcast(q8.select(col("query_id"), col("__qv8d"), col("__qvn"))))
        .select(col("query_id"), col("neighbor_id"), coarseCos.alias("coarse")),
      col("coarse").isNotNull)
      .groupBy(col("query_id"))
      .agg(TopKPairsAgg(col("neighbor_id"), col("coarse"), rerankK).alias("__top"))
      .select(col("query_id"), explode(col("__top.neighbor_id")).alias("neighbor_id"))

    // exact rerank touches only |Q|·rerankK float vectors
    val rer = survivors
      .join(corpus.select(col(idCol).alias("neighbor_id"), col(vecCol).alias("__cv")),
        "neighbor_id")
      .join(broadcast(queries.select(col(idCol).alias("query_id"), col(vecCol).alias("__qv"))),
        "query_id")
      .withColumn("cosine", VectorFunctions.cosine(col("__qv"), col("__cv")))
    val rerFiltered = Projections.pinnedFilter(rer, col("cosine").isNotNull)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    rerFiltered.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).alias("cosine"),
        col("rank"))
  }

  /** Spherical k-means coarse centroids for IVF, fit driver-side over a
    * seeded sample of the corpus: farthest-point init (deterministic
    * k-means++ analogue), then `iters` Lloyd rounds assigning by dot
    * product against unit-norm centroids. The sample is one corpus scan
    * (`sample(fraction)` sized off a parquet-metadata count); the fit
    * itself is O(sampleSize · k · dim) on the driver — trivial for coarse
    * quantizers (k ≤ a few hundred), which is exactly IVF's regime.
    * Returns unit-norm centroids; cells that lose all members keep their
    * previous centroid. The sample is the `sampleSize` rows with the
    * smallest `xxhash64(vector)` — a deterministic pseudo-random draw that
    * Spark executes as one `TakeOrderedAndProject` job (bounded per-
    * partition heaps, no full sort, and crucially NO sizing `count()` scan
    * first — at 100 TB a count is a full-corpus job before any work).
    * Unlike `sample(fraction, seed)` the draw is independent of the input
    * partitioning, so refits over a repartitioned corpus yield identical
    * centroids. Duplicate sample vectors are collapsed before init so
    * farthest-point never emits the same centroid twice.
    */
  def fitCentroids(corpus: DataFrame, vecCol: String, k: Int,
                   sampleSize: Int = 2048, iters: Int = 8,
                   seed: Long = 42L): Array[Array[Double]] = {
    // hash-order + limit = deterministic uniform draw in ONE job
    // (TakeOrderedAndProject); `seed` perturbs the hash via a shift column
    val rows = corpus.select(col(vecCol))
      .orderBy(xxhash64(col(vecCol), lit(seed)).asc)
      .limit(sampleSize).collect()
    val pts: Array[Array[Double]] = rows.iterator
      .map(_.getSeq[Any](0).map {
        case f: java.lang.Float => f.toDouble
        case d: java.lang.Double => d.doubleValue
        case null => 0.0
      }.toArray)
      .map { v =>
        val n = math.sqrt(v.map(x => x * x).sum)
        if (n > 0) v.map(_ / n) else v
      }
      .filter(_.exists(_ != 0.0))
      .map(_.toSeq).distinct.map(_.toArray)  // duplicate vectors would duplicate centroids
      .toArray
    require(pts.length >= k, s"need at least $k distinct non-zero sample vectors, got ${pts.length}")

    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { s += a(i) * b(i); i += 1 }
      s
    }

    // farthest-point init: start from the sample's first vector, then
    // repeatedly add the point with the smallest best-dot to chosen ones
    val cents = scala.collection.mutable.ArrayBuffer(pts(0))
    while (cents.length < k) {
      var worst = -1; var worstBest = Double.MaxValue
      var i = 0
      while (i < pts.length) {
        var best = Double.MinValue
        cents.foreach(c => best = math.max(best, dot(c, pts(i))))
        if (best < worstBest) { worstBest = best; worst = i }
        i += 1
      }
      cents += pts(worst)
    }
    var centroids = cents.toArray

    var it = 0
    while (it < iters) {
      val sums = Array.fill(k)(new Array[Double](pts(0).length))
      val counts = new Array[Int](k)
      pts.foreach { p =>
        var best = 0; var bestD = Double.MinValue
        var c = 0
        while (c < k) {
          val d = dot(centroids(c), p)
          if (d > bestD) { bestD = d; best = c }
          c += 1
        }
        counts(best) += 1
        var j = 0
        while (j < p.length) { sums(best)(j) += p(j); j += 1 }
      }
      centroids = centroids.indices.map { c =>
        if (counts(c) == 0) centroids(c)
        else {
          val m = sums(c)
          val n = math.sqrt(m.map(x => x * x).sum)
          if (n > 0) m.map(_ / n) else centroids(c)
        }
      }.toArray
      it += 1
    }
    centroids
  }

  /** IVF (inverted-file) ANN: corpus rows are assigned to their nearest
    * coarse centroid; a query scores only the rows in its `nProbe` closest
    * cells. Centroids come from [[fitCentroids]] (sampled spherical
    * k-means) unless supplied. The centroid matrix is tiny and travels as
    * a codegen reference object inside the native
    * [[graft.functions.CentroidCellsExpr]] (one fused dot-product loop per
    * row, not k interpreted HOF folds); the corpus is scanned once and
    * shuffled only on the cell key.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame,
              idCol: String, vecCol: String, k: Int,
              nCentroids: Int = 16, nProbe: Int = 4,
              centroids: Option[Array[Array[Double]]] = None): DataFrame = {
    import graft.functions.CentroidCellsExpr
    val cents = centroids.getOrElse(fitCentroids(corpus, vecCol, nCentroids))

    // corpus → its single best cell (1-based index into the centroid list)
    val assigned = corpus.select(col(idCol).alias("neighbor_id"), col(vecCol).alias("__cv"))
      .withColumn("__cell", element_at(CentroidCellsExpr(col("__cv"), cents, 1), 1))

    // query → its nProbe best cells
    val probed = queries.select(col(idCol).alias("query_id"), col(vecCol).alias("__qv"))
      .withColumn("__cell", explode(CentroidCellsExpr(col("__qv"), cents, nProbe)))

    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    Projections.pinnedFilter(
      assigned.join(broadcast(probed), Seq("__cell"))
        .withColumn("cosine", VectorFunctions.cosine(col("__qv"), col("__cv"))),
      col("cosine").isNotNull)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).alias("cosine"),
        col("rank"))
  }

  /** Build a PERSISTED IVF index at `path` — the q265/thetaStore
    * build-once-probe-many split applied to ANN serving (round-13 verdict
    * #6). Two parquet tables:
    *  - `path/centroids`: (cell, cw) — the coarse model, `nCentroids`
    *    rows, driver-sized by design (same contract as [[ivfTopK]]'s
    *    in-memory centroid matrix);
    *  - `path/assigned`: (neighbor_id, cv) PARTITIONED BY cell — each
    *    corpus row under its nearest-centroid directory.
    *
    * The cell partitioning is the 100 TB point: a probe joins the
    * broadcast query→cell frame against this table on the PARTITION
    * column, so dynamic partition pruning limits the scan to the probed
    * cells' files (~nProbe/nCentroids of the corpus bytes) — the corpus
    * is scanned once at build time and never again. Reference behavior:
    * the ANN serving surface of `api/similarity` (see SURVEY.md §2.8);
    * the persistence discipline mirrors `thetaStoreBuild`.
    */
  def ivfIndexBuild(corpus: DataFrame, idCol: String, vecCol: String,
                    path: String, nCentroids: Int = 16,
                    centroids: Option[Array[Array[Double]]] = None): Unit = {
    import graft.functions.CentroidCellsExpr
    val spark = corpus.sparkSession
    val cents = centroids.getOrElse(fitCentroids(corpus, vecCol, nCentroids))
    val centRows = cents.zipWithIndex.map { case (cw, i) => (i + 1, cw.toSeq) }
    spark.createDataFrame(centRows.toIndexedSeq).toDF("cell", "cw")
      .repartition(1) // nCentroids rows — one file, one read job at probe time
      .write.mode("overwrite").parquet(s"$path/centroids")
    corpus.select(col(idCol).alias("neighbor_id"), col(vecCol).alias("cv"))
      .withColumn("cell", element_at(CentroidCellsExpr(col("cv"), cents, 1), 1))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/assigned")
  }

  /** Append a new corpus batch to a persisted [[ivfIndexBuild]] index —
    * the incremental discipline of [[graft.ops.DedupMinHash]]'s
    * minHashNearDupAgainst and Profiling.thetaStoreAppend applied to ANN:
    * the batch is assigned with the STORED centroids (the model is not
    * refit; a refit would re-cluster the indexed corpus) and appended
    * under the same cell partitioning, so a new month of embeddings
    * costs one batch-sized job and the existing index files are never
    * rewritten. Probes ([[ivfTopKAgainst]]) see the union immediately.
    */
  def ivfIndexAppend(spark: org.apache.spark.sql.SparkSession, path: String,
                     batch: DataFrame, idCol: String, vecCol: String): Unit = {
    import graft.functions.CentroidCellsExpr
    val cents = ivfIndexCentroids(spark, path)
    batch.select(col(idCol).alias("neighbor_id"), col(vecCol).alias("cv"))
      .withColumn("cell", element_at(CentroidCellsExpr(col("cv"), cents, 1), 1))
      .write.mode("append").partitionBy("cell").parquet(s"$path/assigned")
  }

  /** The coarse model of a persisted IVF index, in cell order — an
    * `nCentroids`-row collect (bounded by construction; the model is
    * driver-sized exactly as [[ivfTopK]]'s `centroids` argument is).
    */
  def ivfIndexCentroids(spark: org.apache.spark.sql.SparkSession,
                        path: String): Array[Array[Double]] =
    Tables.parquet(spark, s"$path/centroids").orderBy(col("cell").asc)
      .select(col("cw")).collect()
      .map(_.getSeq[Double](0).toArray)

  /** Probe-only ANN against a persisted [[ivfIndexBuild]] index: same
    * output shape and (given the same centroids/nProbe) IDENTICAL results
    * to [[ivfTopK]], but the corpus is never touched — the scan reads only
    * the probed cells' files out of `path/assigned` (dynamic partition
    * pruning against the broadcast probe frame). This is the serving
    * pattern: build once per corpus refresh, probe per request batch.
    */
  def ivfTopKAgainst(spark: org.apache.spark.sql.SparkSession, path: String,
                     queries: DataFrame, idCol: String, vecCol: String,
                     k: Int, nProbe: Int = 4): DataFrame = {
    import graft.functions.CentroidCellsExpr
    val cents = ivfIndexCentroids(spark, path)
    val assigned = Tables.parquet(spark, s"$path/assigned")
    val probed = queries.select(col(idCol).alias("query_id"), col(vecCol).alias("__qv"))
      .withColumn("__cell", explode(CentroidCellsExpr(col("__qv"), cents, nProbe)))
      .withColumn("cell", col("__cell").cast("int")).drop("__cell")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    Projections.pinnedFilter(
      assigned.join(broadcast(probed), Seq("cell"))
        .withColumn("cosine", VectorFunctions.cosine(col("__qv"), col("cv"))),
      col("cosine").isNotNull)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cosine"), 6).alias("cosine"), col("rank"))
  }

  /** LSH-bucketed ANN: hyperplane sign-sketch buckets restrict scoring to
    * corpus rows sharing ≥1 band with the query — approximate (recall < 1)
    * but turns the n×m cross product into bucket-local joins. Same output
    * shape as [[bruteForceTopK]].
    *
    * The band layout is NOT fixed: it comes from
    * [[LshParams.hyperplaneTopK]] for (`neighborCosine`, `targetRecall`) —
    * the most selective planes-per-band whose S-curve still recalls a
    * true neighbor at that cosine with the target probability (the round-4
    * verdict's finding: a hard-coded `planes = 6` is 64 buckets per band
    * at EVERY corpus size). Callers that know their corpus pass an
    * explicit layout via [[lshTopKWith]]; q74 gates this machinery against
    * the brute-force oracle through the degenerate exhaustive layout.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame,
              idCol: String, vecCol: String, k: Int, dim: Int,
              neighborCosine: Double = 0.5, targetRecall: Double = 0.9,
              maxPlaneBits: Int = 64): DataFrame = {
    // hyperplaneTopK bounds-checks both doubles, so a legacy positional
    // call in the old (planes: Int, bands: Int) style fails loudly here
    // instead of silently widening 6 → cosine 6.0 (use lshTopKWith for an
    // explicit layout). maxPlaneBits is the sketch-compute budget: raise
    // it past 64 at large corpus sizes to buy more planes per band
    // (exponentially smaller buckets) at the same recall target.
    val (planes, bands) = LshParams.hyperplaneTopK(neighborCosine, targetRecall, maxPlaneBits)
    lshTopKWith(queries, corpus, idCol, vecCol, k, dim, planes, bands)
  }

  /** [[lshTopK]] with an explicit (planes, bands) layout. `planes = 0` is
    * the EXHAUSTIVE degenerate layout: every row keys to the single bucket
    * 0, so the candidate set is the full cross product and the result
    * provably equals [[bruteForceTopK]] — the correctness gate for the
    * banding/candidate/rank machinery (q74 carries q50's oracle through
    * it, the same trick q71 plays for IVF).
    *
    * Each band keys on its OWN hyperplane slice (a native codegen'd
    * `planes`-dot sketch per band), so `planes · bands` is NOT capped at
    * one 64-bit word — at corpus scale, `planes ≈ log2(n / targetBucket)`
    * keeps expected bucket occupancy constant while `bands` restores
    * recall, the layout a fixed 64-bit budget could not express (the
    * round-4 fan-in finding). Layouts fitting one word produce bit-
    * identical keys to the former packed-word formulation.
    */
  def lshTopKWith(queries: DataFrame, corpus: DataFrame,
                  idCol: String, vecCol: String, k: Int, dim: Int,
                  planes: Int, bands: Int): DataFrame = {
    require(planes >= 0 && planes <= 64 && bands >= 1 && planes * bands <= 512,
      "per-band keys are one sketch word; total plane budget capped at 512")
    val hp = Hyperplanes.generate(seed = 7L, nPlanes = planes * bands, dim = dim)
    def banded(df: DataFrame, id: String, v: String) = {
      val base = df.select(col(idCol).alias(id), col(vecCol).alias(v))
      if (planes == 0) // exhaustive: one global bucket, no sketch to compute
        base.select(col(id), col(v), lit(0).alias("__band"), lit(0L).alias("__key"))
      else
        base.select(col(id), col(v),
          posexplode(array((0 until bands).map(b =>
            VectorFunctions.hyperplaneSketch(
              col(v), hp.slice(b * planes, (b + 1) * planes))): _*))
            .as(Seq("__band", "__key")))
    }

    val qb = banded(queries, "query_id", "__qv")
    val cb = banded(corpus, "neighbor_id", "__cv")
    // ids-only distinct, then re-attach both vectors (queries broadcast)
    val cand = cb.select(col("neighbor_id"), col("__band"), col("__key"))
      .join(broadcast(qb.select(col("query_id"), col("__band"), col("__key"))),
        Seq("__band", "__key"))
      .select(col("query_id"), col("neighbor_id"))
      .distinct()
      .join(broadcast(queries.select(col(idCol).alias("query_id"), col(vecCol).alias("__qv"))),
        "query_id")
      .join(corpus.select(col(idCol).alias("neighbor_id"), col(vecCol).alias("__cv")),
        "neighbor_id")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    Projections.pinnedFilter(
      cand.withColumn("cosine", VectorFunctions.cosine(col("__qv"), col("__cv"))),
      col("cosine").isNotNull)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).alias("cosine"),
        col("rank"))
  }

  /** Per-label mean vector (class centroids — the nearest-centroid
    * classifier's model and the seed of embedding-space analysis).
    * Element sums accumulate in exact decimal per (label, position) —
    * order-independent, so the centroid doubles are bit-reproducible at
    * any partition count; one posexplode (dim× rows, map-side combined)
    * + one per-label re-pack of the dim-sized mean list.
    */
  /** MMR re-ranking (Carbonell & Goldstein 1998): diversity-aware top-k —
    * the selection a RAG serving path runs AFTER ANN retrieval, so near-
    * duplicate passages don't crowd the context window. Greedy: pick the
    * most relevant candidate, then k−1 times the candidate maximizing
    * `λ·rel − (1−λ)·max_{s∈selected} cos(c, s)` (the first pick's score
    * is λ·rel — the empty-set diversity term is 0).
    *
    * Scale shape: ONE [[bruteForceTopK]] pass bounds the working set to
    * `topN` candidates per query (swap in lshTopK/ivfTopK upstream for
    * approximate retrieval — the re-rank only needs (id, rel, vec)
    * rows); candidates gather to one array row per query, and the whole
    * greedy loop is k rounds of codegen'd higher-order expressions over
    * that bounded array — no further join or shuffle, O(k·topN·|sel|)
    * cosines per query. Exactness: rel is the 6-dp cosine, λ dyadic,
    * pairwise cosines raw doubles, and each round's score is quantized
    * with the 6-dp floor discipline BEFORE the argmax (ties → lowest
    * id), so a DuckDB mirror unrolling the same k rounds hash-matches.
    *
    * Output: (query_id, mmr_rank 1..k, selected_id, mmr_score). A query
    * whose candidate set is SMALLER than k (tiny corpus, zero-norm
    * vectors dropped by retrieval) emits exactly its candidate count of
    * rows — ranks stay contiguous from 1, no null picks (the exhausted
    * rounds are skipped per query, round-13 contract hardening).
    */
  def mmrRerank(queries: DataFrame, corpus: DataFrame, idCol: String,
                vecCol: String, k: Int, topN: Int,
                lambda: Double): DataFrame = {
    require(topN >= k, s"need topN >= k: k=$k topN=$topN")
    mmrRerankCandidates(
      bruteForceTopK(queries, corpus, idCol, vecCol, topN),
      corpus, idCol, vecCol, k, lambda)
  }

  /** [[mmrRerank]] over a PRE-RETRIEVED candidate frame — the composition
    * point of the serving chain: any retriever emitting the standard
    * (query_id, neighbor_id, cosine, rank) shape (bruteForceTopK, lshTopK,
    * ivfTopK, quantizedTopK) feeds this directly, so the 100 TB path
    * index → approximate top-N → MMR re-rank never runs a second exact
    * pass (q263 gates the composed chain hash-exact). `corpus` supplies
    * the candidate vectors by id; ids must be non-null.
    */
  def mmrRerankCandidates(cand: DataFrame, corpus: DataFrame, idCol: String,
                          vecCol: String, k: Int,
                          lambda: Double): DataFrame = {
    require(k >= 1, s"need k >= 1: k=$k")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda in [0,1]: $lambda")
    def q6(c: Column) =
      floor(c * lit(1.0e6) + lit(0.5)).cast("double") / lit(1.0e6)
    val withVec = corpus
      .select(col(idCol).alias("neighbor_id"), col(vecCol).alias("__nv"))
      .join(broadcast(cand.select(col("query_id"), col("neighbor_id"),
        col("cosine"), col("rank"))), Seq("neighbor_id"))
    val gathered = withVec.groupBy("query_id")
      .agg(sort_array(collect_list(struct(
        col("rank"), col("neighbor_id").alias("nid"),
        col("cosine").alias("rel"), col("__nv").alias("vec")))).alias("cands"))

    val first = element_at(col("cands"), 1)
    var df = gathered
      .withColumn("__pick_1", struct(
        q6(lit(lambda) * first.getField("rel")).alias("s"),
        first.getField("nid").alias("nid"),
        first.getField("vec").alias("vec")))
      .withColumn("__sel_1", array(col("__pick_1")))
    for (r <- 2 to k) {
      val sel = col(s"__sel_${r - 1}")
      val remaining = filter(col("cands"),
        c => !exists(sel, s => s.getField("nid") === c.getField("nid")))
      val scored = transform(remaining, c => struct(
        q6(lit(lambda) * c.getField("rel") - lit(1.0 - lambda) *
          aggregate(sel, lit(-1.0), (m, s) => greatest(m,
            VectorFunctions.cosine(c.getField("vec"), s.getField("vec")))))
          .alias("s"),
        c.getField("nid").alias("nid"),
        c.getField("vec").alias("vec")))
      df = df.withColumn(s"__scored_$r", scored)
      val sc = col(s"__scored_$r")
      // Round r only exists when the query RETRIEVED at least r
      // candidates — on an exhausted candidate set `remaining` is empty
      // and aggregate's zero element would be a null struct that poisons
      // the exists() filter of every later round (r12 ADVICE). The guard
      // caps the greedy rounds at size(cands) per query; exhausted rounds
      // carry a null pick that is excluded from the selected set and
      // dropped from the output below.
      df = df
        .withColumn(s"__pick_$r", when(size(col("cands")) >= r,
          aggregate(sc, element_at(sc, 1), (b, x) =>
            when(x.getField("s") > b.getField("s") ||
              (x.getField("s") === b.getField("s") &&
                x.getField("nid") < b.getField("nid")), x).otherwise(b))))
        .withColumn(s"__sel_$r",
          when(col(s"__pick_$r").isNotNull,
            concat(col(s"__sel_${r - 1}"), array(col(s"__pick_$r"))))
            .otherwise(col(s"__sel_${r - 1}")))
    }
    // exhausted rounds sit at the TAIL of the picks array (a query that
    // has r candidates fills rounds 1..r), so dropping nulls keeps
    // mmr_rank contiguous from 1
    val picks = filter(
      array((1 to k).map(r => struct(
        col(s"__pick_$r").getField("nid").alias("selected_id"),
        col(s"__pick_$r").getField("s").alias("mmr_score"))): _*),
      p => p.getField("selected_id").isNotNull)
    df.select(col("query_id"), posexplode(picks).as(Seq("__r0", "__p")))
      .select(col("query_id"),
        (col("__r0") + 1).cast("long").alias("mmr_rank"),
        col("__p.selected_id").alias("selected_id"),
        col("__p.mmr_score").alias("mmr_score"))
  }

  /** Retrieval-quality metrics of an approximate retriever against exact
    * ground truth — the eval a retrieval tier runs after every index /
    * quantization change. Both inputs are (query_id, neighbor_id, rank)
    * frames (any of bruteForceTopK / lshTopK / ivfTopK / quantizedTopK /
    * mmrRerank output shapes). Per query: hits (approx ∩ truth),
    * recall@k, and the reciprocal rank of the exact top-1 inside the
    * approx list (0 when it was lost). One tiny join+aggregate over
    * |Q|·k rows — the corpora never re-enter. Exact: counts are
    * integers, the two ratios are single double divides (6 dp).
    *
    * Contract hardening (r12 ADVICE): the join is FULL OUTER, so a query
    * present in truth but entirely absent from approx — a TOTAL retrieval
    * failure, the case the metric exists to expose — scores
    * n_hits=0 / recall 0 / rr 0 instead of silently disappearing; and the
    * recall denominator is `least(k, truth rows for the query)`, so a
    * query whose ground truth holds fewer than k rows (tiny corpus) can
    * reach recall 1.0 instead of being capped below it. With complete
    * k-row truth (the usual case) both refinements are identities.
    */
  def retrievalEval(truth: DataFrame, approx: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"need k >= 1: k=$k")
    approx.select(col("query_id"), col("neighbor_id"),
        col("rank").alias("__a_rank"))
      .join(truth.select(col("query_id"), col("neighbor_id"),
        col("rank").alias("__t_rank")),
        Seq("query_id", "neighbor_id"), "full_outer")
      .groupBy("query_id")
      .agg(
        sum(when(col("__t_rank").isNotNull && col("__a_rank").isNotNull, 1L)
          .otherwise(0L)).alias("n_hits"),
        round(
          sum(when(col("__t_rank").isNotNull && col("__a_rank").isNotNull, 1L)
            .otherwise(0L)).cast("double") /
            greatest(least(lit(k.toLong),
              sum(when(col("__t_rank").isNotNull, 1L).otherwise(0L))), lit(1L))
              .cast("double"), 6).alias("recall_at_k"),
        round(coalesce(max(when(col("__t_rank") === 1L,
          lit(1.0) / col("__a_rank"))), lit(0.0)), 6).alias("rr_top1"))
  }

  def labelCentroids(df: DataFrame, labelCol: String, vecCol: String): DataFrame = {
    val acc = org.apache.spark.sql.types.DecimalType(30, 8)
    val e = df.select(col(labelCol),
      posexplode(col(vecCol)).as(Seq("__pos", "__v")))
    e.groupBy(col(labelCol), col("__pos"))
      .agg(sum(col("__v").cast("double").cast(acc)).alias("__s"),
        count(lit(1)).alias("__n"))
      .groupBy(col(labelCol))
      .agg(max(col("__n")).alias("n_vectors"),
        expr("transform(array_sort(collect_list(struct(__pos, __s, __n)))," +
          " e -> CAST(e.__s AS DOUBLE) / e.__n)").alias("centroid"))
  }

  /** Nearest-centroid assignment: each vector takes the centroid label
    * with the highest cosine (ties to the smaller label). The centroid
    * frame is class-count-sized — broadcast; the corpus never shuffles
    * for scoring, only for the id-partitioned argmax window over k rows
    * per id.
    */
  def nearestCentroid(df: DataFrame, idCol: String, vecCol: String,
                      centroids: DataFrame, labelOut: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vd = expr(s"transform($vecCol, x -> CAST(x AS DOUBLE))")
    val scored = df.select(col(idCol), vd.alias("__vd"))
      .crossJoin(broadcast(centroids.select(
        col(centroids.columns.head).alias(labelOut), col("centroid"))))
      .withColumn("__cos",
        graft.functions.VectorFunctions.cosine(col("__vd"), col("centroid")))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("__cos").desc, col(labelOut).asc)
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col(idCol), col(labelOut), round(col("__cos"), 6).alias("score"))
  }

  /** One spherical k-means EM step, exactly mirrored cross-engine: assign
    * every vector to its max-cosine seed centroid (raw double cosine,
    * ties → lowest centroid id — q50's ordering discipline), then
    * recompute centroids as the per-dimension exact-decimal mean of the
    * members. Seeds are corpus vectors by id (`seedIds`), so the whole
    * step is a pure function of the data — the deterministic unit the
    * iterative fit ([[ivfTopK]]'s internal sampled k-means) is built
    * from, here surfaced with an oracle: what a DuckDB mirror CAN state
    * is one EM step, not a float fixpoint, and one gated step pins the
    * distance arithmetic, the tie rule, and the mean chain for all of
    * them.
    *
    * Output long-form: (cluster, dim, n_members, centroid_val) — k·dim
    * rows. Scale: the k-row centroid model broadcasts; the corpus scores
    * map-side and shuffles once into the (cluster, dim) aggregate.
    * Zero-norm vectors have no defined cosine and drop (fixture has
    * none; mirror the filter when yours does).
    */
  /** Contrastive pair mining — the training-data constructor for
    * embedding models: for every anchor, its POSITIVES are all
    * cluster-mates whose 6-dp cosine reaches `threshold`, and its one
    * HARD NEGATIVE is the highest-cosine cluster-mate BELOW the
    * threshold (the closest non-match is the informative negative;
    * random negatives are trivially separable). Clustering is the
    * [[kmeansStep]] assignment (max raw cosine to seed centroids,
    * lowest-id tie), so mining never crosses cluster boundaries — the
    * SemDeDup cost model: one corpus shuffle on the cluster key,
    * per-cluster-local O((n/k)²) pairs governed by the seed count
    * (scale k with the corpus; see q222's SCALE.md A/B).
    *
    * Output: (anchor_id, other_id, cosine, is_positive) — positives
    * complete, exactly one hard negative per anchor that has any
    * below-threshold mate. Deterministic: cosines quantized at 6 dp
    * before every comparison, ties broken on the mate id.
    */
  def contrastivePairs(df: DataFrame, idCol: String, vecCol: String,
                       seedIds: Seq[Long], threshold: Double): DataFrame = {
    val assigned = assignToSeeds(df, idCol, vecCol, seedIds)
      .select(col("__id"), col("cluster").alias("__cluster"), col("__v"))
      .withColumn("__nrm", VectorFunctions.norm(col("__v")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = assigned.select(col("__cluster"), col("__id").alias("anchor_id"),
      col("__v").alias("__va"), col("__nrm").alias("__na"))
    val b = assigned.select(col("__cluster"), col("__id").alias("other_id"),
      col("__v").alias("__vb"), col("__nrm").alias("__nb"))
    val pairs = a.join(b, Seq("__cluster"))
      .filter(col("anchor_id") =!= col("other_id"))
      .withColumn("cosine", round(
        when(col("__na") > 0 && col("__nb") > 0,
          VectorFunctions.dot(col("__va"), col("__vb")) /
            (col("__na") * col("__nb")))
          .otherwise(lit(null)), 6))
      .select(col("anchor_id"), col("other_id"), col("cosine"))
    val positives = Projections.pinnedFilter(pairs, col("cosine") >= threshold)
      .withColumn("is_positive", lit(true))
    val wHard = Window.partitionBy(col("anchor_id"))
      .orderBy(col("cosine").desc, col("other_id").asc)
    val hardNegatives = Projections.pinnedFilter(pairs, col("cosine") < threshold)
      .withColumn("__hn", row_number().over(wHard))
      .filter(col("__hn") === 1).drop("__hn")
      .withColumn("is_positive", lit(false))
    val out = positives.unionByName(hardNegatives).eagerCut()
    assigned.unpersist()
    out
  }

  def kmeansStep(df: DataFrame, idCol: String, vecCol: String,
                 seedIds: Seq[Long]): DataFrame =
    assignToSeeds(df, idCol, vecCol, seedIds)
      .select(col("cluster"), posexplode(col("__v")).as(Seq("dim", "__x")))
      .groupBy(col("cluster"), col("dim"))
      .agg(count(lit(1)).alias("n_members"),
        round(Aggregations.exactAvg(col("__x").cast("double")), 6)
          .alias("centroid_val"))
      .select(col("cluster"), col("dim").cast("long").alias("dim"),
        col("n_members"), col("centroid_val"))

  /** The ONE seed-centroid assignment shared by [[kmeansStep]] (q221),
    * SemDeDup (q222), and [[contrastivePairs]] (q234): broadcast the
    * seed vectors, argmax by RAW-double cosine with the lowest-centroid-
    * id tie rule, null cosines (zero vectors) dropped. One definition so
    * the three operators' oracles gate the same rule and the
    * assignments can never drift apart. Output columns: `__id`,
    * `cluster`, `__cos` (raw cosine to the assigned centroid), `__v`.
    */
  private[graft] def assignToSeeds(df: DataFrame, idCol: String,
                                   vecCol: String,
                                   seedIds: Seq[Long]): DataFrame = {
    require(seedIds.nonEmpty, "need at least one seed centroid")
    assignToCentroids(df, idCol, vecCol,
      df.filter(col(idCol).isin(seedIds: _*))
        .select(col(idCol).alias("cluster"), col(vecCol).alias("__cv")))
  }

  /** [[assignToSeeds]] generalized to an ARBITRARY centroid frame
    * (`cluster`, `__cv`) — what an iterated fit needs once centroids stop
    * being corpus rows. Same rule: broadcast centroids, argmax raw-double
    * cosine, lowest-cluster-id ties, null cosines dropped.
    */
  private[graft] def assignToCentroids(df: DataFrame, idCol: String,
                                       vecCol: String,
                                       cents: DataFrame): DataFrame = {
    val scored = df.select(col(idCol).alias("__id"), col(vecCol).alias("__v"))
      .crossJoin(broadcast(cents))
      .withColumn("__cos", VectorFunctions.cosine(col("__v"), col("__cv")))
    // argmax as a max_by AGGREGATE, not a row_number window (round 16):
    // each input row's k scored copies are born in one task, so the
    // partial (map-side) max_by collapses k→1 BEFORE the exchange — the
    // window form shuffled and sorted all corpus×k scored rows. The
    // ordering key (cos desc, cluster asc) is struct(cos, -cluster)
    // lexicographic max — identical row, including ties (cluster is
    // unique within a row's k copies).
    Projections.pinnedFilter(scored, col("__cos").isNotNull)
      .groupBy(col("__id"))
      .agg(max_by(struct(col("cluster"), col("__cos"), col("__v")),
        struct(col("__cos"), (-col("cluster")).alias("__negc"))).alias("__best"))
      .select(col("__id"), col("__best.cluster").alias("cluster"),
        col("__best.__cos").alias("__cos"), col("__best.__v").alias("__v"))
  }

  /** FIXED-ITERATION Lloyd k-means (q254) — [[kmeansStep]] iterated: each
    * round reassigns every vector to its nearest current centroid
    * (cosine, the shared [[assignToCentroids]] rule) and recomputes
    * per-dimension DECIMAL-exact means, QUANTIZED to 6 dp before they
    * become the next round's centroids — the PageRank fixpoint
    * discipline (floor-stable intermediate state) applied to clustering,
    * which is what makes a float EM loop oracle-gatable: the oracle
    * unrolls the same `iters` stages as MATERIALIZED CTEs. A cluster
    * that loses all members drops out (both engines derive that from the
    * same assignment rule). Output: the FINAL round's long-form
    * centroids (cluster, dim, n_members, centroid_val).
    *
    * Scale: per round, one broadcast of k·dim centroid doubles and one
    * argmax window over the scored frame — the corpus never joins
    * itself; cost is iters × (corpus × k) map-side work.
    */
  def kmeansFit(df: DataFrame, idCol: String, vecCol: String,
                seedIds: Seq[Long], iters: Int): DataFrame = {
    require(iters >= 1, s"iters >= 1: $iters")
    var cents = seedCentroids(df, idCol, vecCol, seedIds)
    var means: DataFrame = null
    for (_ <- 1 to iters) {
      means = meansOf(assignToCentroids(df, idCol, vecCol, cents))
      cents = centsOf(means)
    }
    means.select(col("cluster"), col("dim").cast("long").alias("dim"),
      col("n_members"), col("centroid_val"))
  }

  /** Per-round clustering objective for the [[kmeansFit]] trajectory —
    * the model-quality readout that makes "did the fit converge"
    * measurable: round r reports the cosine inertia
    * `Σ (1 − cos(v, assigned centroid))` of the assignment against the
    * round's INCOMING centroids (round 1 = seeds, round r = the means
    * after r−1 updates), in decimal-exact summation. One row per round;
    * each round's assignment is localCheckpoint'd because the same
    * frame feeds both the inertia sum and the next round's means
    * (the q234 discipline).
    */
  def kmeansInertia(df: DataFrame, idCol: String, vecCol: String,
                    seedIds: Seq[Long], iters: Int): DataFrame = {
    require(iters >= 1, s"iters >= 1: $iters")
    val spark = df.sparkSession
    import spark.implicits._
    var cents = seedCentroids(df, idCol, vecCol, seedIds)
    var prev: DataFrame = null
    val rows = Seq.newBuilder[(Long, Long, Double)]
    for (r <- 1 to iters) {
      // eager checkpoint: materializing THIS round's assignment consumes
      // the previous round's checkpointed frame (via cents), so the
      // previous checkpoint can be released immediately after — no
      // per-round block survives the loop (CacheHygiene's bound)
      val assigned =
        assignToCentroids(df, idCol, vecCol, cents).eagerCut()
      if (prev != null) org.apache.spark.sql.GraftBridge.releaseCheckpoint(prev)
      prev = assigned
      // the inertia row is driver-sized (one row per round): collect it
      // NOW so nothing downstream needs the checkpoint after the loop
      val row = assigned.agg(
        count(lit(1)).alias("n_points"),
        round(Aggregations.exactSum(lit(1.0) - col("__cos")), 6)
          .alias("inertia")).head()
      rows += ((r.toLong, row.getLong(0), row.getDouble(1)))
      if (r < iters) cents = centsOf(meansOf(assigned))
    }
    org.apache.spark.sql.GraftBridge.releaseCheckpoint(prev)
    rows.result().toDF("round", "n_points", "inertia")
  }

  private def seedCentroids(df: DataFrame, idCol: String, vecCol: String,
                            seedIds: Seq[Long]): DataFrame =
    df.filter(col(idCol).isin(seedIds: _*))
      .select(col(idCol).alias("cluster"), col(vecCol).alias("__cv"))

  /** One Lloyd mean update in long form (cluster, dim, n_members,
    * quantized centroid_val) from an assignment frame.
    */
  private def meansOf(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cluster"), posexplode(col("__v")).as(Seq("dim", "__x")))
      .groupBy(col("cluster"), col("dim"))
      .agg(count(lit(1)).alias("n_members"),
        round(Aggregations.exactAvg(col("__x").cast("double")), 6)
          .alias("centroid_val"))

  /** Long-form means reassembled to (cluster, __cv) centroid vectors. */
  private def centsOf(means: DataFrame): DataFrame =
    means.groupBy(col("cluster")).agg(
      expr("transform(sort_array(collect_list(struct(dim, centroid_val))), s -> s.centroid_val)")
        .alias("__cv"))
}
