package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.ops.Checkpoints._

/** Exact-Jaccard pair joins and verification — the set-similarity
  * concern of [[Dedup]]: the merge-pass verifier the banded paths share,
  * the brute-force oracle-checkable pair joins, and the deterministic
  * PPJoin-style prefix-filtered self-join.
  */
trait DedupJaccardJoin {

  /** Exact Jaccard verification of candidate pairs against the shingle
    * sets (`__sh`) of both sides.
    */
  protected def verifyJaccard(pairs: DataFrame, sides: PairSides,
                              threshold: Double): DataFrame = {
    import graft.functions.JaccardSortedExpr
    // sort once per ROW; each pair is then one allocation-free merge pass
    // (array_intersect/array_union build hash sets per PAIR — the
    // dominant cost at hundreds of thousands of candidates)
    //
    // shuffle_hash on the DOC-sized array frames (round-14, see
    // PairSides.attach): a sort-merge join here SORTS the pair-sized
    // intermediate — after the first join that intermediate already
    // carries one ~350 B array per row, and at sf10 the second join's
    // sort held 56M rows × ~850 B = 48 GB of in-heap sort pages (G1
    // cannot reclaim humongous Tungsten pages fast enough; the driver
    // heartbeat-collapsed). A shuffled hash join builds its per-partition
    // map from the DOC-count-sided frame (KBs..MBs per partition) and
    // STREAMS the candidate side — no candidate-sized sort exists at any
    // scale.
    Projections.pinnedFilter(
      sides.attach(pairs)(s => Seq(array_sort(col("__sh")).alias(s"__sh$s")))
        .withColumn("jaccard", round(JaccardSortedExpr(col("__sha"), col("__shb")), 6)),
      col("jaccard") >= threshold) // pinned: else the merge pass runs twice per pair
      .select(sides.ids :+ col("jaccard"): _*)
  }

  /** Brute-force token-set Jaccard pairs (the small-n oracle-checkable
    * path; `minHashNearDup` is the scale path). O(n²) — cap n upstream.
    */
  def tokenJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        threshold: Double): DataFrame = {
    // token sets are hashed (injective up to ~1e-13/pair) and sorted per
    // row so the O(n²) stage is an allocation-free merge per pair instead
    // of hash-set-building array_intersect/array_distinct(concat) calls
    import graft.functions.JaccardSortedExpr
    val t = df.select(col(idCol).alias("__id"),
      array_sort(array_distinct(TextFunctions.tokenHashes(
        TextFunctions.tokens(col(textCol))))).alias("__toks"))
    val a = t.select(col("__id").alias("id_a"), col("__toks").alias("__ta"))
    val b = t.select(col("__id").alias("id_b"), col("__toks").alias("__tb"))
    Projections.pinnedFilter(
      a.join(b, col("id_a") < col("id_b"))
        .withColumn("jaccard", round(JaccardSortedExpr(col("__ta"), col("__tb")), 6)),
      col("jaccard") >= threshold) // pinned: else the merge pass runs twice per pair
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** EXACT threshold-Jaccard self-join via prefix filtering (the
    * PPJoin-family principle) — the deterministic scale path where
    * MinHash banding is the probabilistic one. For J(x,y) ≥ t the
    * required overlap is ≥ t·max(|x|,|y|), so if the two token sets are
    * laid out in one GLOBAL total order (ascending 64-bit token hash —
    * any consistent order is correct), the first |x| − ⌈t·|x|⌉ + 1
    * elements of x and the first |y| − ⌈t·|y|⌉ + 1 of y must share a
    * token (miss both prefixes and the overlap is already too small).
    * Candidates therefore come from an equi-join on exploded PREFIX
    * tokens only — never all-pairs, and the prefix shrinks as t grows
    * (t = 0.9 → ~10% of each set). Survivors are exact-verified with the
    * merge-pass Jaccard. Output is provably EQUAL to the brute-force
    * join (q118 carries q49's oracle), with no recall parameter at all.
    *
    * EXECUTES EAGERLY: the candidate and verify stages run AT CALL TIME
    * (the eager cuts below release the heavy postings shuffles before the
    * verify joins — the corpus-scale memory posture), and the returned
    * frame is an opaque materialized scan. Consequently caller-side
    * predicates (e.g. on `id_a`) do NOT push into the join — filter the
    * INPUT `df` upstream instead of the returned pairs, and don't call
    * this operator for plan-only inspection (use
    * [[jaccardPrefixCandidates]], which stays lazy, for that).
    */
  def jaccardJoinPrefix(df: DataFrame, idCol: String, textCol: String,
                        threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold must be in (0, 1]")
    // Corpus-scale posture (round 15, closing the r14 sf10 context kill):
    //  - the postings/prefix exchanges are the fastest-growing frames in
    //    the operator (500M exploded rows at sf10) and were running at
    //    the 32-partition session default — the exact fixed-partition
    //    spill class q93 had before its scoped ceiling. The reentrant
    //    WideShuffle scope raises the AQE initial partition count around
    //    this operator only, so each partition's sort-fallback aggregate
    //    (the collect_list prefix build) stays in-memory-sized.
    //  - the token frame is read three times (df-ranking, prefix explode,
    //    verify) — persist it once instead of re-tokenizing the corpus.
    //  - the narrow (ids-only) candidate set is eagerly checkpointed:
    //    splits the one-query DAG so the heavy postings shuffle files are
    //    released before the verify joins run (the r14 sf100 disk-ceiling
    //    lesson: a monolithic DAG retains every exchange's files to the
    //    end), and shortens the shuffle-status RPC traffic the local-mode
    //    driver carries per job.
    val spark = df.sparkSession
    DedupMinHash.WideShuffle.enter(spark)
    try {
      val t = df.select(col(idCol).alias("__id"),
          array_sort(array_distinct(TextFunctions.tokenHashes(
            TextFunctions.tokens(col(textCol))))).alias("__toks"))
        .withColumn("__n", size(col("__toks")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val cand = jaccardPrefixCandidates(t, threshold).eagerCut()
      val out = jaccardVerifyOnTokens(cand, t, threshold).eagerCut()
      t.unpersist(false)
      org.apache.spark.sql.GraftBridge.releaseCheckpoint(cand)
      out
    } finally DedupMinHash.WideShuffle.exit(spark)
  }

  /** Candidate (id_a, id_b) pairs of [[jaccardJoinPrefix]] — the
    * UN-checkpointed prefix-filter chain, extracted so PlanSpec/PlanAudit
    * can pin the narrow shape on the exact production path (the public
    * operator checkpoints eagerly, so its returned plan is an opaque
    * RDDScan and the chain would otherwise be un-auditable).
    */
  private[graft] def jaccardPrefixCandidates(t: DataFrame,
                                             threshold: Double): DataFrame = {
    // The verify stage (and the brute-force twin it must EQUAL) admits
    // round(J, 6) >= t, i.e. true J >= t - 5e-7 — so every PRUNE below
    // uses tEff, keeping candidate generation a strict superset of what
    // the rounded verify accepts. The extra 1e-9 inside ceil() guards
    // the FP product rounding UP when n·t is mathematically an integer
    // (0.07 * 100 == 7.000000000000001 → ceil 8 would shorten the
    // prefix by one and silently drop qualifying pairs).
    val tEff = threshold - 5e-7
    // The global prefix order is ASCENDING DOCUMENT FREQUENCY (ties by
    // hash): any consistent total order is CORRECT, but frequency order
    // puts the rarest tokens in every prefix, so a hot token (a stopword
    // in natural text) never lands in millions of prefixes and the
    // candidate equi-join stays narrow — the difference between linear
    // and quadratic on skewed vocabularies. Costs one df aggregation +
    // one re-sort join; the verify arrays stay hash-sorted for the
    // merge-pass Jaccard.
    val freq = t.select(explode(col("__toks")).alias("__tok"))
      .groupBy(col("__tok")).agg(count(lit(1)).alias("__df"))
    // Prefix selection is a WINDOW row_number over (doc ordered by df,
    // tok) — Tungsten sort machinery (binary rows, radix prefix,
    // disciplined spill) — NOT a per-doc collect_list + array slice. The
    // round-15 autopsy (DECISIONS.md) traced the sf10 context kills to
    // minute-scale time-to-safepoint while this stage ran as an
    // ObjectHashAggregate: 500M collected struct rows per sf10 pass live
    // as JVM objects on the agg's object path (15M+ groups per partition
    // is always past the 128-key sort fallback), and the resulting
    // allocation storm is exactly the safepoint traffic that froze the
    // in-process heartbeat timers. The window shape computes the same
    // prefix membership with zero object-tier aggregation and feeds the
    // self-join directly — no array build, no second explode.
    val byDoc = Window.partitionBy(col("__id")).orderBy(col("__df"), col("__tok"))
    val pref = t.select(col("__id"), col("__n"), explode(col("__toks")).alias("__tok"))
      .join(freq, "__tok")
      .withColumn("__pos", row_number().over(byDoc))
      .filter(col("__pos") <=
        (col("__n") - ceil(col("__n") * tEff - lit(1e-9)) + 1).cast("int"))
      .select(col("__id"), col("__n"), col("__tok"))
    val a = pref.select(col("__id").alias("id_a"), col("__n").alias("__na"),
      col("__tok"))
    val b = pref.select(col("__id").alias("id_b"), col("__n").alias("__nb"),
      col("__tok"))
    // prefix-token equi-join + size-ratio prune, then ids only through
    // the distinct (arrays re-attach by key afterwards — never shuffled
    // through the candidate dedup)
    a.join(b, Seq("__tok"))
      .filter(col("id_a") < col("id_b"))
      .filter(least(col("__na"), col("__nb")).cast("double") /
        greatest(col("__na"), col("__nb")) >= tEff)
      .select(col("id_a"), col("id_b")).distinct()
  }

  /** Exact verification of [[jaccardPrefixCandidates]] survivors against
    * the token frame (`__id`, `__toks`).
    */
  private[graft] def jaccardVerifyOnTokens(cand: DataFrame, t: DataFrame,
                                           threshold: Double): DataFrame = {
    import graft.functions.JaccardSortedExpr
    // shuffle_hash on the doc-sized token frames: never SMJ-sort the
    // candidate-sized intermediate with arrays attached (see
    // [[verifyJaccard]] — the sf10 heap collapse lived exactly here)
    val ta = t.select(col("__id").alias("id_a"), col("__toks").alias("__ta"))
      .hint("shuffle_hash")
    val tb = t.select(col("__id").alias("id_b"), col("__toks").alias("__tb"))
      .hint("shuffle_hash")
    Projections.pinnedFilter(
      cand.join(ta, "id_a").join(tb, "id_b")
        .withColumn("jaccard", round(JaccardSortedExpr(col("__ta"), col("__tb")), 6)),
      col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Brute-force word-k-gram (shingle) Jaccard pairs — stricter than
    * token-set Jaccard (word order matters within each gram; boilerplate
    * vocabulary overlap no longer inflates similarity). Builds STRING
    * shingles so the similarity is engine-independent and oracle-
    * expressible; [[minHashNearDup]] with `shingleK = k` is the hashed,
    * banded scale path for the same semantics. O(n²) — cap n upstream.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        k: Int, threshold: Double): DataFrame = {
    val t = df.select(col(idCol).alias("__id"),
      TextFunctions.tokens(col(textCol)).alias("__toks"))
    // grams are hashed to 64-bit before the O(n²) stage: set Jaccard is
    // unchanged (injective up to ~1e-13/pair collisions) and the pairwise
    // array_intersect runs over longs, not strings — ~an order of
    // magnitude less per-pair work. The lossless size-ratio cut (true
    // jaccard ≤ min/max set sizes) skips hopeless pairs entirely.
    val sh = t.select(col("__id"), array_sort(array_distinct(
      when(size(col("__toks")) >= k,
        transform(sequence(lit(0), size(col("__toks")) - k),
          i => xxhash64(concat_ws(" ", slice(col("__toks"), i + 1, lit(k))))))
        .otherwise(array().cast("array<bigint>")))).alias("__sh"))
      .withColumn("__n", size(col("__sh")))
    val a = sh.select(col("__id").alias("id_a"), col("__sh").alias("__sa"),
      col("__n").alias("__na"))
    val b = sh.select(col("__id").alias("id_b"), col("__sh").alias("__sb"),
      col("__n").alias("__nb"))
    Projections.pinnedFilter(
      a.join(b, col("id_a") < col("id_b"))
        .filter(least(col("__na"), col("__nb")).cast("double") /
          greatest(col("__na"), col("__nb")) >= threshold)
        .withColumn("jaccard",
          round(graft.functions.JaccardSortedExpr(col("__sa"), col("__sb")), 6)),
      col("jaccard") >= threshold) // pinned: else the merge pass runs twice per pair
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }
}

/** The two sides of a banded near-dup join and the names of its pairs.
  * [[PairSides.within]] pairs one frame with itself as (id_a, id_b),
  * id_a < id_b; [[PairSides.against]] pairs a new batch with a stored
  * index as (new_id, corpus_id), any two distinct ids. Both frames carry
  * the row id as `__id`.
  */
private[graft] final case class PairSides(a: DataFrame, b: DataFrame,
                                          idA: String, idB: String,
                                          idPred: (Column, Column) => Column) {
  def ids: Seq[Column] = Seq(col(idA), col(idB))

  /** (idA, idB) pairs sharing a bucket, where `banded` explodes a frame
    * into (`__id`, `__band`, `__key`). Ids only through the distinct:
    * payloads re-attach by key afterwards, never shuffled through it.
    */
  def candidates(banded: DataFrame => DataFrame): DataFrame =
    banded(a).alias("a")
      .join(banded(b).alias("b"),
        col("a.__band") === col("b.__band") && col("a.__key") === col("b.__key") &&
          idPred(col("a.__id"), col("b.__id")))
      .select(col("a.__id").alias(idA), col("b.__id").alias(idB))
      .distinct()

  /** `pairs` with `payload("a")` of side a joined on idA, then
    * `payload("b")` of side b on idB. The side frames are hinted
    * shuffle_hash: the hash map builds from the doc-sized frame and the
    * candidate-sized side streams unsorted (a sort-merge join would sort
    * the candidates with the payload attached — see
    * [[DedupJaccardJoin.verifyJaccard]]).
    */
  def attach(pairs: DataFrame)(payload: String => Seq[Column]): DataFrame = {
    def side(df: DataFrame, id: String, s: String) =
      df.select(col("__id").alias(id) +: payload(s): _*).hint("shuffle_hash")
    pairs.join(side(a, idA, "a"), idA).join(side(b, idB, "b"), idB)
  }
}

private[graft] object PairSides {
  def within(df: DataFrame): PairSides = PairSides(df, df, "id_a", "id_b", _ < _)
  def against(batch: DataFrame, stored: DataFrame): PairSides =
    PairSides(batch, stored, "new_id", "corpus_id", _ =!= _)
}
