package graft.ops

import org.apache.spark.sql.{DataFrame, Row}

/** Sampling / preview / export actions (SURVEY §2.6 O1-O2, §2.1 S10-S11 —
  * reference: spark/common/export_to_excel.py:51-86, preview_data.py:14-22).
  *
  * Samples are seed-stable within Spark but engine-specific, so they are
  * covered by count-bound/determinism tests rather than the SQL oracle.
  */
object Sampling {

  /** O2: Bernoulli sample, seed-stable (reference uses seed=42). */
  def bernoulliSample(df: DataFrame, fraction: Double, seed: Long = 42L): DataFrame =
    df.sample(withReplacement = false, fraction, seed)

  /** Exact-fraction stratified sample: per-stratum Bernoulli with a
    * seeded hash threshold — deterministic, single pass, zero shuffle, no
    * count-per-stratum pre-job, stable under repartitioning
    * (`df.stat.sampleBy` has the same contract but draws from
    * partition-order-dependent RNG). A stratum missing from `fractions`
    * drops out. The keep decision is engine-PORTABLE: the per-row draw is
    * `md5(id || ":" || seed)` compared lexicographically against a
    * per-stratum 32-digit hex threshold — any engine with a standard md5
    * reproduces the exact same sample (lowercase-hex string order ==
    * numeric order on the 128-bit space), which is what makes a corpus
    * mixture auditable across systems.
    */
  def portableStratifiedSample(df: DataFrame, strataCol: String, idCol: String,
                               fractions: Map[String, Double],
                               seed: String = "42"): DataFrame = {
    import org.apache.spark.sql.functions._
    val h = md5(concat(col(idCol).cast("string"), lit(":" + seed)))
    val keep = fractions.foldLeft(lit(false)) { case (acc, (stratum, f)) =>
      acc || (col(strataCol) === stratum && h < lit(hexThreshold(f)))
    }
    df.filter(keep)
  }

  /** Fraction → 32-digit lowercase-hex threshold on the md5 space.
    * frac = 1 maps to "g" (greater than every hex string of any length
    * that starts with [0-9a-f], so it keeps all rows).
    */
  private[graft] def hexThreshold(frac: Double): String = {
    require(frac >= 0.0 && frac <= 1.0, s"fraction out of range: $frac")
    if (frac >= 1.0) "g"
    else {
      // exact arithmetic: scala.math.BigDecimal's default DECIMAL128
      // context rounds 2^128 to 34 significant digits, skewing thresholds
      val t = new java.math.BigDecimal(frac)
        .multiply(new java.math.BigDecimal((BigInt(1) << 128).bigInteger))
        .toBigInteger
      val s = BigInt(t).toString(16)
      "0" * (32 - s.length) + s
    }
  }

  /** Per-group document cap (the Common-Crawl-style curation rule "at most
    * n documents per domain/source"): keep each group's top-n rows by
    * (scoreCol desc, idCol asc — the deterministic tiebreak), emitting
    * (groupCol, idCol, rank, score) with rank 1-based best-first.
    *
    * Scale: NOT a window — row_number over a hot group funnels that
    * group through one task's sort. This runs the bounded-heap top-k
    * aggregate ([[graft.functions.TopKPairsAgg]]): each task keeps at
    * most n (id, score) pairs per group and partials merge map-side, so
    * a group with a billion rows costs its scan plus O(n) state — the
    * per-group work never concentrates. Output is group-granular; join
    * back on idCol when full rows are needed downstream.
    */
  def capPerGroup(df: DataFrame, groupCol: String, idCol: String,
                  score: org.apache.spark.sql.Column, n: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    require(n >= 1, s"cap must be >= 1: $n")
    df.groupBy(col(groupCol))
      .agg(graft.functions.TopKPairsAgg(col(idCol), score, n).alias("__top"))
      .select(col(groupCol), posexplode(col("__top")).as(Seq("__pos", "__e")))
      .select(col(groupCol),
        col("__e.neighbor_id").alias(idCol),
        (col("__pos") + 1).cast("long").alias("rank"),
        col("__e.cosine").alias("score"))
  }

  /** Deterministic negative sampling for contrastive training data: for
    * each row, `k` pseudo-random OTHER ids drawn by a multiplicative-hash
    * residue walk — `neg_j = (id·A + (j+1)·B) mod n`, bumped by one
    * (mod n) when it lands on the row's own id. Pure 64-bit integer
    * arithmetic: any engine reproduces the exact draw (the md5 draws used
    * elsewhere can't do modular indexing portably), and the negatives are
    * stable across runs/cluster sizes — resumable training data.
    *
    * Contract: ids dense in [0, n) (GenSf fixtures are); `n·n < 2^63`
    * bounds the multiply (n < ~3e9 — shard the id space beyond that).
    * Zero shuffle: one literal-sequence explode + arithmetic.
    */
  def negativeSamples(df: DataFrame, idCol: String, k: Int, n: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    require(k >= 1, s"k >= 1: $k")
    require(n >= 2 && n < 3037000499L, s"n in [2, sqrt(2^63)): $n")
    val A = 2654435761L % n
    val B = 40503L % n
    val id = col(idCol)
    val raw = pmod(pmod(id, lit(n)) * lit(A) + (col("j") + 1) * lit(B), lit(n))
    df.select(id, explode(sequence(lit(0), lit(k - 1))).alias("j"))
      .withColumn("neg_id",
        when(raw === id, pmod(raw + 1, lit(n))).otherwise(raw))
      .withColumn("j", col("j").cast("long"))
  }

  /** S11: preview action — row count, schema DDL, first rows. */
  final case class Preview(rowCount: Long, schemaDdl: String, rows: Seq[Row])

  def preview(df: DataFrame, n: Int = 5): Preview =
    Preview(df.count(), df.schema.toDDL, df.limit(n).collect().toSeq)

  /** S10: driver-side export — bounded collect as (header, rows). The
    * reference converts to xlsx; the engine's responsibility ends at the
    * bounded iterator (toLocalIterator keeps the driver memory flat for
    * larger exports).
    */
  def exportRows(df: DataFrame, maxRows: Int): (Seq[String], Iterator[Row]) = {
    import scala.jdk.CollectionConverters.IteratorHasAsScala
    (df.columns.toSeq, df.limit(maxRows).toLocalIterator().asScala)
  }
  /** Stratified quota split with EXACT per-stratum proportions — the
    * dataset-carving step a training pipeline runs when class/language
    * balance must survive the split (a global random split drifts small
    * strata). Rows rank inside their stratum by the portable md5 draw
    * (bit-identical cross-engine, the q90/q224 discipline; ties by id),
    * and split boundaries are ALL-INTEGER quota comparisons
    * `rank·Σw ≤ n·cum_i` — no float in the decision, so the assignment is
    * deterministic and oracle-gatable hash-exact, and quota_i is exactly
    * ⌊n·cum_i/Σw⌋ − ⌊n·cum_{i−1}/Σw⌋ per stratum.
    *
    * Scale: one rank window per stratum — a hot stratum funnels its sort,
    * which is inherent to exact quotas; when approximate proportions
    * suffice at 100 TB, draw-threshold assignment (q90's mixture rule) is
    * the shuffle-free alternative, and leakage-safe grouping belongs to
    * [[Dedup.leakageSafeSplit]].
    */
  def stratifiedSplit(df: DataFrame, strataCol: String, idCol: String,
                      weights: Seq[(String, Long)],
                      outCol: String = "split"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    require(weights.nonEmpty && weights.forall(_._2 > 0),
      s"weights must be positive: $weights")
    val total = weights.map(_._2).sum
    val cums = weights.map(_._2).scanLeft(0L)(_ + _).tail
    val pairs = weights.map(_._1).zip(cums)
    val w = Window.partitionBy(col(strataCol))
      .orderBy(md5(col(idCol).cast("string")).asc, col(idCol).asc)
    val ranked = df
      .withColumn("__rk", row_number().over(w).cast("long"))
      .withColumn("__n",
        count(lit(1)).over(Window.partitionBy(col(strataCol))))
    val split = pairs.init.foldLeft(Option.empty[org.apache.spark.sql.Column]) {
      case (acc, (name, cum)) =>
        val cond = col("__rk") * total <= col("__n") * cum
        Some(acc.fold(when(cond, name))(_.when(cond, name)))
    }.fold(lit(pairs.last._1))(_.otherwise(pairs.last._1))
    ranked.withColumn(outCol, split).drop("__rk", "__n")
  }

}
