package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TextFunctions
import graft.ops.Checkpoints._

/** Training-sequence preparation: chunking documents to a context window
  * and packing them into token-budget bins (the last hop of an LLM data
  * pipeline before tensorization).
  *
  * Scale design: chunking is pure per-row expression work (codegen'd, no
  * shuffle). Packing is [[packConcatSplit]]: concatenate-and-split at
  * budget boundaries (the GPT-style layout), deterministic in the DATA
  * (never in the partitioning) and fully expressible as a prefix sum, so
  * it carries a SQL oracle (q92).
  *
  * It derives its buckets from the id RANGE (min/max, an exact
  * 2-value aggregate) rather than `repartitionByRange`, whose reservoir-
  * sampled boundaries can shift between runs once the sample is smaller
  * than the data — bin ids must be a function of (data, parameters)
  * only.
  */
object Packing {

  /** Split each document's token stream into windows of `maxTokens`
    * starting every `stride` tokens (stride < maxTokens → overlapping
    * context windows). Emits one row per chunk with its token count and
    * re-joined text. Everything is array expressions on a bound token
    * column — no UDF, no explode-then-regroup.
    */
  def chunkDocuments(df: DataFrame, idCol: String, textCol: String,
                     maxTokens: Int, stride: Int): DataFrame = {
    require(maxTokens > 0 && stride > 0, "maxTokens and stride must be positive")
    val nChunks = ceil(size(col("__tk")).cast(DoubleType) / stride).cast(IntegerType)
    df.select(col(idCol), TextFunctions.tokens(col(textCol)).alias("__tk"))
      .withColumn("__ix", explode(sequence(lit(0), greatest(nChunks, lit(1)) - 1)))
      .select(
        col(idCol),
        col("__ix").cast(LongType).alias("chunk_ix"),
        slice(col("__tk"), col("__ix") * stride + 1, lit(maxTokens)).alias("__chunk"))
      .select(
        col(idCol),
        col("chunk_ix"),
        size(col("__chunk")).cast(LongType).alias("n_chunk_tokens"),
        concat_ws(" ", col("__chunk")).alias("chunk_text"))
  }

  /** (id, n_tokens) with deterministic contiguous bucket `__b` derived
    * from the id range: span = (max-min)/buckets+1, bucket = (id-min)/span.
    * Buckets are a SEMANTIC parameter (they bound packing locality and
    * parallelism), not a physical one — the same (data, buckets) always
    * yields the same bucket for every id.
    */
  private def sizedWithBuckets(df: DataFrame, idCol: String, textCol: String,
                               buckets: Int): DataFrame = {
    val sized = df.select(
      col(idCol).cast(LongType).alias("id"),
      size(TextFunctions.tokens(col(textCol))).cast(LongType).alias("n_tokens"))
    val r = sized.agg(min(col("id")), max(col("id"))).head()
    val (minId, maxId) = if (r.isNullAt(0)) (0L, 0L) else (r.getLong(0), r.getLong(1))
    val span = math.max(1L, (maxId - minId) / buckets + 1)
    sized.withColumn("__b", expr(s"(id - ${minId}L) div ${span}L"))
  }

  /** Concatenate-and-split packing (the GPT-style training layout): all
    * documents are laid out in id order as one virtual token stream and
    * cut every `budget` tokens; each document is assigned the bin its
    * FIRST token lands in. Bins can overhang by at most one document —
    * the discipline trades the hard budget cap of greedy next-fit bins for
    * zero padding waste and an exact SQL expression (q92's oracle
    * recomputes it as a window prefix sum).
    *
    * The prefix sum is two-level, never a global window: per-bucket
    * running sums execute in parallel, and the only ordered window runs
    * on the ≤ `buckets`-row bucket-totals frame, which is then broadcast
    * back — the 100 TB shape for a distributed scan-order prefix sum.
    */
  def packConcatSplit(df: DataFrame, idCol: String, textCol: String,
                      budget: Long, buckets: Int = 32): DataFrame = {
    require(budget > 0 && buckets > 0, "budget and buckets must be positive")
    // materialized ONCE (round 16): the frame feeds BOTH the per-bucket
    // offset aggregate and the join's probe side, and un-cut each branch
    // re-ran the full upstream chain — for q138 that meant tokenizing the
    // curated+mixed corpus once per branch per consumer (4× total: the
    // bins/shard split above doubles it again). The cut is 24 B/doc
    // (id, n_tokens, __b — text never enters), cheap to hold even at
    // 100 TB doc counts against re-tokenizing the corpus.
    val bucketed = sizedWithBuckets(df, idCol, textCol, buckets)
      .eagerCut()
    val perRow = Window.partitionBy(col("__b")).orderBy(col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val perBucket = Window.orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bucketed.groupBy(col("__b")).agg(sum(col("n_tokens")).alias("__t"))
      .withColumn("__off", coalesce(sum(col("__t")).over(perBucket), lit(0L)))
      .select(col("__b"), col("__off"))
    bucketed.join(broadcast(offsets), Seq("__b"))
      .withColumn("__start",
        col("__off") + sum(col("n_tokens")).over(perRow) - col("n_tokens"))
      .select(col("id").alias(idCol), col("n_tokens"),
        expr(s"__start div ${budget}L").alias("bin_id"))
  }
}
