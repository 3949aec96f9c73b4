package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Within-corpus exact substring deduplication — the Lee et al.
  * ("Deduplicating Training Data Makes Language Models Better", 2022)
  * ExactSubstr discipline: find and remove token spans that occur
  * verbatim in MORE THAN ONE document of the corpus. This is the
  * cross-document complement of [[DedupDecontaminate.decontaminateNgram]]
  * (which checks the corpus against a bounded eval set) and of q88's
  * within-document repetition stats: here the repeated text lives in
  * OTHER corpus documents, so there is no small side to broadcast.
  *
  * Spark formulation (suffix arrays are a shared-memory construction;
  * the k-gram postings formulation below is the shuffle-native
  * equivalent for spans detected at k-token granularity):
  *   1. postings: posexplode the positional k-gram hashes → one
  *      (doc, pos, gram) row per gram occurrence — the ONLY wide op
  *      whose input is corpus-sized (one explode + one shuffle);
  *   2. shared grams: a gram occurring in >1 DISTINCT doc marks every
  *      one of its occurrences as duplicated text. `min(doc) != max(doc)`
  *      states ">1 distinct" with plain min/max over a window partitioned
  *      by gram — no count-distinct expansion;
  *   3. hits: the marked postings. A stopword-like gram (df in the
  *      thousands) puts all its postings in one window task, but unlike a
  *      pairwise join the cost stays LINEAR in postings — the hot-gram
  *      gate at sf10 measured no spill and no binding straggler (SCALE.md,
  *      round 17). The optional `maxGramDocFreq` cap is the
  *      belt-and-braces posture for boilerplate grams (license headers
  *      in millions of docs): capped grams are dropped from span
  *      detection like [[DedupJaccardJoin.jaccardJoinPrefix]] df-caps
  *      its prefixes — a SEMANTIC knob (under-dedups boilerplate), off
  *      by default and mirrored exactly by the oracle when on;
  *   4. spans: per-doc interval merge of hit positions (gaps-and-islands
  *      prefix sum over a per-doc window — doc-bounded partitions, never
  *      corpus-wide).
  *
  * At 100 TB: postings are ~L rows per doc of length L (narrow: two
  * longs + an int), the gram window shuffles them once, and
  * everything after operates on hit rows only (duplicated text), which
  * real corpora keep far smaller than postings. No all-pairs path
  * exists at any stage.
  */
trait DedupSubstring {

  /** (doc, pos, gram) postings at k-token granularity (pos is 0-based).
    * The token-hash array is BOUND to a column before the positional
    * shingle derivation consumes it (the TextFunctions contract):
    * `shingleHashesPositional` references its argument k+1 times (size +
    * one slice per chained word), and inlined it would re-evaluate the
    * whole tokenize+hash chain per reference — binding measured 1.35x on
    * the sf0.1 bench (6.4 s → 4.8 s). Multiple references also stop
    * CollapseProject from re-inlining the bound column.
    */
  private def postings(df: DataFrame, idCol: String, textCol: String,
                       k: Int): DataFrame =
    df.select(col(idCol).alias("__doc"),
        TextFunctions.tokenHashes(TextFunctions.tokens(col(textCol))).alias("__th"))
      .select(col("__doc"),
        TextFunctions.shingleHashesPositional(col("__th"), k).alias("__grams"))
      .select(col("__doc"), posexplode(col("__grams")).as(Seq("__pos", "__gram")))

  /** Merged duplicated-text spans per document: every maximal token
    * interval covered by k-grams that also occur in at least one OTHER
    * document. Returns one row per span:
    * (doc_id, span_start, span_end, span_tokens) with 0-based inclusive
    * token positions (BIGINT — oracle parity).
    *
    * `maxGramDocFreq`: when set, grams occurring in more than this many
    * distinct documents are excluded from span detection (boilerplate
    * guard — see the trait doc; changes semantics, default off).
    */
  def exactSubstringSpans(df: DataFrame, idCol: String, textCol: String,
                          k: Int, maxGramDocFreq: Option[Int] = None): DataFrame =
    exactSubstringSpansKeep(df, idCol, textCol, k, keepFirst = false, maxGramDocFreq)

  /** [[exactSubstringSpans]] with the keep-one-copy knob. `keepFirst =
    * true` is the Lee et al. canonical-copy discipline: each shared
    * gram's occurrences in its EARLIEST document (min doc id) are NOT
    * marked, so exactly one copy of every duplicated substring survives
    * in the corpus; `false` marks every occurrence (remove-everywhere —
    * the decontamination-flavored default, where duplicated text is
    * unwanted wherever it appears).
    */
  def exactSubstringSpansKeep(df: DataFrame, idCol: String, textCol: String,
                              k: Int, keepFirst: Boolean,
                              maxGramDocFreq: Option[Int] = None): DataFrame = {
    require(k >= 1, "k must be positive")
    val posts = postings(df, idCol, textCol, k)
    // Shared-gram detection (round 16): the UNCAPPED path computes
    // min/max(doc) per gram as a WINDOW over ONE postings pass — the old
    // aggregate→probe pair derived the corpus-sized postings TWICE (one
    // tokenize+hash+explode pass each for the gram aggregate and the
    // probe) and shuffled twice (gram-aggregate exchange + probe
    // exchange + the SMJ's probe-side sort). The window shuffles the
    // same narrow postings once and sorts by the same key the SMJ
    // sorted by; per-gram groups buffer in a spillable row array (the
    // r15 Tungsten-window discipline). Same rows, same __dmin.
    // The CAPPED path keeps the aggregate→probe shape: the df cap needs
    // countDistinct(doc), which a window cannot express without an
    // object-tier collect_set buffer per gram — exactly the r15
    // allocation-storm anti-pattern on stopword-like grams.
    val marked = maxGramDocFreq match {
      case None =>
        val byGram = Window.partitionBy(col("__gram"))
        posts
          .withColumn("__dmin", min(col("__doc")).over(byGram))
          .withColumn("__dmax", max(col("__doc")).over(byGram))
          .filter(col("__dmin") =!= col("__dmax"))
          .drop("__dmax")
      case Some(cap) =>
        val byGram = posts.groupBy(col("__gram"))
          .agg(min(col("__doc")).alias("__dmin"), max(col("__doc")).alias("__dmax"),
            countDistinct(col("__doc")).alias("__df"))
        val shared = byGram
          .filter(col("__dmin") =!= col("__dmax") && col("__df") <= cap)
          .select(col("__gram"), col("__dmin"))
        // keep-first joins on the gram AND compares the doc against the
        // gram's earliest holder — an inner join (not semi) because __dmin
        // rides along; hit multiplicity is unchanged (one gram row each)
        posts.join(shared, Seq("__gram"))
    }
    val hits = (if (keepFirst) marked.filter(col("__doc") =!= col("__dmin")) else marked)
      .select(col("__doc"), col("__pos"),
        (col("__pos") + lit(k - 1)).alias("__end"))
    // Gaps-and-islands: a hit starts a new span iff its start position
    // exceeds the running max end of all earlier hits by more than 1
    // (contiguous spans merge — removed text should come out as one
    // block, not k-token confetti). Window partitions are per-doc.
    val byPos = Window.partitionBy(col("__doc")).orderBy(col("__pos"))
    val prevMaxEnd = max(col("__end"))
      .over(byPos.rowsBetween(Window.unboundedPreceding, -1))
    val island = sum(
        when(col("__pos") > coalesce(prevMaxEnd, lit(-2)) + 1, 1).otherwise(0))
      .over(byPos)
    hits.withColumn("__island", island)
      .groupBy(col("__doc"), col("__island"))
      .agg(min(col("__pos")).alias("span_start"), max(col("__end")).alias("span_end"))
      .select(col("__doc").alias("doc_id"),
        col("span_start").cast("bigint").alias("span_start"),
        col("span_end").cast("bigint").alias("span_end"),
        (col("span_end") - col("span_start") + 1).cast("bigint").alias("span_tokens"))
  }

  /** Whole-corpus substring dedup: every document with its duplicated
    * spans REMOVED (tokens covered by any cross-document span dropped,
    * survivors re-joined with single spaces), plus per-doc accounting.
    * Documents with no duplicated spans pass through with their token-
    * normalized text. Output: (doc_id, tokens_total, n_spans,
    * tokens_removed, cleaned_text).
    *
    * The span filter is a higher-order `filter` over the token array
    * against the doc's own (collected, doc-bounded) span list — codegen
    * HOFs, no UDF; per-doc cost O(tokens x spans).
    */
  def exactSubstringDedup(df: DataFrame, idCol: String, textCol: String,
                          k: Int, maxGramDocFreq: Option[Int] = None): DataFrame = {
    val spans = exactSubstringSpans(df, idCol, textCol, k, maxGramDocFreq)
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).alias("__spans"),
        count(lit(1)).alias("n_spans"),
        sum(col("span_tokens")).alias("tokens_removed"))
    val toks = TextFunctions.tokens(col(textCol))
    df.select(col(idCol).alias("doc_id"), toks.alias("__toks"))
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("__toks")).cast("bigint").alias("tokens_total"),
        coalesce(col("n_spans"), lit(0L)).alias("n_spans"),
        coalesce(col("tokens_removed"), lit(0L)).alias("tokens_removed"),
        concat_ws(" ", filter(col("__toks"), (_, i) =>
          !exists(coalesce(col("__spans"),
              array().cast("array<struct<span_start:bigint,span_end:bigint>>")),
            s => i.cast("bigint").between(s("span_start"), s("span_end")))))
          .alias("cleaned_text"))
  }

  /** CCNet-style LINE-level exact dedup across the corpus, keep-first:
    * documents are cut into fixed-width token lines (`lineTokens` — the
    * stand-in for natural paragraph/line boundaries, which the synthetic
    * fixture lacks; with real text pre-split on newlines and pass 1-line
    * granularity), every line occurring verbatim more than once in the
    * corpus keeps only its first occurrence in (doc, pos) order —
    * within-doc repeats drop too, CCNet's rule — and documents are
    * reassembled from their surviving lines.
    *
    * The coarse-grained sibling of [[exactSubstringDedup]]: line hashing
    * is what CCNet runs corpus-wide BEFORE any heavier span machinery.
    * Shape: one explode → one integer min over a window partitioned by
    * line (the (doc, pos) rank packs into one long — no struct min
    * state) → one per-doc regroup. Contract:
    * pos < 2^20 lines per doc (the rank is doc_id·2^20 + pos).
    */
  def dedupLinesKeepFirst(df: DataFrame, idCol: String, textCol: String,
                          lineTokens: Int = 8): DataFrame = {
    require(lineTokens > 0, s"lineTokens must be positive: $lineTokens")
    val toks = TextFunctions.tokens(col(textCol))
    val nLines = ceil(size(toks).cast("double") / lineTokens).cast("int")
    val lineArr = transform(sequence(lit(0), nLines - 1), i =>
      struct(i.cast("long").alias("pos"),
        concat_ws(" ", slice(toks, i * lineTokens + 1, lit(lineTokens)))
          .alias("line")))
    val base = df.select(col(idCol).cast("long").alias("doc_id"),
      lineArr.alias("__la"))
    val l = base
      .select(col("doc_id"), explode(col("__la")).alias("f"))
      .select(col("doc_id"), col("f.pos").alias("pos"),
        col("f.line").alias("line"))
      // The keep-first rank packs (doc_id, pos) into one long: doc_id*2^20
      // + pos. The contract (pos < 2^20, 0 <= doc_id < 2^43) is ENFORCED,
      // not assumed — an out-of-contract corpus would otherwise silently
      // pick the wrong "first" occurrence (round-10 ADVICE). Per-row
      // predicate on already-materialized columns: free at scan speed.
      .withColumn("__rank",
        when(col("doc_id") < 0 || col("doc_id") >= lit(1L << 43) ||
             col("pos") >= lit(1L << 20),
          raise_error(format_string(
            "dedupLinesKeepFirst rank-pack contract violated: " +
              "doc_id=%d (need [0, 2^43)) pos=%d (need < 2^20)",
            col("doc_id"), col("pos"))))
          .otherwise(col("doc_id") * lit(1L << 20) + col("pos")))
    // Keep-first as a WINDOW over ONE line pass (round 16): the old
    // aggregate→probe pair derived the corpus-sized exploded line frame
    // TWICE and shuffled it twice (min-rank aggregate + probe join);
    // min(__rank) over the line partition is the same integer min off
    // one shuffle, sorted by the same key the SMJ probe sorted by.
    val kept = l
      .withColumn("__keep", min(col("__rank")).over(Window.partitionBy(col("line"))))
      .filter(col("__rank") === col("__keep"))
    // Per-doc line totals from the UN-exploded array (round 16): the old
    // shape re-derived and re-exploded the corpus a third time only to
    // count rows per doc; the explode count per row IS the array size,
    // and a doc appears exactly when it contributed ≥1 exploded row.
    val tot = base
      .groupBy(col("doc_id"))
      .agg(sum(when(col("__la").isNotNull, size(col("__la")))
        .otherwise(0)).alias("__n_lines"))
      .filter(col("__n_lines") > 0)
    val agg = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).alias("n_lines_kept"),
        concat_ws(" ",
          transform(array_sort(collect_list(struct(col("pos"), col("line")))),
            f => f("line"))).alias("clean_text"))
    tot.join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).alias("clean_text"),
        coalesce(col("n_lines_kept"), lit(0L)).alias("n_lines_kept"),
        (col("__n_lines") - coalesce(col("n_lines_kept"), lit(0L)))
          .alias("n_lines_dropped"))
  }
}
