package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.ops.Checkpoints._

/** Text-analysis operators for LLM-training-data pipelines (builder brief):
  * token stats, quality scoring, language ID, fingerprinting. All pure
  * column expressions → fully distributed, codegen'd, oracle-comparable
  * (integer counts + deterministic double arithmetic).
  */
object TextAnalysis {

  /** Small public stopword lexicons (top function words per language). The
    * scorer counts DISTINCT stopwords present — robust to doc length.
    */
  val lexicons: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "it", "that", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "eine", "zu"),
    "es" -> Seq("el", "la", "los", "de", "que", "y", "en", "un", "una", "es"),
    "fr" -> Seq("le", "la", "les", "de", "et", "un", "une", "est", "que", "pour"),
    "zh" -> Seq("的", "是", "不", "我", "了", "在", "人", "有", "他", "这"))

  /** Per-document token statistics. `textCol` must be the raw text. */
  def tokenStats(df: DataFrame, textCol: String): DataFrame = {
    val toks = TextFunctions.tokens(col(textCol))
    val nTok = size(toks).cast("long")
    val charLen = length(col(textCol)).cast("long")
    val punct = (length(col(textCol)) -
      length(regexp_replace(col(textCol), "[.,;:!?]", ""))).cast("long")
    df.withColumn("n_tokens", nTok)
      .withColumn("n_uniq_tokens", size(array_distinct(toks)).cast("long"))
      .withColumn("char_len", charLen)
      .withColumn("avg_token_len",
        when(nTok > 0,
          aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") / nTok)
          .otherwise(lit(null)))
      .withColumn("punct_count", punct)
  }

  /** Heuristic quality score in [0,1]: length saturation + lexical
    * diversity + punctuation sanity. Deterministic double arithmetic over
    * integer stats → exactly reproducible in the oracle.
    */
  def qualityScore(df: DataFrame, textCol: String): DataFrame =
    tokenStats(df, textCol).withColumn("quality_score", qualityExpr)

  /** The quality formula over the tokenStats columns — one definition so
    * [[qualityScore]] and the fused [[curationSignals]] can never drift.
    */
  private def qualityExpr: Column = {
    val lenScore = least(col("n_tokens").cast("double") / 50.0, lit(1.0))
    val diversity = when(col("n_tokens") > 0,
      col("n_uniq_tokens").cast("double") / col("n_tokens")).otherwise(lit(0.0))
    val punctPenalty = when(col("char_len") > 0,
      least(col("punct_count").cast("double") * 10.0 / col("char_len"), lit(1.0)))
      .otherwise(lit(0.0))
    round(lit(0.4) * lenScore + lit(0.4) * diversity + lit(0.2) * (lit(1.0) - punctPenalty), 6)
  }

  /** One-pass curation signals: the quality stats AND the duplicate-2-gram
    * fraction computed from a single bound token array — quality and
    * repetition gating cost ONE corpus scan instead of two scans plus a
    * join on the doc id (what composing [[qualityScore]] with
    * [[repetitionStats]] would plan). Column semantics are identical to
    * the standalone operators (shared expression definitions).
    */
  def curationSignals(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("__tk", TextFunctions.tokens(col(textCol)))
      // the gram ARRAY is bound before dupFrac consumes it: dupFrac
      // references its argument three times (two sizes + distinct), and
      // inlining grams there would build the array thrice per row — and
      // hand CollapseProject an excuse to substitute the token split
      // into every element_at (the O(n²) trap TextFunctions documents)
      .withColumn("__g2", grams(col("__tk"), 2))
      .withColumn("n_tokens", size(col("__tk")).cast("long"))
      .withColumn("n_uniq_tokens", size(array_distinct(col("__tk"))).cast("long"))
      .withColumn("char_len", length(col(textCol)).cast("long"))
      .withColumn("punct_count", (length(col(textCol)) -
        length(regexp_replace(col(textCol), "[.,;:!?]", ""))).cast("long"))
      .withColumn("quality_score", qualityExpr)
      .withColumn("dup_2gram_frac", dupFrac(col("__g2")))
      .drop("__tk", "__g2")

  /** The 8 function words the Gopher stopword-presence rule checks for
    * (Rae et al. 2021, app. A1.1) — shared by [[gopherRules]] and its SQL
    * mirror so the two can never drift.
    */
  val gopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** The full Gopher quality-rule table (Rae et al. 2021, app. A1.1) as
    * per-document counters, per-rule booleans, and the conjunctive
    * `keep_gopher` decision: word-count bounds, mean word length in
    * [3, 10], symbol-to-word ratio (`#`/ellipsis) ≤ 0.1, bullet-initial
    * lines ≤ 90%, ellipsis-final lines ≤ 30%, ≥ 80% of words carrying an
    * alphabetic character, and ≥ 2 of the 8 [[gopherStopwords]] present.
    *
    * Every RULE is evaluated in integer arithmetic (e.g. alpha ≥ 0.8 is
    * stated as 5·n_alpha ≥ 4·n_words), so the booleans are exact on any
    * engine; the one double column (`mean_word_len`) is reporting-only
    * and rounded to 6 dp. Pure per-row expressions over one bound token
    * array and one bound line array — zero shuffles, codegen end-to-end,
    * linear at any corpus size.
    */
  def gopherRules(df: DataFrame, textCol: String,
                  minWords: Long = 50, maxWords: Long = 100000): DataFrame = {
    val t = col(textCol)
    def occ(pat: String, w: Int): Column =
      ((length(t) - length(regexp_replace(t, pat, ""))) / w).cast("long")
    df.withColumn("__tk", TextFunctions.tokens(t))
      .withColumn("__ln", split(t, "\n"))
      .withColumn("n_words", size(col("__tk")).cast("long"))
      .withColumn("n_lines", size(col("__ln")).cast("long"))
      .withColumn("__swl", aggregate(col("__tk"), lit(0L),
        (a, x) => a + length(x).cast("long")))
      .withColumn("n_alpha_words",
        size(filter(col("__tk"), x => x.rlike("[a-z]"))).cast("long"))
      .withColumn("n_symbol_hits",
        occ("#", 1) + occ("\\.\\.\\.", 3) + occ("…", 1))
      .withColumn("n_bullet_lines",
        size(filter(col("__ln"), x => x.rlike("^\\s*[-*•]"))).cast("long"))
      .withColumn("n_ellipsis_lines",
        size(filter(col("__ln"), x => x.rlike("(\\.\\.\\.|…)\\s*$"))).cast("long"))
      .withColumn("n_stop_hits", size(array_intersect(col("__tk"),
        array(gopherStopwords.map(lit): _*))).cast("long"))
      .withColumn("mean_word_len", when(col("n_words") > 0,
        round(col("__swl").cast("double") / col("n_words"), 6)))
      .withColumn("r_word_count",
        col("n_words") >= minWords && col("n_words") <= maxWords)
      .withColumn("r_word_len", col("n_words") > 0 &&
        col("__swl") >= lit(3L) * col("n_words") &&
        col("__swl") <= lit(10L) * col("n_words"))
      .withColumn("r_symbol_ratio", col("n_symbol_hits") * 10L <= col("n_words"))
      .withColumn("r_bullet", col("n_bullet_lines") * 10L <= col("n_lines") * 9L)
      .withColumn("r_ellipsis", col("n_ellipsis_lines") * 10L <= col("n_lines") * 3L)
      .withColumn("r_alpha", col("n_alpha_words") * 5L >= col("n_words") * 4L)
      .withColumn("r_stopwords", col("n_stop_hits") >= 2L)
      .withColumn("keep_gopher", Seq("r_word_count", "r_word_len",
        "r_symbol_ratio", "r_bullet", "r_ellipsis", "r_alpha", "r_stopwords")
        .map(col).reduce(_ && _))
      .drop("__tk", "__ln", "__swl")
  }

  /** DuckDB mirror of [[gopherRules]] over `base` (must expose `doc_id`
    * and the text column) — generated from the SAME bounds and
    * [[gopherStopwords]] constants, emitting the identical column set.
    */
  def gopherRulesSql(base: String, textCol: String,
                     minWords: Long = 50, maxWords: Long = 100000): String = {
    val stops = gopherStopwords.map(w => s"'$w'").mkString(", ")
    s"""WITH g0 AS (SELECT doc_id, $textCol AS t FROM $base),
       |g1 AS (SELECT doc_id, t,
       |  ${TextFunctions.tokensSqlOn("t")} AS tk,
       |  string_split(t, chr(10)) AS ln FROM g0),
       |g2 AS (SELECT doc_id,
       |  CAST(len(tk) AS BIGINT) AS n_words,
       |  CAST(len(ln) AS BIGINT) AS n_lines,
       |  list_reduce(list_transform(tk, x -> CAST(len(x) AS BIGINT)),
       |    (a, b) -> a + b) AS swl,
       |  CAST(len(list_filter(tk, x -> regexp_matches(x, '[a-z]'))) AS BIGINT)
       |    AS n_alpha_words,
       |  CAST((length(t) - length(replace(t, '#', '')))
       |     + (length(t) - length(replace(t, '...', ''))) / 3
       |     + (length(t) - length(replace(t, '…', ''))) AS BIGINT)
       |    AS n_symbol_hits,
       |  CAST(len(list_filter(ln, x -> regexp_matches(x, '^\\s*[-*•]')))
       |    AS BIGINT) AS n_bullet_lines,
       |  CAST(len(list_filter(ln, x -> regexp_matches(x, '(\\.\\.\\.|…)\\s*$$')))
       |    AS BIGINT) AS n_ellipsis_lines,
       |  CAST(len(list_intersect(tk, [$stops])) AS BIGINT) AS n_stop_hits
       |FROM g1)
       |SELECT doc_id, n_words, n_lines, n_alpha_words, n_symbol_hits,
       |  n_bullet_lines, n_ellipsis_lines, n_stop_hits,
       |  CASE WHEN n_words > 0
       |    THEN round(CAST(swl AS DOUBLE) / n_words, 6) END AS mean_word_len,
       |  (n_words >= $minWords AND n_words <= $maxWords) AS r_word_count,
       |  (n_words > 0 AND swl >= 3 * n_words AND swl <= 10 * n_words)
       |    AS r_word_len,
       |  (n_symbol_hits * 10 <= n_words) AS r_symbol_ratio,
       |  (n_bullet_lines * 10 <= n_lines * 9) AS r_bullet,
       |  (n_ellipsis_lines * 10 <= n_lines * 3) AS r_ellipsis,
       |  (n_alpha_words * 5 >= n_words * 4) AS r_alpha,
       |  (n_stop_hits >= 2) AS r_stopwords,
       |  (n_words >= $minWords AND n_words <= $maxWords
       |    AND n_words > 0 AND swl >= 3 * n_words AND swl <= 10 * n_words
       |    AND n_symbol_hits * 10 <= n_words
       |    AND n_bullet_lines * 10 <= n_lines * 9
       |    AND n_ellipsis_lines * 10 <= n_lines * 3
       |    AND n_alpha_words * 5 >= n_words * 4
       |    AND n_stop_hits >= 2) AS keep_gopher
       |FROM g2""".stripMargin
  }

  /** Ordered mojibake repair table (the ftfy-style common cases): UTF-8
    * bytes decoded as cp1252 — `â€™` for `'`, `Ã©` for `é`, `Â ` for a
    * NBSP, etc. Each key is the EXACT cp1252 rendering of the fixed
    * form's UTF-8 bytes; shared as data between [[fixMojibake]] and its
    * SQL mirror. Punctuation maps to its ASCII equivalent (the corpus
    * normalization most pipelines want), letters to the real letter.
    */
  val mojibakeRules: Seq[(String, String)] = Seq(
    "â€™" -> "'", // ' (E2 80 99)
    "â€œ" -> "\"", // " (E2 80 9C)
    "â€" -> "\"", // " (E2 80 9D)
    "â€“" -> "-", // – (E2 80 93)
    "â€”" -> "-", // — (E2 80 94)
    "â€¦" -> "...", // … (E2 80 A6)
    "Ã©" -> "é", // é
    "Ã¨" -> "è", // è
    "Ã¤" -> "ä", // ä
    "Ã¶" -> "ö", // ö
    "Ã¼" -> "ü", // ü
    "Ã±" -> "ñ", // ñ
    "Ã§" -> "ç", // ç
    "Â " -> " ") // NBSP read as latin-1

  // Every C0 control except \t (\x09) and \n (\x0a), plus DEL — NUL and
  // CR included (round-10 ADVICE: the class previously kept \x00/\x0d,
  // narrower than the documented contract). Shared as data with the
  // generated DuckDB mirror, so both engines move together by definition.
  private val controlCharClass = "[\\x00-\\x08\\x0b-\\x1f\\x7f]"
  private val exoticSpaceClass = "[   ]"

  /** Encoding repair + character hygiene (the ftfy-lite pass CCNet-style
    * pipelines run before tokenization): apply [[mojibakeRules]] in
    * order, strip C0/DEL control characters (keeping \n and \t), unify
    * exotic unicode spaces to ASCII space, collapse space runs. Emits
    * `text_fixed` + a `changed` flag. Idempotent (every fixed form is a
    * fixed point of the table). Pure per-row literal replaces + two
    * regexes — zero shuffle, codegen end-to-end.
    */
  def fixMojibake(df: DataFrame, textCol: String,
                  outCol: String = "text_fixed"): DataFrame = {
    val repaired = mojibakeRules.foldLeft(col(textCol)) {
      case (acc, (broken, fixed)) => replace(acc, lit(broken), lit(fixed))
    }
    val cleaned = regexp_replace(
      regexp_replace(
        regexp_replace(repaired, controlCharClass, ""),
        exoticSpaceClass, " "),
      " {2,}", " ")
    df.withColumn(outCol, cleaned)
      .withColumn("changed", col(outCol) =!= col(textCol))
  }

  /** DuckDB mirror of [[fixMojibake]]'s column expression over `expr` —
    * generated from the SAME rule table and character classes.
    */
  def fixMojibakeSql(expr: String): String = {
    val repaired = mojibakeRules.foldLeft(expr) {
      case (acc, (broken, fixed)) =>
        s"replace($acc, '${broken.replace("'", "''")}', '${fixed.replace("'", "''")}')"
    }
    s"""regexp_replace(regexp_replace(regexp_replace($repaired,
       |  '$controlCharClass', '', 'g'),
       |  '$exoticSpaceClass', ' ', 'g'), ' {2,}', ' ', 'g')""".stripMargin
  }

  /** The C4 cleaning rule table (Raffel et al. 2020, §2.2) — the third of
    * the three canonical web-corpus rule families next to [[gopherRules]]
    * and jusText (q220): LINE rules (keep a line iff it ends in a
    * terminal punctuation mark, carries ≥ `minLineWords` words, and does
    * not mention "javascript") and PAGE rules (drop the page when the
    * kept text has fewer than `minSentences` terminal marks, or the RAW
    * page contains "lorem ipsum" or a curly brace). All string/integer
    * tests — exact on any engine; pure per-row HOF work, zero shuffle.
    * Emits the cleaned text + every intermediate counter so the page
    * decision is auditable.
    */
  def c4Rules(df: DataFrame, textCol: String,
              minLineWords: Int = 3, minSentences: Int = 5): DataFrame = {
    val t = col(textCol)
    val keptLines = filter(split(t, "\n"), l =>
      trim(l).rlike("[.!?\"]\\s*$") &&
        size(TextFunctions.tokens(l)) >= minLineWords &&
        !lower(l).contains("javascript"))
    df.withColumn("clean_text",
        array_join(transform(keptLines, l => trim(l)), "\n"))
      .withColumn("n_lines_kept", size(keptLines).cast("long"))
      .withColumn("n_sentences", (length(col("clean_text")) -
        length(regexp_replace(col("clean_text"), "[.!?]", ""))).cast("long"))
      .withColumn("has_lorem", instr(lower(t), "lorem ipsum") > 0)
      .withColumn("has_brace", instr(t, "{") > 0)
      .withColumn("keep_c4", col("n_sentences") >= minSentences &&
        !col("has_lorem") && !col("has_brace"))
  }

  /** DuckDB mirror of [[c4Rules]] over `base` (must expose `doc_id` and
    * the text column) — same rule table, same thresholds.
    */
  def c4RulesSql(base: String, textCol: String,
                 minLineWords: Int = 3, minSentences: Int = 5): String =
    s"""WITH c0 AS (SELECT doc_id, $textCol AS t FROM $base),
       |c1 AS (SELECT doc_id, t,
       |  list_transform(
       |    list_filter(string_split(t, chr(10)), l ->
       |      regexp_matches(trim(l), '[.!?"]\\s*$$')
       |      AND len(${TextFunctions.tokensSqlOn("l")}) >= $minLineWords
       |      AND NOT contains(lower(l), 'javascript')),
       |    l -> trim(l)) AS kept
       |  FROM c0),
       |c2 AS (SELECT doc_id, t,
       |  coalesce(array_to_string(kept, chr(10)), '') AS clean_text,
       |  CAST(len(kept) AS BIGINT) AS n_lines_kept
       |  FROM c1)
       |SELECT doc_id, clean_text, n_lines_kept,
       |  CAST(length(clean_text) -
       |    length(regexp_replace(clean_text, '[.!?]', '', 'g')) AS BIGINT)
       |    AS n_sentences,
       |  contains(lower(t), 'lorem ipsum') AS has_lorem,
       |  contains(t, '{') AS has_brace,
       |  (length(clean_text) -
       |     length(regexp_replace(clean_text, '[.!?]', '', 'g')) >= $minSentences
       |   AND NOT contains(lower(t), 'lorem ipsum')
       |   AND NOT contains(t, '{')) AS keep_c4
       |FROM c2""".stripMargin

  /** DSIR importance signals (Xie et al. 2023, arXiv:2302.03169 —
    * "Data Selection for Language Models via Importance Resampling"):
    * fit two hashed-n-gram bag models — one on the TARGET slice (the
    * distribution you want more of), one on the RAW corpus — and score
    * every document by how target-like its grams are. Grams are the
    * document's unigrams + bigrams (non-distinct: frequency is signal),
    * hashed into `buckets` buckets via the portable-md5 discipline
    * (first 4 hex chars parsed as an int — any engine with a standard
    * md5 reproduces the bucketing bit-for-bit), bucket probabilities
    * add-one smoothed.
    *
    * The paper scores log p_t(g) − p_r(g) sums; logs are transcendental
    * and libm's last-ulp drift breaks cross-engine hash gates (the q109
    * lesson), so the score is stated rationally: each gram's importance
    * ratio p_t(b)/p_r(b) = (ct+1)(TR+B) / ((cr+1)(TT+B)) is an exact
    * integer ratio rounded at 6 dp, and the document signals are the
    * exact-decimal MEAN of those ratios plus the count of target-leaning
    * grams (ratio > 1). Ranking by mean ratio is order-isomorphic to the
    * paper's mean-log for the distribution tails a selector keeps/cuts.
    *
    * Scale shape: pass 1 is ONE explode→agg corpus scan producing both
    * models simultaneously (conditional sum for the target side) into a
    * B-row table; totals and per-bucket ratios stay B-row and broadcast;
    * pass 2 re-explodes and probes the broadcast ratio table — two linear
    * scans, no corpus-sized shuffle on anything but the doc-id regroup,
    * exactly the paper's fit-once-score-once cost model.
    */
  private def dsirBucket(g: Column, buckets: Int): Column =
    conv(substring(md5(g), 1, 4), 16, 10).cast("long") % buckets

  private def dsirExploded(df: DataFrame, idCol: String, textCol: String,
                           targetPred: Column, buckets: Int): DataFrame =
    df.withColumn("__tk", TextFunctions.tokens(col(textCol)))
      .select(col(idCol), targetPred.alias("__is_t"),
        explode(concat(col("__tk"), grams(col("__tk"), 2))).alias("__g"))
      .withColumn("__b", dsirBucket(col("__g"), buckets))

  /** Pass 1 of DSIR standalone: fit BOTH hashed bag models in one
    * conditional-sum scan and emit the B-row importance-ratio table,
    * eagerly checkpointed (the HITS mean-normalization discipline) — the
    * artifact a production pipeline persists and ships to scorers (batch
    * probes it via broadcast join in [[dsirSignals]]; streams score
    * against its collected form via [[dsirScoreStateless]]).
    */
  def dsirModel(df: DataFrame, idCol: String, textCol: String,
                targetPred: Column, buckets: Int = 64): DataFrame = {
    val withGrams = dsirExploded(df, idCol, textCol, targetPred, buckets)
    val bucketCounts = withGrams.groupBy(col("__b"))
      .agg(count(lit(1)).alias("__cr"),
        sum(when(col("__is_t"), 1L).otherwise(0L)).alias("__ct"))
    val totals = bucketCounts
      .agg(sum(col("__cr")).alias("__tr"), sum(col("__ct")).alias("__tt"))
    bucketCounts.crossJoin(broadcast(totals))
      .select(col("__b"),
        round(((col("__ct") + 1) * (col("__tr") + buckets)).cast("double") /
          ((col("__cr") + 1) * (col("__tt") + buckets)), 6).alias("__ratio"))
      .eagerCut()
  }

  def dsirSignals(df: DataFrame, idCol: String, textCol: String,
                  targetPred: Column, buckets: Int = 64): DataFrame = {
    val ratios = dsirModel(df, idCol, textCol, targetPred, buckets)
    dsirExploded(df, idCol, textCol, targetPred, buckets)
      .join(broadcast(ratios), "__b")
      .groupBy(col(idCol), col("__is_t"))
      .agg(count(lit(1)).alias("n_grams"),
        round(Aggregations.exactAvg(col("__ratio")), 6).alias("mean_ratio"),
        sum(when(col("__ratio") > 1.0, 1L).otherwise(0L))
          .alias("n_target_leaning"))
      .select(col(idCol), col("__is_t").alias("is_target"),
        col("n_grams"), col("mean_ratio"), col("n_target_leaning"))
  }

  /** STATELESS DSIR scoring against a COLLECTED model (bucket → ratio;
    * B entries, so the driver-side collection is bounded by
    * construction): the whole computation is one per-row expression
    * chain — gram the text, look each gram's bucket up in a LITERAL
    * map, decimal-exact mean — so the SAME operator runs on batch
    * frames and unbounded streams (no shuffle, no state: the
    * stream-static scoring shape). Grams whose bucket the model never
    * saw are dropped, mirroring the batch path's inner join; the
    * decimal fold reproduces [[Aggregations.exactAvg]] bit-for-bit
    * (StreamingSpec pins output equality with [[dsirSignals]]).
    */
  def dsirScoreStateless(df: DataFrame, idCol: String, textCol: String,
                         model: Map[Long, Double],
                         buckets: Int = 64): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val mapLit = map(model.toSeq.sortBy(_._1)
      .flatMap { case (b, r) => Seq(lit(b), lit(r)) }: _*)
    val acc = DecimalType(30, 8)
    df.withColumn("__tk", TextFunctions.tokens(col(textCol)))
      .withColumn("__grams", concat(col("__tk"), grams(col("__tk"), 2)))
      .withColumn("__ratios", filter(
        transform(col("__grams"), g => element_at(mapLit, dsirBucket(g, buckets))),
        r => r.isNotNull))
      .select(col(idCol),
        size(col("__ratios")).cast("long").alias("n_grams"),
        when(size(col("__ratios")) > 0,
          round(aggregate(col("__ratios"),
            lit(java.math.BigDecimal.ZERO).cast(acc),
            (a, x) => (a + x.cast(acc)).cast(acc)).cast(DoubleType) /
            size(col("__ratios")), 6)).alias("mean_ratio"),
        size(filter(col("__ratios"), r => r > 1.0)).cast("long")
          .alias("n_target_leaning"))
  }

  /** Stopword-lexicon language ID: score = |distinct tokens ∩ lexicon| per
    * language; argmax with fixed priority order on ties. Emits
    * `lang_pred` + per-language scores.
    */
  def languageId(df: DataFrame, textCol: String): DataFrame = {
    val toks = TextFunctions.tokens(col(textCol))
    val scored = lexicons.foldLeft(df) { case (acc, (lang, words)) =>
      acc.withColumn(s"score_$lang",
        size(array_intersect(toks, array(words.map(lit): _*))).cast("long"))
    }
    // argmax by priority: lang i wins iff its score >= all later langs'
    // scores and > all earlier ones (strictly-later priority = first max).
    val langs = lexicons.map(_._1)
    val pred = langs.zipWithIndex.foldRight(lit("und"): Column) { case ((lang, i), rest) =>
      val beatsAll = langs.zipWithIndex.collect {
        case (other, j) if j != i =>
          if (j < i) col(s"score_$lang") > col(s"score_$other")
          else col(s"score_$lang") >= col(s"score_$other")
      }.reduce(_ && _)
      when(col(s"score_$lang") > 0 && beatsAll, lit(lang)).otherwise(rest)
    }
    scored.withColumn("lang_pred", pred)
  }

  /** Statistical LM quality signals (the CCNet/KenLM-style filter, stated
    * WITHOUT transcendental functions so it stays hash-exact across
    * engines): a bigram model is fit on the corpus itself by MLE —
    * p(w2|w1) = corpus-count(w1 w2) / corpus-count(w1) — and each document
    * is scored by the mean conditional probability of its bigrams plus
    * the fraction of "rare" bigrams (p ≤ rareThreshold). Low mean-prob /
    * high rare-frac flags the same degenerate text perplexity filtering
    * flags, with rational arithmetic in place of log-space (ln's last-ulp
    * drift across libm builds breaks hash gates — the q109 lesson; the
    * doc RANKING is order-isomorphic to mean log-prob for the extreme
    * tails a filter cuts). c1 is the corpus UNIGRAM count (all positions,
    * including doc-final tokens), so probabilities per prefix sum to
    * slightly under 1 — irrelevant to a filter, simpler on both engines.
    *
    * Scale shape: one explode→agg per order (unigram table is
    * vocab-sized → broadcast; bigram table shuffles on the gram key,
    * aggregate-then-probe like the substring-dedup postings — linear,
    * AQE-split on hot grams). Probabilities are rounded to 6 dp before
    * the exact-decimal mean, the proven q97 avg_quality discipline.
    * Docs with < 2 tokens emit (0, null, null).
    */
  def bigramLmSignals(df: DataFrame, idCol: String, textCol: String,
                      rareThreshold: Double = 0.01): DataFrame = {
    val base = df.select(col(idCol).alias("__doc"),
      TextFunctions.tokens(col(textCol)).alias("__tk"))
    val uniCounts = base.select(explode(col("__tk")).alias("__w"))
      .groupBy(col("__w")).agg(count(lit(1)).alias("__c1"))
    val bi = base.select(col("__doc"), explode(grams(col("__tk"), 2)).alias("__g2"))
    val biCounts = bi.groupBy(col("__g2")).agg(count(lit(1)).alias("__c2"))
    val probs = bi.join(biCounts, Seq("__g2"))
      .withColumn("__w1", substring_index(col("__g2"), " ", 1))
      .join(broadcast(uniCounts), col("__w1") === col("__w"))
      .withColumn("__p", round(col("__c2").cast("double") / col("__c1"), 6))
    val perDoc = probs.groupBy(col("__doc"))
      .agg(count(lit(1)).alias("n_bigrams"),
        round(Aggregations.exactAvg(col("__p")), 6).alias("mean_bigram_prob"),
        round(Aggregations.countIf(col("__p") <= rareThreshold).cast("double") /
          count(lit(1)), 6).alias("rare_frac"))
    base.select(col("__doc").alias(idCol))
      .join(perDoc, col(idCol) === col("__doc"), "left")
      .select(col(idCol), coalesce(col("n_bigrams"), lit(0L)).alias("n_bigrams"),
        col("mean_bigram_prob"), col("rare_frac"))
  }

  /** EXACT corpus-quantile cut without a global sort: keep rows whose
    * `scoreCol` is at or above the exact `quantile` (e.g. 0.1 = drop the
    * bottom decile). The 100 TB layout exploits the engine's scores
    * being DISCRETE (every quality signal here is rounded to 6 dp):
    *   1. groupBy(score) → per-value counts — one map-side-combined
    *      shuffle whose output is the DISTINCT-VALUE histogram
    *      (≤ 10^6-ish rows at 6 dp, corpus-size-independent);
    *   2. running sum over the SORTED HISTOGRAM — the only ordered
    *      window, over the small frame, never the corpus;
    *   3. the cutoff value (smallest score with cumulative count >
    *      quantile·n, i.e. rank ⌈q·n⌉+? — lower-quantile semantics:
    *      the ⌊q·n⌋-th smallest row is the last one dropped) comes back
    *      as a 1-row broadcast and filters the corpus map-side.
    * Exactness: unlike approx_percentile (q119's rows-only territory)
    * this is the true order statistic, and the whole derivation is
    * engine-portable integer arithmetic.
    */
  def quantileCut(df: DataFrame, scoreCol: String,
                  quantile: Double): DataFrame = {
    require(quantile >= 0.0 && quantile < 1.0, s"quantile in [0,1): $quantile")
    import org.apache.spark.sql.expressions.Window
    val hist = df.groupBy(col(scoreCol).alias("__s"))
      .agg(count(lit(1)).alias("__c"))
    val cum = hist.withColumn("__cum",
      sum(col("__c")).over(Window.orderBy(col("__s"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val total = hist.agg(sum(col("__c")).alias("__n"))
    // drop count = floor(quantile * n); cutoff = smallest score whose
    // cumulative count exceeds it (that score's rows survive)
    val cutoff = cum.crossJoin(broadcast(total))
      .filter(col("__cum") > floor(lit(quantile) * col("__n")))
      .agg(min(col("__s")).alias("__cut"))
    df.join(broadcast(cutoff), col(scoreCol) >= col("__cut")).drop("__cut")
  }

  /** BPE-ish token counting (builder brief): whitespace tokens plus an
    * approximate subword count — ceil(len/4) units per token, the classic
    * ~4-chars-per-BPE-token heuristic. Pure integer arithmetic → oracle-
    * exact.
    */
  def subwordCounts(df: DataFrame, textCol: String): DataFrame = {
    val toks = TextFunctions.tokens(col(textCol))
    df.withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("n_subwords",
        aggregate(toks, lit(0L), (acc, t) => acc + floor((length(t) + lit(3)) / lit(4))))
  }

  /** Repetition signals (the Gopher-style quality filters): fraction of
    * DUPLICATED word n-grams per document — high values flag boilerplate
    * and degenerate generations. Gram arrays are built WITHOUT dedup
    * (unlike [[TextFunctions.shingles]]) because the duplicate mass IS
    * the signal; tokens are bound to a column first so element_at walks
    * an attribute, not a re-evaluated expression tree. Null fraction for
    * docs too short to form a gram.
    */
  private[ops] def grams(t: Column, k: Int): Column =
    when(size(t) >= k,
      transform(sequence(lit(0), size(t) - k),
        i => concat_ws(" ", (0 until k).map(j => element_at(t, i + j + 1)): _*)))
      .otherwise(array().cast("array<string>"))

  private[ops] def dupFrac(g: Column): Column =
    when(size(g) > 0,
      round(lit(1.0) - size(array_distinct(g)).cast("double") / size(g), 6))
      .otherwise(lit(null))

  def repetitionStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    df.select(col(idCol), TextFunctions.tokens(col(textCol)).alias("__t"))
      .withColumn("__g2", grams(col("__t"), 2))
      .withColumn("__g3", grams(col("__t"), 3))
      .select(col(idCol),
        size(col("__t")).cast("long").alias("n_tokens"),
        dupFrac(col("__g2")).alias("dup_2gram_frac"),
        dupFrac(col("__g3")).alias("dup_3gram_frac"))
  }

  /** Corpus vocabulary with document frequencies — the first step of
    * vocabulary/BPE training and of IDF weighting. One explode→aggregate
    * pass: collection frequency (cf) and document frequency (df) in a
    * single shuffle on the token (map-side combined); doc_frac = df over
    * the corpus size (broadcast 1-row count — derive IDF as -ln(doc_frac)
    * downstream; the ratio is emitted instead of the log because double
    * ln is the one step libm implementations disagree on in the last
    * ulp). Top-k selection is a TakeOrdered on the TOTAL order
    * (cf desc, token asc) — deterministic, no global sort.
    */
  def vocabulary(df: DataFrame, idCol: String, textCol: String,
                 topK: Int = 25): DataFrame = {
    val nDocs = df.agg(count(lit(1)).alias("__n_docs"))
    df.select(col(idCol).alias("__doc"),
        explode(TextFunctions.tokens(col(textCol))).alias("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).alias("cf"), countDistinct(col("__doc")).alias("df"))
      .crossJoin(broadcast(nDocs))
      .withColumn("doc_frac", round(col("df").cast("double") / col("__n_docs"), 6))
      .drop("__n_docs")
      .orderBy(col("cf").desc, col("token").asc)
      .limit(topK)
  }

  /** Per-document top-k terms by TF·IDF, with idf stated as the RATIONAL
    * n_docs/df (no logarithm: ln's last-ulp varies across libm builds and
    * would break cross-engine hash equality; ranking is order-isomorphic
    * to the log form). One explode→(doc,token) aggregate, a token-keyed
    * join against the document frequencies derived from it, a broadcast
    * 1-row n_docs frame, and a per-doc window — every shuffle is on a
    * natural key, nothing global.
    */
  def tfIdfTopTerms(df: DataFrame, idCol: String, textCol: String,
                    topK: Int = 3): DataFrame = {
    val nDocs = df.agg(count(lit(1)).alias("__n_docs"))
    val tf = df.select(col(idCol),
        explode(TextFunctions.tokens(col(textCol))).alias("token"))
      .groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).alias("tf"))
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).alias("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("tfidf").desc, col("token").asc)
    tf.join(dfreq, "token")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf", round(col("tf") * col("__n_docs") / col("df"), 6))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= topK)
      .select(col(idCol), col("token"), col("tf"), col("df"), col("tfidf"))
  }

  /** Content fingerprint: min-k sketch over hashed word 3-gram shingles
    * (hash-shingle path — no string building; see
    * TextFunctions.shingleHashesFromTokenHashes).
    */
  def fingerprints(df: DataFrame, textCol: String, k: Int = 8): DataFrame =
    df.withColumn("__th", TextFunctions.tokenHashes(TextFunctions.tokens(col(textCol))))
      .withColumn("__sh", TextFunctions.shingleHashesFromTokenHashes(col("__th"), 3))
      .withColumn("fingerprint",
        xxhash64(concat_ws(",",
          transform(slice(array_sort(col("__sh")), 1, k), x => x.cast("string")))))
      .drop("__th", "__sh")

  /** [[fingerprints]] with a PORTABLE hash (md5 over string 3-gram
    * shingles, sketch = first k sorted hex digests joined): any engine
    * reproduces it bit-for-bit, so the min-k sketch machinery carries a
    * hash-exact oracle (q112) — the exactness-twin pattern (q49/q71/q74)
    * applied to fingerprinting. The xxhash64 form ([[fingerprints]])
    * stays the production path: no string building, one word per gram.
    */
  def fingerprintsPortable(df: DataFrame, idCol: String, textCol: String,
                           k: Int = 8): DataFrame = {
    // The token array MUST be bound to an attribute before the lambda
    // references it: an unbound `tokens(text)` expression inside the
    // transform re-runs the whole split per element_at — measured 8 s vs
    // 0.3 s at sf0.1 (the same substitution family as pinnedFilter).
    val tk = col("__tk")
    val grams = when(size(tk) >= 3,
      array_distinct(transform(sequence(lit(0), size(tk) - 3),
        i => concat_ws(" ",
          element_at(tk, i + 1), element_at(tk, i + 2), element_at(tk, i + 3)))))
      .otherwise(array().cast("array<string>"))
    df.select(col(idCol), TextFunctions.tokens(col(textCol)).alias("__tk"))
      .select(col(idCol),
        concat_ws(",", slice(array_sort(transform(grams, g => md5(g))), 1, k))
          .alias("fingerprint"))
  }

  /** Cross-source contamination matrix: for every pair of corpus sources,
    * the count of shared distinct word k-grams and the Jaccard similarity
    * of the two gram sets — the "is my mix leaking between sources"
    * report a curation pipeline runs before fixing per-source weights
    * (q110 answers "is THIS doc contaminated"; this answers "which SOURCE
    * pairs overlap at all, and how badly"). Pairs with zero shared grams
    * are absent — at 20 sources the dense matrix is tiny, but at
    * thousands of sources the sparse form is the only one that scales.
    *
    * Scale shape: ONE explode→distinct shuffle builds the (source, gram)
    * set; the self-join keys on gram (identical subplans — Spark reuses
    * the exchange) with per-gram fan-out bounded by the source count, and
    * the per-source sizes (#sources rows) broadcast onto the result. No
    * global collect, no cartesian: a gram shared by s sources costs
    * s·(s−1)/2 join rows, the exact size of the answer it contributes to.
    */
  def sourceOverlapMatrix(df: DataFrame, sourceCol: String, textCol: String,
                          k: Int = 5): DataFrame = {
    // bind the token array before shingles reads it (element_at on an
    // unbound expression re-splits per element — the pinnedFilter family)
    // The explicit isnotnull(gram) is load-bearing for REUSE, not
    // semantics (concat_ws grams are never null): the join sides infer it
    // from the equi-key, and without it here the sizes legs' subplan
    // differs by exactly that filter — four separate corpus scans instead
    // of one reused gram-distinct exchange (observed on the initial plan).
    val grams = df
      .select(col(sourceCol).alias("src"), TextFunctions.tokens(col(textCol)).alias("__tk"))
      .select(col("src"), explode(TextFunctions.shingles(col("__tk"), k)).alias("gram"))
      .filter(col("gram").isNotNull && col("src").isNotNull)
      .distinct()
    val sizes = grams.groupBy(col("src")).agg(count(lit(1)).alias("n"))
    val shared = grams.alias("a")
      .join(grams.alias("b"),
        col("a.gram") === col("b.gram") && col("a.src") < col("b.src"))
      .groupBy(col("a.src").alias("src_a"), col("b.src").alias("src_b"))
      .agg(count(lit(1)).alias("shared_grams"))
    shared
      .join(broadcast(sizes.select(col("src").alias("src_a"), col("n").alias("__na"))), "src_a")
      .join(broadcast(sizes.select(col("src").alias("src_b"), col("n").alias("__nb"))), "src_b")
      .select(col("src_a"), col("src_b"), col("shared_grams"),
        round(col("shared_grams").cast("double") /
          (col("__na") + col("__nb") - col("shared_grams")), 6).alias("jaccard"))
  }

  /** Exact token-phrase search through POSITIONAL POSTINGS — the indexed
    * search primitive: per-term postings (filtered BEFORE any shuffle, so
    * only the query terms' rows move) joined on (doc, aligned position).
    * At 100 TB the postings frame is a persisted inverted index written
    * once (the q93/q120 index discipline); this op expresses the probe.
    * A LIKE/contains scan — the oracle's formulation — reads every byte
    * of every document instead; the two agreeing is the gate that the
    * index path loses no matches.
    */
  def phraseSearch(df: DataFrame, idCol: String, textCol: String,
                   phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must have at least one token")
    val postings = df.select(col(idCol),
      posexplode(TextFunctions.tokens(col(textCol))).as(Seq("pos", "tok")))
    val anchor = postings.filter(col("tok") === phrase.head)
      .select(col(idCol), col("pos"))
    phrase.zipWithIndex.drop(1).foldLeft(anchor) { case (acc, (w, i)) =>
      acc.join(postings.filter(col("tok") === w)
          .select(col(idCol).alias("__id2"), (col("pos") - i).alias("__p2")),
        col(idCol) === col("__id2") && col("pos") === col("__p2"))
        .select(col(idCol), col("pos"))
    }.select(col(idCol)).distinct()
  }

  /** Top-k bigram collocations by LIFT — PMI's ranking without its
    * logarithm (lift = p(ab) / (p(a)·p(b)); log is monotone, so the
    * top-k by lift IS the top-k by PMI, and the statistic stays a pure
    * integer ratio: c₂·N₁² / (N₂·c_a·c_b) with one double division —
    * the q142 no-libm discipline). `minCount` kills the hapax pairs
    * that trivially maximize any association score. Unigram table is
    * vocab-sized → broadcast (q142's posture); bigram counts shuffle
    * once on the gram key; top-k is TakeOrderedAndProject. Contract:
    * N₂·c_a·c_b must stay below 2⁵³ (count products are exact in
    * double there; shard the corpus stats beyond that).
    */
  def collocations(df: DataFrame, textCol: String, minCount: Long,
                   k: Int): DataFrame = {
    require(minCount >= 1 && k >= 1, "minCount and k must be positive")
    val base = df.select(TextFunctions.tokens(col(textCol)).alias("__tk"))
    val uni = base.select(explode(col("__tk")).alias("__w"))
      .groupBy(col("__w")).agg(count(lit(1)).alias("__c1"))
    val totals = base.agg(
      sum(size(col("__tk")).cast("long")).alias("__n1"),
      sum(greatest(size(col("__tk")) - 1, lit(0)).cast("long")).alias("__n2"))
    val biCounts = base.select(explode(grams(col("__tk"), 2)).alias("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).alias("pair_cnt"))
      .filter(col("pair_cnt") >= minCount)
    biCounts
      .withColumn("__w1", substring_index(col("bigram"), " ", 1))
      .withColumn("__w2", substring_index(col("bigram"), " ", -1))
      .join(broadcast(uni.select(col("__w").alias("__w1"),
        col("__c1").alias("w1_cnt"))), "__w1")
      .join(broadcast(uni.select(col("__w").alias("__w2"),
        col("__c1").alias("w2_cnt"))), "__w2")
      .crossJoin(broadcast(totals))
      .select(col("bigram"), col("pair_cnt"), col("w1_cnt"), col("w2_cnt"),
        round(col("pair_cnt").cast("double") * col("__n1") * col("__n1") /
          (col("__n2") * col("w1_cnt") * col("w2_cnt")), 6).alias("lift"))
      .orderBy(col("lift").desc, col("bigram"))
      .limit(k)
  }

  /** BM25 ranked retrieval for a bag-of-words query — the SCORING
    * complement of [[phraseSearch]]'s boolean index probe. The postings
    * frame is filtered to the query's terms BEFORE any shuffle (only
    * those rows move; at 100 TB the per-term (doc, tf) lists are a
    * persisted inverted index — the q93/q120 discipline — and this op
    * expresses the probe + score; term document-frequencies and the
    * 1-row corpus stats broadcast).
    *
    * Scoring is the rational-idf BM25 variant: idf(t) = (N − df + 0.5) /
    * (df + 0.5), no logarithm — ln drifts across libm builds (the
    * q109/q142 lesson) and BM25's ranking only needs idf monotone in df.
    * k1/b are exact binary fractions; per-term contributions are rounded
    * to 6 dp then DECIMAL-summed per doc so the cross-term sum is
    * aggregation-order-independent; top-k executes as
    * TakeOrderedAndProject (per-partition top-k + driver merge, never a
    * global sort). (score desc, id asc) is a total order.
    */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
               query: Seq[String], k: Int,
               k1: Double = 1.25, b: Double = 0.75): DataFrame = {
    require(query.nonEmpty, "query must have at least one term")
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val toksOf = df.select(col(idCol), TextFunctions.tokens(col(textCol)).alias("__tk"))
    val docLen = toksOf.select(col(idCol), size(col("__tk")).cast("long").alias("dl"))
    val stats = docLen.agg(
      count(lit(1)).alias("__n"),
      Aggregations.exactSum(col("dl")).alias("__sumdl"))
    val postings = toksOf
      .select(col(idCol), explode(col("__tk")).alias("tok"))
      .filter(col("tok").isin(query.distinct: _*))
      .groupBy(col(idCol), col("tok"))
      .agg(count(lit(1)).alias("tf"))
    val dfreq = postings.groupBy(col("tok")).agg(count(lit(1)).alias("df"))
    val nD = col("__n").cast(DoubleType)
    val avgdl = col("__sumdl") / nD
    val idf = (nD - col("df") + lit(0.5)) / (col("df") + lit(0.5))
    val tfD = col("tf").cast(DoubleType)
    val norm = tfD * (k1 + 1.0) /
      (tfD + lit(k1) * (lit(1.0) - b + lit(b) * col("dl") / avgdl))
    postings
      .join(broadcast(dfreq), "tok")
      .join(docLen, idCol)
      .crossJoin(broadcast(stats))
      .select(col(idCol), round(idf * norm, 6).alias("__c"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).alias("n_terms"),
        round(sum(col("__c").cast(DecimalType(30, 8))).cast(DoubleType), 6)
          .alias("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  // ---- oracle SQL fragments ---------------------------------------------

  def langScoreSql(lang: String): String = {
    val words = lexicons.toMap.apply(lang).map(w => s"'$w'").mkString(",")
    s"CAST(len(list_intersect(${TextFunctions.tokensSql}, [$words])) AS BIGINT)"
  }
}
