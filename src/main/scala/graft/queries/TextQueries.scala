package graft.queries

import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.ops.{Dedup, TextAnalysis}
import graft.ops.Aggregations.exactAvgSql
import graft.functions.TextFunctions.{normalizeTextSql, tokensSql, wordGramsSql}
import graft.ops.Checkpoints._

/** Text-analysis queries over the `documents` fixture. Oracles reproduce
  * the exact integer token statistics and the deterministic double
  * arithmetic (DuckDB list functions mirror Spark HOFs).
  */
object TextQueries {

  private val toks = tokensSql
  private val nTok = s"CAST(len($toks) AS BIGINT)"

  /** Fixed BPE merge count for q237/q238 — the model size knob. 16 keeps
    * the oracle's unrolled CTE chain readable while exercising multi-
    * level merges (merged symbols re-merging into longer units).
    * Declared BEFORE `all`: the oracle strings interpolate it eagerly.
    */
  private val BpeMerges = 16

  val all: Seq[QueryDef] = Seq(

    QueryDef("q30_token_stats",
      (s, d) => TextAnalysis.tokenStats(Tables.documents(s, d), "text")
        .select("doc_id", "n_tokens", "n_uniq_tokens", "char_len", "avg_token_len", "punct_count"),
      Some(s"""SELECT doc_id,
              |  $nTok AS n_tokens,
              |  CAST(len(list_distinct($toks)) AS BIGINT) AS n_uniq_tokens,
              |  CAST(length(text) AS BIGINT) AS char_len,
              |  CASE WHEN len($toks) > 0 THEN
              |    CAST(list_reduce(list_transform($toks, t -> CAST(len(t) AS BIGINT)),
              |                     (a, b) -> a + b) AS DOUBLE) / $nTok
              |  ELSE NULL END AS avg_token_len,
              |  CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS BIGINT)
              |    AS punct_count
              |FROM documents""".stripMargin)),

    QueryDef("q31_quality_score",
      (s, d) => TextAnalysis.qualityScore(Tables.documents(s, d), "text")
        .select("doc_id", "n_tokens", "quality_score"),
      Some(s"""WITH stats AS (
              |  SELECT doc_id,
              |    $nTok AS n_tokens,
              |    CAST(len(list_distinct($toks)) AS BIGINT) AS n_uniq_tokens,
              |    CAST(length(text) AS BIGINT) AS char_len,
              |    CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS BIGINT)
              |      AS punct_count
              |  FROM documents)
              |SELECT doc_id, n_tokens,
              |  round(0.4 * least(CAST(n_tokens AS DOUBLE) / 50.0, 1.0)
              |      + 0.4 * (CASE WHEN n_tokens > 0
              |               THEN CAST(n_uniq_tokens AS DOUBLE) / n_tokens ELSE 0.0 END)
              |      + 0.2 * (1.0 - (CASE WHEN char_len > 0
              |               THEN least(CAST(punct_count AS DOUBLE) * 10.0 / char_len, 1.0)
              |               ELSE 0.0 END)), 6) AS quality_score
              |FROM stats""".stripMargin)),

    QueryDef("q32_language_id",
      (s, d) => TextAnalysis.languageId(Tables.documents(s, d), "text")
        .select(Seq(col("doc_id")) ++
          TextAnalysis.lexicons.map { case (l, _) => col(s"score_$l") } :+
          col("lang_pred"): _*),
      Some(languageIdSql)),

    QueryDef("q34_subword_counts",
      (s, d) => TextAnalysis.subwordCounts(Tables.documents(s, d), "text")
        .select("doc_id", "n_tokens", "n_subwords"),
      Some(s"""SELECT doc_id,
              |  $nTok AS n_tokens,
              |  CASE WHEN len($toks) = 0 THEN 0
              |       ELSE CAST(list_reduce(list_transform($toks,
              |              t -> CAST(floor((len(t) + 3) / 4) AS BIGINT)),
              |            (a, b) -> a + b) AS BIGINT) END AS n_subwords
              |FROM documents""".stripMargin)),

    // Fingerprint uses engine-internal xxhash64 — not oracle-expressible;
    // determinism + collision behavior pinned in ScalaTest. The driver
    // records a rows-only check.
    QueryDef("q33_fingerprint",
      (s, d) => TextAnalysis.fingerprints(Tables.documents(s, d), "text")
        .select("doc_id", "fingerprint"),
      None),

    // q33's exactness twin: the same min-k shingle sketch with a
    // PORTABLE hash (md5 hex over string 3-grams), so the sketch
    // machinery itself is oracle-gated — the q49/q71/q74 pattern
    // applied to fingerprinting.
    QueryDef("q112_fingerprint_portable",
      (s, d) => TextAnalysis.fingerprintsPortable(
        Tables.documents(s, d), "doc_id", "text", k = 8),
      Some(s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
              |g AS (SELECT doc_id,
              |  CASE WHEN len(tk) >= 3 THEN
              |    list_distinct(${wordGramsSql("tk", 3)})
              |  ELSE CAST([] AS VARCHAR[]) END AS grams FROM t)
              |SELECT doc_id,
              |  array_to_string(list_sort(list_transform(grams, g -> md5(g)))[1:8], ',')
              |    AS fingerprint
              |FROM g""".stripMargin)),

    // Gopher-style repetition fractions: duplicated 2-/3-gram mass per
    // doc. The oracle builds the SAME raw (non-deduped) gram lists with
    // DuckDB list functions.
    QueryDef("q88_repetition_stats",
      (s, d) => TextAnalysis.repetitionStats(Tables.documents(s, d), "doc_id", "text"),
      Some(s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
              |g AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
              |  CASE WHEN len(tk) >= 2 THEN ${wordGramsSql("tk", 2)}
              |  ELSE CAST([] AS VARCHAR[]) END AS g2,
              |  CASE WHEN len(tk) >= 3 THEN ${wordGramsSql("tk", 3)}
              |  ELSE CAST([] AS VARCHAR[]) END AS g3
              |  FROM t)
              |SELECT doc_id, n_tokens,
              |  CASE WHEN len(g2) > 0 THEN
              |    round(1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2), 6)
              |  ELSE NULL END AS dup_2gram_frac,
              |  CASE WHEN len(g3) > 0 THEN
              |    round(1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3), 6)
              |  ELSE NULL END AS dup_3gram_frac
              |FROM g""".stripMargin)),

    // Context-window chunking: every doc split into 40-token windows
    // starting each 32 tokens (8-token overlap). The oracle rebuilds the
    // same windows with DuckDB list slicing over the same token arrays.
    QueryDef("q91_chunk_documents",
      (s, d) => graft.ops.Packing.chunkDocuments(
        Tables.documents(s, d), "doc_id", "text", maxTokens = 40, stride = 32),
      Some(s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
              |c AS (SELECT doc_id, tk,
              |        unnest(range(greatest(CAST(ceil(len(tk) / 32.0) AS BIGINT), 1)))
              |          AS chunk_ix
              |      FROM t)
              |SELECT doc_id, chunk_ix,
              |  CAST(len(tk[chunk_ix*32+1 : chunk_ix*32+40]) AS BIGINT) AS n_chunk_tokens,
              |  array_to_string(tk[chunk_ix*32+1 : chunk_ix*32+40], ' ') AS chunk_text
              |FROM c""".stripMargin)),

    // Concat-and-split token packing (GPT-style layout): bin = the
    // budget-boundary slot of each doc's first token in the id-ordered
    // virtual token stream. A pure function of (data, budget), so the
    // oracle recomputes it as a window prefix sum.
    QueryDef("q92_pack_sequences",
      (s, d) => graft.ops.Packing.packConcatSplit(
        Tables.documents(s, d), "doc_id", "text", budget = 256),
      Some(s"""WITH t AS (SELECT doc_id, $nTok AS n_tokens FROM documents),
              |c AS (SELECT doc_id, n_tokens,
              |        SUM(n_tokens) OVER (ORDER BY doc_id
              |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              |      FROM t)
              |SELECT doc_id, n_tokens,
              |  CAST((cum - n_tokens) // 256 AS BIGINT) AS bin_id
              |FROM c""".stripMargin)),

    // String scalar-function parity: slicing, padding, replacement,
    // translation, edit distance — the text-wrangling surface, stated
    // identically in both engines. Patterns always match (^\w+) so
    // no-match semantics never enter the comparison.
    QueryDef("q96_string_functions",
      (s, d) => Tables.documents(s, d).select(
        col("doc_id"),
        substring(col("text"), 1, 20).alias("head20"),
        expr("replace(text, 'table', 'TBL')").alias("replaced"),
        lpad(col("lang"), 5, "_").alias("lang_pad"),
        rpad(col("source"), 8, ".").alias("src_pad"),
        reverse(col("source")).alias("src_rev"),
        levenshtein(col("lang"), col("source")).cast("long").alias("edit_dist"),
        expr("left(text, 10)").alias("left10"),
        expr("right(text, 10)").alias("right10"),
        repeat(col("lang"), 2).alias("lang2"),
        concat_ws("-", col("lang"), col("source")).alias("tagged"),
        translate(col("text"), "aeiou", "AEIOU").alias("unvoweled"),
        regexp_extract(col("text"), "^(\\w+)", 1).alias("first_word")),
      Some("""SELECT doc_id,
             |  substring(text, 1, 20) AS head20,
             |  replace(text, 'table', 'TBL') AS replaced,
             |  lpad(lang, 5, '_') AS lang_pad,
             |  rpad(source, 8, '.') AS src_pad,
             |  reverse(source) AS src_rev,
             |  CAST(levenshtein(lang, source) AS BIGINT) AS edit_dist,
             |  left(text, 10) AS left10,
             |  right(text, 10) AS right10,
             |  repeat(lang, 2) AS lang2,
             |  concat_ws('-', lang, source) AS tagged,
             |  translate(text, 'aeiou', 'AEIOU') AS unvoweled,
             |  regexp_extract(text, '^(\w+)', 1) AS first_word
             |FROM documents""".stripMargin)),

    // The end-to-end curation chain (see corpusCuration scaladoc).
    // Cross-source contamination matrix: which SOURCE pairs share word
    // 5-grams, and how badly — the mix-level complement to q110's
    // per-document decontamination. String grams on both engines, so the
    // sparse (src_a, src_b, shared, jaccard) matrix hash-verifies.
    QueryDef("q136_source_overlap_matrix",
      (s, d) => TextAnalysis.sourceOverlapMatrix(
        Tables.documents(s, d), "source", "text", k = 5),
      Some(s"""WITH t AS (SELECT source, $toks AS tk FROM documents),
              |g AS (SELECT DISTINCT source, unnest(${wordGramsSql("tk", 5)})
              |        AS gram
              |      FROM t),
              |s AS (SELECT source, count(*) AS n FROM g GROUP BY source),
              |sh AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS shared_grams
              |       FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
              |       GROUP BY 1, 2)
              |SELECT sh.src_a, sh.src_b, sh.shared_grams,
              |  round(CAST(sh.shared_grams AS DOUBLE) /
              |        (sa.n + sb.n - sh.shared_grams), 6) AS jaccard
              |FROM sh JOIN s sa ON sh.src_a = sa.source
              |        JOIN s sb ON sh.src_b = sb.source""".stripMargin)),

    QueryDef("q97_corpus_curation",
      (s, d) => corpusCuration(s, d),
      Some(corpusCurationSql)),

    // EXACT corpus-quantile filter (drop the bottom decile by quality)
    // without a global sort: distinct-value histogram → running sum over
    // the small sorted histogram → 1-row cutoff broadcast back as a
    // map-side filter. Value-level semantics: rows TIED with the cutoff
    // value all survive (splitting a tied value would be row-arbitrary).
    // The oracle states the identical histogram cut.
    QueryDef("q144_quality_quantile_cut",
      (s, d) => TextAnalysis.quantileCut(
        TextAnalysis.curationSignals(Tables.documents(s, d), "text")
          .select(col("doc_id"), col("quality_score")),
        "quality_score", quantile = 0.1),
      Some(s"""$curationCtes,
              |hist AS (SELECT quality_score AS s, count(*) AS c FROM q GROUP BY 1),
              |tot AS (SELECT count(*) AS n FROM q),
              |cum AS (SELECT s, sum(c) OVER (ORDER BY s
              |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              |        FROM hist),
              |cut AS (SELECT min(s) AS cut FROM cum, tot
              |        WHERE cum > floor(0.1 * n))
              |SELECT doc_id, quality_score FROM q, cut
              |WHERE quality_score >= cut""".stripMargin)),

    // Per-source document cap — the Common-Crawl curation rule "at most n
    // docs per domain". NOT a window: the bounded-heap top-k aggregate
    // (TopKPairsAgg) keeps ≤ n pairs per group per task and merges
    // map-side, so one hot source never funnels through a single task's
    // sort; the oracle states the same selection as row_number over
    // (n_chars DESC, doc_id ASC) — the heap's exact tie rule.
    QueryDef("q155_source_doc_cap",
      (s, d) => graft.ops.Sampling.capPerGroup(
        Tables.documents(s, d), "source", "doc_id",
        col("n_chars").cast("double"), n = 40),
      Some("""SELECT source, doc_id, rank, score FROM (
             |  SELECT source, doc_id,
             |    CAST(row_number() OVER (PARTITION BY source
             |           ORDER BY n_chars DESC, doc_id ASC) AS BIGINT) AS rank,
             |    CAST(n_chars AS DOUBLE) AS score
             |  FROM documents)
             |WHERE rank <= 40""".stripMargin)),

    // Deterministic negative sampling (contrastive-training data prep):
    // k portable pseudo-random negatives per document via a
    // multiplicative-hash residue walk in pure 64-bit integer arithmetic
    // — any engine reproduces the exact draw (md5 draws cannot do modular
    // INDEXING portably), negatives stable across runs and cluster
    // sizes. Zero shuffle; the corpus count is the one bounded action.
    QueryDef("q171_negative_sampling",
      (s, d) => {
        val docs = Tables.documents(s, d)
        graft.ops.Sampling.negativeSamples(
          docs.select(col("doc_id")), "doc_id", k = 4, n = docs.count())
      },
      Some("""WITH n AS (SELECT COUNT(*) AS n FROM documents),
             |j AS (SELECT i AS j FROM range(4) t(i)),
             |raw AS (
             |  SELECT doc_id, j,
             |    ((doc_id % n.n) * (2654435761 % n.n) + (j + 1) * (40503 % n.n)) % n.n AS r,
             |    n.n AS nn
             |  FROM documents CROSS JOIN n CROSS JOIN j)
             |SELECT doc_id, CAST(j AS BIGINT) AS j,
             |  CASE WHEN r = doc_id THEN (r + 1) % nn ELSE r END AS neg_id
             |FROM raw""".stripMargin)),

    // Top-20 bigram collocations by lift (PMI's ranking without its
    // logarithm — log is monotone so top-k by lift IS top-k by PMI, and
    // the statistic stays an integer ratio with ONE double division).
    // min-count 5 kills hapax pairs; unigrams broadcast (q142 posture).
    QueryDef("q213_collocations",
      (s, d) => TextAnalysis.collocations(Tables.documents(s, d), "text",
        minCount = 5, k = 20),
      Some(s"""WITH t AS (SELECT $toks AS tk FROM documents),
              |uni AS (SELECT unnest(tk) AS w FROM t),
              |c1 AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM uni GROUP BY w),
              |tot AS (SELECT CAST(SUM(len(tk)) AS BIGINT) AS n1,
              |        CAST(SUM(greatest(len(tk) - 1, 0)) AS BIGINT) AS n2 FROM t),
              |b AS (SELECT unnest(CASE WHEN len(tk) >= 2
              |        THEN ${wordGramsSql("tk", 2)}
              |        ELSE CAST([] AS VARCHAR[]) END) AS g FROM t),
              |c2 AS (SELECT g AS bigram, CAST(COUNT(*) AS BIGINT) AS pair_cnt
              |       FROM b GROUP BY g HAVING COUNT(*) >= 5)
              |SELECT bigram, pair_cnt, ca.c AS w1_cnt, cb.c AS w2_cnt,
              |  round(CAST(pair_cnt AS DOUBLE) * tot.n1 * tot.n1
              |        / (tot.n2 * ca.c * cb.c), 6) AS lift
              |FROM c2
              |JOIN c1 ca ON split_part(bigram, ' ', 1) = ca.w
              |JOIN c1 cb ON split_part(bigram, ' ', 2) = cb.w
              |CROSS JOIN tot
              |ORDER BY lift DESC, bigram
              |LIMIT 20""".stripMargin)),

    // BM25 ranked retrieval (rational-idf variant — no logarithm, see
    // TextAnalysis.bm25TopK): indexed probe+score vs the oracle's full
    // recomputation from raw text; per-term contributions rounded then
    // DECIMAL-summed so the cross-term sum is order-independent.
    QueryDef("q184_bm25_topk",
      (s, d) => TextAnalysis.bm25TopK(
        Tables.documents(s, d), "doc_id", "text",
        Seq("hash", "join", "vector"), k = 15),
      Some(s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
              |dl AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl FROM t),
              |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
              |              ${graft.ops.Aggregations.exactSumSql("dl")} AS sumdl
              |       FROM dl),
              |p AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
              |      FROM (SELECT doc_id, unnest(tk) AS tok FROM t) u
              |      WHERE tok IN ('hash', 'join', 'vector')
              |      GROUP BY doc_id, tok),
              |dfr AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM p GROUP BY tok),
              |c AS (SELECT p.doc_id,
              |        round(((CAST(st.n AS DOUBLE) - dfr.df + 0.5) / (dfr.df + 0.5)) *
              |              (CAST(tf AS DOUBLE) * 2.25 /
              |               (CAST(tf AS DOUBLE) + 1.25 *
              |                (1.0 - 0.75 + 0.75 * dl.dl /
              |                 (st.sumdl / CAST(st.n AS DOUBLE))))), 6) AS c
              |      FROM p JOIN dfr USING (tok) JOIN dl USING (doc_id) CROSS JOIN st)
              |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
              |  round(CAST(CAST(SUM(CAST(c AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE), 6)
              |    AS score
              |FROM c GROUP BY doc_id
              |ORDER BY score DESC, doc_id
              |LIMIT 15""".stripMargin)),

    // Indexed phrase search: per-term positional postings joined on
    // aligned positions — only the query terms' postings ever move, vs
    // the oracle's contains() scan that reads every byte. Two independent
    // formulations agreeing on the hash = the index loses no matches.
    QueryDef("q176_phrase_search",
      (s, d) => TextAnalysis.phraseSearch(
        Tables.documents(s, d), "doc_id", "text", Seq("value", "table")),
      Some(s"""SELECT doc_id FROM documents
             |WHERE contains(' ' || array_to_string($toks, ' ') || ' ',
             |               ' value table ')""".stripMargin)),

    // Statistical LM quality signals (CCNet/KenLM-style filter without
    // log space): corpus-fit MLE bigram model, per-doc mean conditional
    // probability + rare-bigram fraction. Rational arithmetic and 6-dp
    // rounding on both engines → hash-exact (ln would drift across libm
    // builds, the q109 lesson).
    QueryDef("q142_bigram_lm_quality",
      (s, d) => TextAnalysis.bigramLmSignals(
        Tables.documents(s, d), "doc_id", "text", rareThreshold = 0.01),
      Some(s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
              |u AS (SELECT unnest(tk) AS w FROM t),
              |c1 AS (SELECT w, count(*) AS c1 FROM u GROUP BY w),
              |b AS (SELECT doc_id, unnest(CASE WHEN len(tk) >= 2
              |        THEN ${wordGramsSql("tk", 2)}
              |        ELSE CAST([] AS VARCHAR[]) END) AS g2 FROM t),
              |c2 AS (SELECT g2, count(*) AS c2 FROM b GROUP BY g2),
              |p AS (SELECT b.doc_id, round(CAST(c2.c2 AS DOUBLE) / c1.c1, 6) AS prob
              |      FROM b JOIN c2 USING (g2)
              |             JOIN c1 ON split_part(b.g2, ' ', 1) = c1.w),
              |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
              |        round(${exactAvgSql("prob")}, 6) AS mean_bigram_prob,
              |        round(CAST(sum(CASE WHEN prob <= 0.01 THEN 1 ELSE 0 END) AS DOUBLE)
              |              / count(*), 6) AS rare_frac
              |        FROM p GROUP BY doc_id)
              |SELECT t.doc_id, coalesce(agg.n_bigrams, 0) AS n_bigrams,
              |  agg.mean_bigram_prob, agg.rare_frac
              |FROM t LEFT JOIN agg USING (doc_id)""".stripMargin)),

    // The training-data ASSEMBLY chain end-to-end (round-8 verdict #3):
    // curated keepers (q97's chain) → epoch-weighted mixture (q133's
    // recipe) → concat-and-split packing (q92's discipline) → shard-and-
    // order export (q134's layout), one DuckDB CTE chain as the oracle.
    // Each stage is individually hash-green; this query pins the
    // INTERFACES between them, which no individual oracle checks:
    //  - replicas leaving the mixer get a REPLICA-UNIQUE seq_id
    //    (doc_id*4 + pass — packing on the bare doc_id would fold
    //    replicas onto one sort key and make bin assignment
    //    nondeterministic under ties);
    //  - the pass provenance survives packing inside seq_id and is
    //    re-derived at the end (doc_id = seq_id div 4, pass = seq_id%4);
    //  - the shard draw keys on the PACKED bin id, not the document id,
    //    so co-packed sequences ship in the same shard file.
    // Scale: adds one tiny distinct-bins frame + a broadcast join on top
    // of the constituent operators' shapes — no new corpus shuffle.
    QueryDef("q138_assembly_chain",
      (s, d) => assemblyStages(s, d).last._2,
      Some {
        val tHeavy = graft.ops.Sampling.hexThreshold(2.3 - 2)
        val tTail = graft.ops.Sampling.hexThreshold(0.7)
        val heavy = (0 until 5).map(i => s"'src$i'").mkString(", ")
        val tail = (5 until 20).map(i => s"'src$i'").mkString(", ")
        s"""$curationCtes,
           |cur AS (SELECT f.doc_id, f.source, d.text
           |        FROM filtered f JOIN documents d ON d.doc_id = f.doc_id),
           |p AS (SELECT pass FROM range(0, 3) r(pass)),
           |mix AS (SELECT c.doc_id, c.source, c.text, p.pass,
           |  md5(CAST(c.doc_id AS VARCHAR) || ':' || CAST(p.pass AS VARCHAR) || ':42') AS mk
           |  FROM cur c CROSS JOIN p),
           |mixed AS (SELECT doc_id, text, pass FROM mix
           |  WHERE (source IN ($heavy) AND (pass < 2 OR (pass = 2 AND mk < '$tHeavy')))
           |     OR (source IN ($tail) AND pass = 0 AND mk < '$tTail')),
           |seq AS (SELECT doc_id * 4 + pass AS seq_id, doc_id, pass,
           |  CAST(len($toks) AS BIGINT) AS n_tokens FROM mixed),
           |cum AS (SELECT seq_id, doc_id, pass, n_tokens,
           |  SUM(n_tokens) OVER (ORDER BY seq_id
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
           |  FROM seq),
           |packed AS (SELECT seq_id, doc_id, pass, n_tokens,
           |  CAST((c - n_tokens) // 256 AS BIGINT) AS bin_id FROM cum),
           |sb AS (SELECT DISTINCT bin_id FROM packed),
           |shp AS (SELECT bin_id,
           |  CAST(strpos('0123456789abcdef',
           |    substr(md5(CAST(bin_id AS VARCHAR) || ':shard:42'), 1, 1)) - 1 AS BIGINT) AS shard,
           |  md5(CAST(bin_id AS VARCHAR) || ':shard:42') AS bk FROM sb),
           |ord AS (SELECT bin_id, shard,
           |  CAST(row_number() OVER (PARTITION BY shard ORDER BY bk, bin_id) AS BIGINT) AS pos
           |  FROM shp)
           |SELECT pk.doc_id, CAST(pk.pass AS BIGINT) AS pass,
           |  CAST(pk.seq_id AS BIGINT) AS seq_id, pk.n_tokens, pk.bin_id,
           |  o.shard, o.pos
           |FROM packed pk JOIN ord o USING (bin_id)""".stripMargin
      }),

    // Corpus vocabulary top-k by collection frequency (explode→aggregate;
    // ties broken by token for a total order).
    QueryDef("q89_vocabulary_topk",
      (s, d) => TextAnalysis.vocabulary(Tables.documents(s, d), "doc_id", "text", topK = 25),
      Some(s"""WITH t AS (
              |  SELECT doc_id, unnest($toks) AS token FROM documents),
              |g AS (SELECT token, COUNT(*) AS cf,
              |        COUNT(DISTINCT doc_id) AS df
              |      FROM t GROUP BY token),
              |n AS (SELECT COUNT(*) AS n_docs FROM documents)
              |SELECT token, cf, df,
              |  round(CAST(df AS DOUBLE) / n_docs, 6) AS doc_frac
              |FROM g, n
              |ORDER BY cf DESC, token ASC
              |LIMIT 25""".stripMargin)),

    // PII scrubbing. The fixture corpus is PII-free word salad, so both
    // engines first synthesize identical PII (emails / URLs / IPv4 /
    // phone shapes derived from doc_id) onto the text, then the redaction
    // chain runs for real: category counts on the progressively-redacted
    // text plus the scrubbed output, hash-compared end to end. The
    // patterns live once in Redaction.rules; the oracle chain below is
    // generated from them so the two engines cannot drift.
    QueryDef("q108_pii_redaction",
      (s, d) => graft.ops.Redaction.scrub(
        Tables.documents(s, d).select(col("doc_id"), piiSynth.alias("text")),
        "doc_id", "text"),
      Some(piiRedactionSql)),

    // Per-document top-3 TF·IDF terms: corpus statistics (df, n_docs)
    // joined back onto per-doc term frequencies. idf is the rational
    // n_docs/df — no ln, whose last-ulp drift across libm builds would
    // break the hash compare (ranking is order-isomorphic).
    QueryDef("q109_tfidf_topterms",
      (s, d) => TextAnalysis.tfIdfTopTerms(Tables.documents(s, d), "doc_id", "text", topK = 3),
      Some(s"""WITH t AS (SELECT doc_id, unnest($toks) AS token FROM documents),
              |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM t GROUP BY doc_id, token),
              |dfq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
              |n AS (SELECT COUNT(*) AS n_docs FROM documents),
              |s AS (SELECT tf.doc_id, tf.token, tf.tf, dfq.df,
              |        round(tf.tf * n.n_docs / dfq.df, 6) AS tfidf,
              |        row_number() OVER (PARTITION BY tf.doc_id
              |          ORDER BY round(tf.tf * n.n_docs / dfq.df, 6) DESC, tf.token ASC) AS rn
              |      FROM tf JOIN dfq USING (token), n)
              |SELECT doc_id, token, tf, df, tfidf FROM s WHERE rn <= 3""".stripMargin)),

    // HTML boilerplate extraction (the C4/CCNet/RefinedWeb first stage,
    // round-9 verdict #3): strip script/style/comments, delete chrome
    // blocks (nav/header/footer), block tags → line breaks, decode
    // entities, keep content-dense lines by the all-integer link-density
    // rule. Fixture: each document wrapped in a deterministic HTML shell
    // (nav + header + footer chrome, a script with < > && inside, an
    // entity-bearing h1, a low-word "Read more" anchor line) stated
    // identically in both engines — the extractor must recover the text.
    // The oracle SQL is GENERATED from the same rule table the Spark op
    // folds (Boilerplate.blockRules/entityRules), so agreement gates the
    // rules, not a prose copy of them.
    QueryDef("q217_html_boilerplate",
      (s, d) => graft.ops.Boilerplate.extractMainText(
        Tables.documents(s, d).select(col("doc_id"), htmlSynth.alias("html")),
        "doc_id", "html"),
      Some(graft.ops.Boilerplate.extractMainTextSql(
        s"(SELECT doc_id, $htmlSynthSql AS html FROM documents) AS base",
        "doc_id", "html"))),

    // jusText's OTHER half (q217 gates link density alone): real prose
    // carries function words at a floor rate, navigation/boilerplate text
    // doesn't — so the keep rule additionally requires n_stopwords·16 ≥
    // n_words (ratio ≥ 0.0625, the fixture corpus's median density —
    // discriminative, not vacuous). The fixture appends the case the rule
    // exists for: an anchor-FREE menu line ("products services …") that
    // link density alone keeps and stopword density correctly drops.
    // Stopword list = the langid en lexicon (one shared public list).
    QueryDef("q220_html_justext",
      (s, d) => graft.ops.Boilerplate.extractMainText(
        Tables.documents(s, d).select(col("doc_id"),
          concat(htmlSynth, lit("<div>Products Services Solutions " +
            "Pricing Documentation Blog</div>")).alias("html")),
        "doc_id", "html",
        stopwords = graft.ops.TextAnalysis.lexicons.toMap.apply("en"),
        stopDenom = 16),
      Some(graft.ops.Boilerplate.extractMainTextSql(
        s"""(SELECT doc_id, $htmlSynthSql || '<div>Products Services Solutions Pricing Documentation Blog</div>' AS html FROM documents) AS base""",
        "doc_id", "html",
        stopwords = graft.ops.TextAnalysis.lexicons.toMap.apply("en"),
        stopDenom = 16))),

    // The full Gopher quality-rule table (Rae et al. 2021) at its REAL
    // published bounds — min 50 words is discriminative here (fixture
    // median is 56). The fixture appends deterministic multi-line
    // suffixes ([[gopherSuffixes]], one shared table driving both
    // engines) so every rule fires both ways: doc_id%5==0 gets 10
    // bullet-initial lines (bullet frac 10/11 > 0.9 → dropped),
    // %5==1 one trailing-ellipsis line of four (1/4 ≤ 0.3 → kept) plus a
    // mid-line '…' (counts as a symbol hit, not an ellipsis line) AND the
    // corpus's only 2nd stopword ('and' — the word-salad vocab carries
    // only 'the', so every OTHER doc fails r_stopwords and the
    // conjunctive keep fires true only on long-enough %5==1 docs), %5==2 a
    // hash-tag line gating the symbol ratio on word count. The oracle is
    // generated from the same bounds/stoplist constants as the op
    // (TextAnalysis.gopherRulesSql).
    QueryDef("q223_gopher_rules",
      (s, d) => TextAnalysis.gopherRules(
        Tables.documents(s, d)
          .withColumn("gtext", concat(col("text"), gopherSuffixCol)), "gtext")
        .select("doc_id", "n_words", "n_lines", "n_alpha_words",
          "n_symbol_hits", "n_bullet_lines", "n_ellipsis_lines",
          "n_stop_hits", "mean_word_len", "r_word_count", "r_word_len",
          "r_symbol_ratio", "r_bullet", "r_ellipsis", "r_alpha",
          "r_stopwords", "keep_gopher"),
      Some(TextAnalysis.gopherRulesSql(
        s"(SELECT doc_id, text || $gopherSuffixSql AS gtext FROM documents)",
        "gtext"))),

    // DSIR importance signals (Xie et al. 2023): target slice = English
    // docs, raw = the whole corpus; unigram+bigram grams hashed into 64
    // buckets via portable md5, add-one-smoothed bucket models, per-doc
    // exact-decimal mean importance ratio + target-leaning gram count.
    // The oracle restates both passes (model fit and scoring), so it
    // gates the bucketing, the smoothing arithmetic, and the mean chain.
    QueryDef("q224_dsir_importance",
      (s, d) => TextAnalysis.dsirSignals(
        Tables.documents(s, d), "doc_id", "text",
        targetPred = col("lang") === "en", buckets = 64),
      Some(s"""WITH t AS (SELECT doc_id, (lang = 'en') AS is_t, $toks AS tk
              |          FROM documents),
              |g AS (SELECT doc_id, is_t, u.g
              |      FROM t, unnest(list_cat(tk,
              |        CASE WHEN len(tk) >= 2
              |          THEN list_transform(range(len(tk) - 1),
              |                 i -> tk[i+1] || ' ' || tk[i+2])
              |          ELSE CAST([] AS VARCHAR[]) END)) AS u(g)),
              |b AS (SELECT doc_id, is_t,
              |        ('0x' || substr(md5(g), 1, 4))::BIGINT % 64 AS bk
              |      FROM g),
              |bc AS (SELECT bk, CAST(COUNT(*) AS BIGINT) AS cr,
              |         CAST(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS ct
              |       FROM b GROUP BY bk),
              |tot AS (SELECT SUM(cr) AS tr, SUM(ct) AS tt FROM bc),
              |r AS (SELECT bk,
              |        round(CAST((ct + 1) * (tr + 64) AS DOUBLE) /
              |              ((cr + 1) * (tt + 64)), 6) AS ratio
              |      FROM bc CROSS JOIN tot),
              |sc AS (SELECT doc_id, is_t, ratio FROM b JOIN r USING (bk))
              |SELECT doc_id, is_t AS is_target,
              |  CAST(COUNT(*) AS BIGINT) AS n_grams,
              |  round(${exactAvgSql("ratio")}, 6) AS mean_ratio,
              |  CAST(SUM(CASE WHEN ratio > 1.0 THEN 1 ELSE 0 END) AS BIGINT)
              |    AS n_target_leaning
              |FROM sc GROUP BY doc_id, is_t""".stripMargin)),

    // URL canonicalization — fragment/tracking-param/default-port/www/
    // trailing-slash/param-order normalization, the per-row pass that
    // precedes URL-keyed dedup in CommonCrawl-style pipelines. Fixture:
    // six deterministic variants per doc ([[urlVariants]], one shared
    // table rendered into both engines); variants 0-2 and 3-4 of the same
    // group collapse to identical canonicals, variant 5 is a non-URL →
    // NULL. Oracle generated from the same regex chain + tracking list
    // (Boilerplate.canonicalUrlSql).
    QueryDef("q225_url_canonicalize",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), urlSynthCol.alias("url"))
        .withColumn("canonical_url",
          graft.ops.Boilerplate.canonicalUrl(col("url"))),
      Some(s"""WITH u AS (SELECT doc_id, $urlSynthSql AS url FROM documents)
              |SELECT doc_id, url,
              |  ${graft.ops.Boilerplate.canonicalUrlSql("url")} AS canonical_url
              |FROM u""".stripMargin)),

    // URL-keyed keep-first dedup over the same fixture: one hash shuffle
    // on the canonical key, lowest doc_id per canonical survives,
    // non-URLs (NULL canonical) are never grouped.
    QueryDef("q226_url_dedup",
      (s, d) => graft.ops.Boilerplate.urlDedup(
        Tables.documents(s, d).select(col("doc_id"), urlSynthCol.alias("url")),
        "doc_id", "url")
        .select("doc_id", "canonical_url", "kept"),
      Some(s"""WITH u AS (SELECT doc_id, $urlSynthSql AS url FROM documents),
              |c AS (SELECT doc_id,
              |        ${graft.ops.Boilerplate.canonicalUrlSql("url")} AS canonical_url
              |      FROM u)
              |SELECT doc_id, canonical_url,
              |  (canonical_url IS NULL OR
              |   doc_id = MIN(doc_id) OVER (PARTITION BY canonical_url)) AS kept
              |FROM c""".stripMargin)),

    // Mojibake repair + character hygiene (the ftfy-lite pass): fixture
    // appends cp1252-mangled punctuation (doc_id%3==0: â€œ â€<9d> â€” â€¦
    // â€™), mangled accents + a NBSP artifact + a control char + a double
    // space (%3==1), or nothing (%3==2 → changed=false). Suffixes are
    // shared Scala constants rendered into both engines (control chars
    // via chr() splices in SQL); the oracle applies the generated mirror
    // of the SAME rule table.
    QueryDef("q227_fix_mojibake",
      (s, d) => TextAnalysis.fixMojibake(
        Tables.documents(s, d)
          .select(col("doc_id"),
            concat(col("text"), mojibakeSuffixCol).alias("t")), "t")
        .select("doc_id", "text_fixed", "changed"),
      Some(s"""WITH b AS (SELECT doc_id, text || $mojibakeSuffixSql AS t
              |          FROM documents),
              |f AS (SELECT doc_id, t,
              |        ${TextAnalysis.fixMojibakeSql("t")} AS text_fixed
              |      FROM b)
              |SELECT doc_id, text_fixed, (text_fixed <> t) AS changed
              |FROM f""".stripMargin)),

    webCurationDef,

    // Per-language tokenizer fertility — the multilingual-corpus budget
    // metric (subwords per word decides how many TOKENS a language's
    // text costs): q34's BPE-ish subword rule aggregated per lang with
    // exact integer sums, one double division per group at the end.
    QueryDef("q236_token_fertility",
      (s, d) => {
        val tk = graft.functions.TextFunctions.tokens(col("text"))
        Tables.documents(s, d)
          .withColumn("__tk", tk)
          .withColumn("__nw", size(col("__tk")).cast("long"))
          .withColumn("__nsw", when(size(col("__tk")) === 0, 0L)
            .otherwise(aggregate(col("__tk"), lit(0L),
              (a, t) => a + floor((length(t) + 3) / 4).cast("long"))))
          .withColumn("__nc", aggregate(col("__tk"), lit(0L),
            (a, t) => a + length(t).cast("long")))
          .groupBy(col("lang"))
          .agg(count(lit(1)).alias("n_docs"),
            sum(col("__nw")).alias("total_words"),
            sum(col("__nsw")).alias("total_subwords"),
            round(sum(col("__nsw")).cast("double") /
              sum(col("__nw")), 6).alias("fertility"),
            round(sum(col("__nc")).cast("double") /
              sum(col("__nw")), 6).alias("chars_per_word"))
      },
      Some(s"""WITH t AS (SELECT lang, $toks AS tk FROM documents),
              |p AS (SELECT lang,
              |  CAST(len(tk) AS BIGINT) AS nw,
              |  CASE WHEN len(tk) = 0 THEN 0
              |    ELSE CAST(list_reduce(list_transform(tk,
              |           x -> CAST(floor((len(x) + 3) / 4) AS BIGINT)),
              |         (a, b) -> a + b) AS BIGINT) END AS nsw,
              |  CAST(list_reduce(list_transform(tk,
              |         x -> CAST(len(x) AS BIGINT)), (a, b) -> a + b)
              |    AS BIGINT) AS nc
              |  FROM t)
              |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
              |  CAST(SUM(nw) AS BIGINT) AS total_words,
              |  CAST(SUM(nsw) AS BIGINT) AS total_subwords,
              |  round(CAST(SUM(nsw) AS DOUBLE) / SUM(nw), 6) AS fertility,
              |  round(CAST(SUM(nc) AS DOUBLE) / SUM(nw), 6) AS chars_per_word
              |FROM p GROUP BY lang""".stripMargin)),

    // The C4 cleaning rule table (Raffel et al. 2020) — completes the
    // canonical rule-family trio (C4 here, Gopher q223, jusText q220).
    // The word-salad base line never ends in terminal punctuation, so it
    // always drops at the LINE stage; suffixes ([[c4Suffixes]], one
    // shared table) exercise each rule both ways: %5==0 adds six proper
    // sentences (page kept), %5==1 plants "lorem ipsum" (page dropped
    // despite clean lines), %5==2 a curly brace, %5==3 a javascript
    // line (line dropped, page starved below 5 sentences), %5==4
    // nothing (zero kept lines).
    QueryDef("q233_c4_rules",
      (s, d) => TextAnalysis.c4Rules(
        Tables.documents(s, d)
          .withColumn("ctext", concat(col("text"), c4SuffixCol)), "ctext")
        .select("doc_id", "clean_text", "n_lines_kept", "n_sentences",
          "has_lorem", "has_brace", "keep_c4"),
      Some(TextAnalysis.c4RulesSql(
        s"(SELECT doc_id, text || $c4SuffixSql AS ctext FROM documents)",
        "ctext"))),

    // The Gopher rule table as ONE Spark SQL statement (the q151 pattern:
    // the DSL and SQL surfaces of an operator gated against the SAME
    // oracle, so the dialects can never drift): HOF lambdas (aggregate /
    // filter / rlike), array_intersect, the identical integer rules, and
    // the shared suffix CASE — gopherSuffixSql renders with chr(10)
    // splices, which parse identically in Spark SQL and DuckDB.
    QueryDef("q232_gopher_sql_surface",
      (s, d) => {
        Tables.registerAll(s, d)
        val stops = TextAnalysis.gopherStopwords.map(w => s"'$w'").mkString(", ")
        s.sql(s"""
          WITH g0 AS (SELECT doc_id, text || $gopherSuffixSql AS t FROM documents),
          g1 AS (SELECT doc_id, t,
            split(trim(lower(t)), '\\\\s+') AS tk,
            split(t, '\\\\n') AS ln FROM g0),
          g2 AS (SELECT doc_id,
            CAST(size(tk) AS BIGINT) AS n_words,
            CAST(size(ln) AS BIGINT) AS n_lines,
            aggregate(tk, CAST(0 AS BIGINT), (a, x) -> a + length(x)) AS swl,
            CAST(size(filter(tk, x -> x rlike '[a-z]')) AS BIGINT) AS n_alpha_words,
            CAST((length(t) - length(regexp_replace(t, '#', '')))
               + CAST((length(t) - length(regexp_replace(t, '\\\\.\\\\.\\\\.', ''))) / 3 AS BIGINT)
               + (length(t) - length(regexp_replace(t, '…', ''))) AS BIGINT)
              AS n_symbol_hits,
            CAST(size(filter(ln, x -> x rlike '^\\\\s*[-*•]')) AS BIGINT)
              AS n_bullet_lines,
            CAST(size(filter(ln, x -> x rlike '(\\\\.\\\\.\\\\.|…)\\\\s*$$')) AS BIGINT)
              AS n_ellipsis_lines,
            CAST(size(array_intersect(tk, array($stops))) AS BIGINT) AS n_stop_hits
          FROM g1)
          SELECT doc_id, n_words, n_lines, n_alpha_words, n_symbol_hits,
            n_bullet_lines, n_ellipsis_lines, n_stop_hits,
            CASE WHEN n_words > 0
              THEN round(CAST(swl AS DOUBLE) / n_words, 6) END AS mean_word_len,
            (n_words >= 50 AND n_words <= 100000) AS r_word_count,
            (n_words > 0 AND swl >= 3 * n_words AND swl <= 10 * n_words)
              AS r_word_len,
            (n_symbol_hits * 10 <= n_words) AS r_symbol_ratio,
            (n_bullet_lines * 10 <= n_lines * 9) AS r_bullet,
            (n_ellipsis_lines * 10 <= n_lines * 3) AS r_ellipsis,
            (n_alpha_words * 5 >= n_words * 4) AS r_alpha,
            (n_stop_hits >= 2) AS r_stopwords,
            (n_words >= 50 AND n_words <= 100000
              AND n_words > 0 AND swl >= 3 * n_words AND swl <= 10 * n_words
              AND n_symbol_hits * 10 <= n_words
              AND n_bullet_lines * 10 <= n_lines * 9
              AND n_ellipsis_lines * 10 <= n_lines * 3
              AND n_alpha_words * 5 >= n_words * 4
              AND n_stop_hits >= 2) AS keep_gopher
          FROM g2""")
      },
      Some(TextAnalysis.gopherRulesSql(
        s"(SELECT doc_id, text || $gopherSuffixSql AS gtext FROM documents)",
        "gtext"))),

    // REAL BPE tokenizer training (round-11 verdict #1): iterative
    // most-frequent-adjacent-pair merges with a FIXED merge count over
    // the corpus — each round ONE groupBy over pair counts on the
    // distinct-word vocabulary, ties broken (count DESC, lhs, rhs)
    // identically in both engines' binary collations. The oracle is the
    // SAME algorithm unrolled as N CTE stages (list_reduce with a list
    // accumulator = the same one-pass greedy merge as the Spark fold).
    QueryDef("q237_bpe_fit",
      (s, d) => graft.ops.Bpe.fitFrame(
        s, graft.ops.Bpe.fit(Tables.documents(s, d), "text", BpeMerges)),
      Some(bpeFitSql + "\n" + bpeMergeTableSql)),

    // Apply the fitted merge table as a stateless per-row fold and
    // recompute per-language fertility (the token-budget denominator of
    // q111/q117/q92) on REAL subwords, replacing q236's ceil(len/4)
    // heuristic. Dictionary-encoded: each DISTINCT word pays the
    // M-merge fold once, then broadcasts back onto occurrences — the
    // 100 TB shape.
    QueryDef("q238_bpe_fertility",
      (s, d) => graft.ops.Bpe.fertilityByLang(
        Tables.documents(s, d), "lang", "text",
        graft.ops.Bpe.fit(Tables.documents(s, d), "text", BpeMerges))
        .orderBy("lang"),
      Some(s"""$bpeFitSql,
              |tok AS (SELECT lang, unnest($toks) AS word FROM documents),
              |dict AS (SELECT word, CAST(len(syms) AS BIGINT) AS n_subwords
              |         FROM vocab_$BpeMerges)
              |SELECT lang, CAST(count(*) AS BIGINT) AS total_words,
              |  CAST(sum(n_subwords) AS BIGINT) AS total_subwords,
              |  round(CAST(sum(n_subwords) AS DOUBLE) / count(*), 6)
              |    AS fertility
              |FROM tok JOIN dict USING (word)
              |GROUP BY lang ORDER BY lang""".stripMargin)),

    // Hashing-trick sparse featurization (Weinberger et al. 2009 —
    // round-11 verdict stretch #8, the classical-ML counterpart of the
    // embedding tier): per-doc hashed term counts with a FIXED feature
    // space (64 buckets) regardless of vocabulary size — no dictionary
    // fit, no OOV path, one count shuffle; bucket = first 16 md5 bits
    // mod B (the portable q224 discipline, bit-identical cross-engine).
    QueryDef("q241_hashed_features",
      (s, d) => graft.ops.Features.hashedFeatures(
        Tables.documents(s, d), "doc_id", "text", buckets = 64),
      Some(s"""WITH t AS (SELECT doc_id, unnest($toks) AS tk FROM documents)
              |SELECT doc_id,
              |  ('0x' || substr(md5(tk), 1, 4))::BIGINT % 64 AS bucket,
              |  CAST(count(*) AS BIGINT) AS cnt
              |FROM t GROUP BY doc_id, bucket""".stripMargin)),

    // Sparse linear scoring against a broadcast integer weight vector (a
    // trained linear model applied at corpus scale): dot and norms in
    // exact integer sums, cosine as the single final double divide+sqrt
    // (sqrt of exact integers is IEEE-identical cross-engine, the q129
    // rms rule). The weight table is model-sized and broadcast; the
    // corpus never shuffles beyond the feature aggregation.
    QueryDef("q242_hashed_score",
      (s, d) => graft.ops.Features.hashedScore(
        Tables.documents(s, d), "doc_id", "text", HashWeights, buckets = 64),
      Some(s"""WITH t AS (SELECT doc_id, unnest($toks) AS tk FROM documents),
              |f AS (SELECT doc_id,
              |        ('0x' || substr(md5(tk), 1, 4))::BIGINT % 64 AS bucket,
              |        CAST(count(*) AS BIGINT) AS cnt
              |      FROM t GROUP BY doc_id, bucket),
              |j AS (SELECT doc_id, cnt, (bucket * 37) % 21 - 10 AS w FROM f)
              |SELECT doc_id,
              |  CAST(sum(cnt) AS BIGINT) AS n_tokens,
              |  CAST(sum(cnt * w) AS BIGINT) AS dot,
              |  CAST(sum(cnt * cnt) AS BIGINT) AS norm_sq,
              |  CASE WHEN sum(cnt * cnt) > 0 THEN
              |    round(CAST(sum(cnt * w) AS DOUBLE) /
              |      (sqrt(CAST(sum(cnt * cnt) AS DOUBLE)) *
              |       sqrt(CAST($HashWeightNormSq AS DOUBLE))), 6) END AS cosine
              |FROM j GROUP BY doc_id""".stripMargin)),

    // Mergeable frequent-items (heavy hitters) sketch columns — the
    // sketch counterpart of q89's exact vocabulary top-k: per-language
    // Misra-Gries-family sketches over the token stream, each reporting
    // its heavy hitters under NO_FALSE_NEGATIVES with DETERMINISTIC
    // [lower, upper] count brackets (no randomness anywhere in this
    // sketch family). One corpus scan builds the sketches; per-language
    // state is bounded by maxMapSize regardless of vocabulary size, and
    // the serialized columns re-merge across shards/days at zero corpus
    // cost. Report counts are sketch-internal → rows-only; the heavy-
    // hitter array is EXPLODED to one scalar row per (lang, rank, item,
    // estimate, lower, upper) so the driver's checker can sort it (the
    // q247 pandas-sortability lesson — raw ARRAY columns crash it).
    // SketchSpec pins the bracket property, the no-false-negatives
    // guarantee, and merge conservation vs q89's exact counts.
    QueryDef("q245_freq_mergeable",
      (s, d) => {
        val toksDf = Tables.documents(s, d).select(col("lang"),
          explode(graft.functions.TextFunctions.tokens(col("text")))
            .alias("token"))
        graft.ops.Profiling.freqSketch(toksDf, Seq("lang"), "token",
            maxMapSize = 256)
          .withColumn("top_items",
            graft.functions.SketchAggs.freqTopItems(col("sketch")))
          .select(col("lang"), col("n_rows").alias("n_tokens"),
            size(col("top_items")).alias("n_reported"),
            posexplode(col("top_items")).as(Seq("rank0", "hit")))
          .select(col("lang"), col("n_tokens"), col("n_reported"),
            (col("rank0") + 1).alias("rank"),
            col("hit.item").alias("item"),
            col("hit.estimate").alias("estimate"),
            col("hit.lower").alias("lower_bound"),
            col("hit.upper").alias("upper_bound"))
      },
      None),

    // Text → dense embedding, DERIVED (not pre-built): L2-normalized
    // hashed term frequencies (Features.hashedEmbedding) — one corpus
    // scan, one conditional-sum aggregate (the shuffle carries 64 longs
    // per doc, never the token stream), components quantized with the
    // 6-dp floor discipline. Flattened to f0..f63 scalars for the
    // oracle (integer counts + one sqrt divide → hash-exact).
    QueryDef("q256_hashed_embedding",
      (s, d) => {
        val e = graft.ops.Features.hashedEmbedding(
          Tables.documents(s, d), "doc_id", "text", dim = 64)
        e.select(Seq(col("doc_id"), col("n_tokens"), col("norm_sq")) ++
          (0 until 64).map(b => element_at(col("emb"), b + 1).alias(s"f$b")): _*)
      },
      Some {
        val fCols = (0 until 64).map(b =>
          s"""  floor(CAST(coalesce(sum(CASE WHEN bucket = $b THEN cnt END), 0)
             |      AS DOUBLE) / sqrt(CAST(sum(cnt * cnt) AS DOUBLE))
             |    * 1e6 + 0.5) / 1e6 AS f$b""".stripMargin).mkString(",\n")
        s"""WITH t AS (SELECT doc_id, unnest($toks) AS tk FROM documents),
           |f AS (SELECT doc_id,
           |        ('0x' || substr(md5(tk), 1, 4))::BIGINT % 64 AS bucket,
           |        CAST(count(*) AS BIGINT) AS cnt
           |      FROM t GROUP BY doc_id, bucket)
           |SELECT doc_id,
           |  CAST(sum(cnt) AS BIGINT) AS n_tokens,
           |  CAST(sum(cnt * cnt) AS BIGINT) AS norm_sq,
           |$fCols
           |FROM f GROUP BY doc_id""".stripMargin
      }),

    // The composition the featurizer exists for: RAW TEXT → hashed
    // embedding → spherical k-means EM step (the q221 assignment rule,
    // seeds = docs 0..7) with NO pre-built vector table anywhere in the
    // chain. Hash-exact end-to-end because every stage is pinned: exact
    // integer counts, 6-dp-floor components, raw-double cosine argmax
    // with the lowest-cluster tie rule, decimal-exact centroid means.
    QueryDef("q257_text_kmeans",
      (s, d) => {
        // materialize the derived embedding ONCE (at 100 TB it IS a gold
        // table): kmeansStep reads its input twice (seed filter + corpus
        // scoring), and without the checkpoint each read re-runs the
        // tokenize→explode→64-sum aggregate over the corpus (measured 2×
        // the embed cost at sf1). Checkpoint released after the k·dim
        // result materializes (the q234 discipline).
        val emb = graft.ops.Features.hashedEmbedding(
          Tables.documents(s, d), "doc_id", "text", dim = 64)
          .eagerCut()
        val res = graft.ops.Similarity.kmeansStep(
          emb, "doc_id", "emb", seedIds = (0L until 8L).toSeq)
          .eagerCut()
        emb.unpersist()
        res
      },
      Some {
        val cosSql = graft.functions.VectorFunctions.cosineSql("vv", "cv")
        s"""WITH t AS (SELECT doc_id, unnest($toks) AS tk FROM documents),
           |f AS MATERIALIZED (SELECT doc_id,
           |        ('0x' || substr(md5(tk), 1, 4))::BIGINT % 64 AS bucket,
           |        CAST(count(*) AS BIGINT) AS cnt
           |      FROM t GROUP BY doc_id, bucket),
           |norms AS (SELECT doc_id, sum(cnt * cnt) AS norm_sq
           |          FROM f GROUP BY doc_id),
           |comp AS (SELECT f.doc_id, f.bucket,
           |           floor(CAST(f.cnt AS DOUBLE)
           |               / sqrt(CAST(n2.norm_sq AS DOUBLE))
           |             * 1e6 + 0.5) / 1e6 AS comp
           |         FROM f JOIN norms n2 USING (doc_id)),
           |grid AS (SELECT d.doc_id, r.i AS bucket
           |         FROM (SELECT DISTINCT doc_id FROM f) d
           |         CROSS JOIN range(64) r(i)),
           |v AS MATERIALIZED (
           |  SELECT g.doc_id,
           |    list(coalesce(c2.comp, CAST(0 AS DOUBLE)) ORDER BY g.bucket)
           |      AS vv
           |  FROM grid g LEFT JOIN comp c2
           |    ON g.doc_id = c2.doc_id AND g.bucket = c2.bucket
           |  GROUP BY g.doc_id),
           |c AS (SELECT doc_id AS cluster, vv AS cv FROM v WHERE doc_id < 8),
           |s AS (SELECT v.doc_id, c.cluster, $cosSql AS cos_raw
           |      FROM v CROSS JOIN c),
           |a AS (SELECT doc_id, cluster FROM s
           |      QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id
           |        ORDER BY cos_raw DESC, cluster ASC) = 1),
           |e AS (SELECT a.cluster, u.i AS dim,
           |        CAST(vv[CAST(u.i + 1 AS INT)] AS DOUBLE) AS x
           |      FROM a JOIN v USING (doc_id),
           |           unnest(range(len(vv))) AS u(i))
           |SELECT cluster, CAST(dim AS BIGINT) AS dim,
           |  CAST(COUNT(*) AS BIGINT) AS n_members,
           |  round(${exactAvgSql("x")}, 6) AS centroid_val
           |FROM e GROUP BY cluster, dim""".stripMargin
      }),

    // Stratified quota split (80/10/10 per LANGUAGE): exact per-stratum
    // proportions via all-integer quota comparisons over the portable md5
    // rank — the dataset carve a training pipeline uses when language
    // balance must survive the split. Hash-exact because nothing in the
    // assignment is floating point; report is per-(lang, split) counts.
    QueryDef("q262_stratified_split",
      (s, d) => graft.ops.Sampling.stratifiedSplit(
          Tables.documents(s, d), "lang", "doc_id",
          Seq("train" -> 8L, "val" -> 1L, "test" -> 1L))
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).alias("n_docs")),
      Some("""WITH r AS (SELECT lang,
             |    ROW_NUMBER() OVER (PARTITION BY lang
             |      ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rk,
             |    COUNT(*) OVER (PARTITION BY lang) AS n
             |  FROM documents)
             |SELECT lang,
             |  CASE WHEN rk * 10 <= n * 8 THEN 'train'
             |       WHEN rk * 10 <= n * 9 THEN 'val'
             |       ELSE 'test' END AS split,
             |  CAST(count(*) AS BIGINT) AS n_docs
             |FROM r GROUP BY lang, split""".stripMargin))
  )

  /** q242's deterministic integer weight vector: w_b = (b·37) % 21 − 10,
    * restated identically as DuckDB integer arithmetic in the oracle.
    * Lazy: referenced from `all`'s eager oracle strings, which would
    * otherwise hit the val-initialization-order trap (the BpeMerges
    * lesson).
    */
  private lazy val HashWeights: Seq[Long] =
    (0 until 64).map(b => ((b * 37) % 21 - 10).toLong)
  private lazy val HashWeightNormSq: Long =
    HashWeights.map(w => w * w).sum

  /** One unrolled BPE training stage k (DuckDB): count adjacent pairs of
    * the stage-(k-1) vocabulary, pick the argmax under the shared
    * tie-break, rewrite the vocabulary with the same one-pass greedy
    * merge as [[graft.ops.Bpe.applyMerge]] (list_reduce over single-
    * element lists so the accumulator is itself a list).
    */
  private def bpeStageSql(k: Int): String =
    s"""pairs_$k AS (
       |  SELECT syms[i] AS l, syms[i+1] AS r, cnt
       |  FROM vocab_${k - 1}, UNNEST(range(1, len(syms))) AS u(i)),
       |merge_$k AS MATERIALIZED (
       |  SELECT l, r, l || r AS m, CAST(c AS BIGINT) AS c
       |  FROM (SELECT l, r, sum(cnt) AS c FROM pairs_$k GROUP BY l, r)
       |  ORDER BY c DESC, l, r LIMIT 1),
       |vocab_$k AS MATERIALIZED (
       |  SELECT word, cnt,
       |    list_reduce(list_transform(syms, s -> [s]),
       |      (acc, x) -> CASE WHEN acc[-1] = l AND x[1] = r
       |                  THEN list_append(acc[:-2], m)
       |                  ELSE list_concat(acc, x) END) AS syms
       |  FROM vocab_${k - 1}, merge_$k)""".stripMargin

  /** The full training chain: word counts (vocab_0, per-char symbols +
    * the end-of-word marker) then [[BpeMerges]] unrolled stages.
    */
  private lazy val bpeFitSql: String =
    s"""WITH vocab_0 AS MATERIALIZED (
       |  SELECT word, CAST(count(*) AS BIGINT) AS cnt,
       |    list_append(list_transform(range(1, length(word)+1),
       |      i -> word[i]), '</w>') AS syms
       |  FROM (SELECT unnest($toks) AS word FROM documents)
       |  GROUP BY word),
       |""".stripMargin +
      (1 to BpeMerges).map(bpeStageSql).mkString(",\n")

  /** Final merge-table projection for q237 (one UNION ALL branch per
    * stage, rank pinned as BIGINT).
    */
  private lazy val bpeMergeTableSql: String =
    (1 to BpeMerges).map { k =>
      s"SELECT CAST($k AS BIGINT) AS merge_rank, l AS lhs, r AS rhs, " +
        s"m AS merged, c AS pair_count FROM merge_$k"
    }.mkString("", "\nUNION ALL ", "\nORDER BY merge_rank")

  /** The round-10 web-curation tier composed END-TO-END (the q138/q218
    * pattern): URL-keyed keep-first dedup → mojibake repair → the full
    * Gopher rule gate, one oracle-gated chain over the shared URL and
    * mojibake fixtures — pins the three ops' interfaces the way a C4
    * pipeline actually strings them. Only the URL window shuffles; the
    * repair and rule stages stay per-row on the survivors.
    */
  private def webCurationDef: QueryDef =
    QueryDef("q228_web_curation_cycle",
      (s, d) => {
        val base = Tables.documents(s, d).select(col("doc_id"),
          concat(col("text"), mojibakeSuffixCol).alias("t"),
          urlSynthCol.alias("url"))
        // urlDedup passes the input columns through, so the survivors
        // flow straight into the per-row stages — no corpus self-join
        val kept = graft.ops.Boilerplate.urlDedup(base, "doc_id", "url")
          .filter(col("kept"))
        val fixed = TextAnalysis.fixMojibake(kept, "t")
        TextAnalysis.gopherRules(fixed, "text_fixed")
          .select("doc_id", "canonical_url", "changed", "n_words",
            "keep_gopher")
      },
      Some(s"""WITH base AS (SELECT doc_id,
              |          text || $mojibakeSuffixSql AS t,
              |          $urlSynthSql AS url FROM documents),
              |c AS (SELECT doc_id, t,
              |        ${graft.ops.Boilerplate.canonicalUrlSql("url")}
              |          AS canonical_url
              |      FROM base),
              |k AS (SELECT doc_id, t, canonical_url FROM (
              |        SELECT *, MIN(doc_id) OVER (PARTITION BY canonical_url)
              |          AS m FROM c)
              |      WHERE canonical_url IS NULL OR doc_id = m),
              |f AS (SELECT doc_id, canonical_url, t,
              |        ${TextAnalysis.fixMojibakeSql("t")} AS text_fixed
              |      FROM k)
              |SELECT f.doc_id, f.canonical_url,
              |  (f.text_fixed <> f.t) AS changed, g.n_words, g.keep_gopher
              |FROM f JOIN (
              |  ${TextAnalysis.gopherRulesSql(
                   "(SELECT doc_id, text_fixed FROM f)", "text_fixed")}
              |) g ON f.doc_id = g.doc_id""".stripMargin))

  /** C4 fixture suffixes — one shared table rendered into both engines
    * ([[c4SuffixCol]] / [[c4SuffixSql]], chr(10) splices).
    */
  private lazy val c4Suffixes: Seq[(Int, Seq[String])] = Seq(
    0 -> Seq("The first sentence lands cleanly.",
      "A second one follows it!", "Does a third one ask?",
      "The fourth keeps going.", "A fifth sentence arrives.",
      "And the sixth one closes.\""),
    1 -> Seq("This page looks fine at first.",
      "But it hides lorem ipsum filler text."),
    2 -> Seq("A config block follows here.", "settings = { debug: true }"),
    3 -> Seq("This site uses javascript for tracking.",
      "One honest sentence survives here."),
    4 -> Seq())

  private def c4SuffixCol: org.apache.spark.sql.Column =
    c4Suffixes.foldRight(lit(""): org.apache.spark.sql.Column) {
      case ((m, ls), rest) =>
        when(col("doc_id") % 5 === m,
          lit(if (ls.isEmpty) "" else ls.mkString("\n", "\n", "")))
          .otherwise(rest)
    }

  private def c4SuffixSql: String =
    "CASE " + c4Suffixes.map { case (m, ls) =>
      s"WHEN doc_id % 5 = $m THEN " +
        (if (ls.isEmpty) "''"
         else ls.map(l => s"chr(10) || '${l.replace("'", "''")}'").mkString(" || "))
    }.mkString(" ") + " ELSE '' END"

  /** Mojibake fixture suffixes — shared constants rendered into both
    * engines ([[mojibakeSuffixCol]] / [[mojibakeSuffixSql]]). Suffix 0
    * carries the five punctuation keys (incl. the invisible-U+009D
    * right-double-quote form), suffix 1 the accent/NBSP keys plus a
    * 0x01 control char and a double space — TextAnalysisSpec pins the
    * exact bytes so an editor "fixing" them fails loudly.
    */
  private lazy val mojibakeSuffixes: Seq[(Int, String)] = Seq(
    0 -> (" â€œquotedâ€ â€”" +
      " wellâ€¦ itâ€™s fine"),
    1 -> (" cafÃ© niÃ±oÂ plusctl  done"),
    2 -> "")

  private def mojibakeSuffixCol: org.apache.spark.sql.Column =
    mojibakeSuffixes.foldRight(lit(""): org.apache.spark.sql.Column) {
      case ((m, s), rest) =>
        when(col("doc_id") % 3 === m, lit(s)).otherwise(rest)
    }

  /** Render a Scala string as a DuckDB literal, splicing control chars
    * through chr() (a raw control byte inside a SQL literal is parser
    * poison; everything printable rides as UTF-8).
    */
  private def sqlLit(s: String): String = {
    val sb = new StringBuilder("'")
    s.foreach { ch =>
      if (ch < ' ') sb.append("' || chr(" + ch.toInt + ") || '")
      else if (ch == '\'') sb.append("''")
      else sb.append(ch)
    }
    sb.append("'").toString
  }

  private def mojibakeSuffixSql: String =
    "CASE " + mojibakeSuffixes.map { case (m, s) =>
      s"WHEN doc_id % 3 = $m THEN ${sqlLit(s)}"
    }.mkString(" ") + " ELSE '' END"

  /** Deterministic URL fixture — ONE variant table rendered into both the
    * Spark column ([[urlSynthCol]]) and the DuckDB CASE ([[urlSynthSql]]).
    * Same `doc_id DIV 6` group across variants 0-2 (resp. 3-4) must
    * collapse to one canonical URL; hosts are RFC 2606 reserved
    * documentation domains.
    */
  private lazy val urlVariants: Seq[(Int, (String, String))] = Seq(
    0 -> (("https://www.Example.com:443/g", "/page?b=2&a=1")),
    1 -> (("https://example.com/g", "/page/?a=1&b=2&utm_source=news#frag")),
    2 -> (("HTTPS://www.example.COM/g", "/page?a=1&b=2")),
    3 -> (("http://example.org:80/g", "//sub")),
    4 -> (("http://example.org/g", "/sub/")),
    5 -> (("not a url ", "")))

  private def urlSynthCol: org.apache.spark.sql.Column =
    urlVariants.foldRight(lit(""): org.apache.spark.sql.Column) {
      case ((m, (pre, post)), rest) =>
        when(col("doc_id") % 6 === m,
          concat(lit(pre), expr("CAST(doc_id DIV 6 AS STRING)"), lit(post)))
          .otherwise(rest)
    }

  private def urlSynthSql: String =
    "CASE " + urlVariants.map { case (m, (pre, post)) =>
      s"WHEN doc_id % 6 = $m THEN '$pre' || CAST(doc_id // 6 AS VARCHAR) || '$post'"
    }.mkString(" ") + " ELSE '' END"

  /** Deterministic multi-line suffixes for the Gopher fixture — ONE table
    * rendered into both the Spark column ([[gopherSuffixCol]]) and the
    * DuckDB CASE expression ([[gopherSuffixSql]]).
    */
  private lazy val gopherSuffixes: Seq[(Int, Seq[String])] = Seq(
    0 -> (Seq("- item one", "- item two", "- item three", "- item four",
      "- item five", "- item six", "- item seven", "- item eight",
      "* item nine", "• item ten")),
    1 -> Seq("this line trails off...", "and a mid-line pause… continues",
      "but this one ends here"),
    2 -> Seq("### ## # tags 12345 67890"))

  private def gopherSuffixCol: org.apache.spark.sql.Column =
    gopherSuffixes.foldRight(lit(""): org.apache.spark.sql.Column) {
      case ((m, ls), rest) =>
        when(col("doc_id") % 5 === m, lit(ls.mkString("\n", "\n", "")))
          .otherwise(rest)
    }

  private def gopherSuffixSql: String =
    "CASE " + gopherSuffixes.map { case (m, ls) =>
      s"WHEN doc_id % 5 = $m THEN " +
        ls.map(l => s"chr(10) || '$l'").mkString(" || ")
    }.mkString(" ") + " ELSE '' END"

  /** Deterministic HTML shell around each document's text, stated
    * identically in Spark (here) and DuckDB ([[htmlSynthSql]]): head
    * machinery (title/style/script — the script body contains `<`, `>`
    * and `&&` to prove tag-soup robustness), nav/header/footer chrome
    * whose anchors must NOT leak into the main text, an entity-bearing
    * h1 (`&amp;`, `&lt;`/`&gt;` — pins strip-then-decode order), the
    * document text split across a p and a div with one inline anchor
    * (content with a link must survive the density rule), and a
    * low-word "Read more" line the rule must drop.
    */
  private def htmlSynth: org.apache.spark.sql.Column = {
    val id = col("doc_id").cast("string")
    concat(
      lit("<html><head><title>Doc "), id,
      lit("</title><style>p { margin: 0; }</style>" +
        "<script>var x = 1 < 2 && 3 > 2;</script></head><body>"),
      lit("<!-- layout v2 --><nav><a href=\"/\">Home</a> " +
        "<a href=\"/about\">About</a> <a href=\"/contact\">Contact</a></nav>"),
      lit("<header>Example Site <a href=\"/login\">Login</a></header>"),
      lit("<h1>Doc "), id, lit(" &amp; notes &lt;draft&gt;</h1>"),
      lit("<p>"), expr("substring(text, 1, 120)"), lit("</p>"),
      lit("<div>"), expr("substring(text, 121)"),
      lit(" plus one <a href=\"/ref\">inline reference</a> kept</div>"),
      lit("<p>Read <a href=\"/more\">more</a></p>"),
      lit("<footer>&copy; 2026 Example <a href=\"/terms\">Terms</a> " +
        "<a href=\"/privacy\">Privacy</a></footer></body></html>"))
  }

  /** DuckDB statement of [[htmlSynth]] — single line (interpolated into a
    * stripMargin template, the [[piiRedactionSql]] discipline).
    */
  private lazy val htmlSynthSql: String = Seq(
    "'<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)",
    "|| '</title><style>p { margin: 0; }</style>",
    "<script>var x = 1 < 2 && 3 > 2;</script></head><body>'",
    "|| '<!-- layout v2 --><nav><a href=\"/\">Home</a> ",
    "<a href=\"/about\">About</a> <a href=\"/contact\">Contact</a></nav>'",
    "|| '<header>Example Site <a href=\"/login\">Login</a></header>'",
    "|| '<h1>Doc ' || CAST(doc_id AS VARCHAR) || ' &amp; notes &lt;draft&gt;</h1>'",
    "|| '<p>' || substr(text, 1, 120) || '</p>'",
    "|| '<div>' || substr(text, 121)",
    "|| ' plus one <a href=\"/ref\">inline reference</a> kept</div>'",
    "|| '<p>Read <a href=\"/more\">more</a></p>'",
    "|| '<footer>&copy; 2026 Example <a href=\"/terms\">Terms</a> ",
    "<a href=\"/privacy\">Privacy</a></footer></body></html>'").mkString

  /** Deterministic synthetic PII appended to each document, stated
    * identically in Spark ([[piiSynth]]) and DuckDB (inside
    * [[piiRedactionSql]]): an email on 2 of 3 docs, a URL and an IPv4 on
    * every doc, a phone shape on even docs. All hosts use the RFC 2606
    * reserved documentation domains (example.com/example.org) and the
    * 10.0.0.0/8 private range — synthetic fixtures, nothing external.
    */
  private def piiSynth: org.apache.spark.sql.Column = {
    def s(c: org.apache.spark.sql.Column) = c.cast("string")
    concat(
      col("text"),
      when(col("doc_id") % 3 =!= 0,
        concat(lit(" user"), s(col("doc_id")), lit("@example.com"))).otherwise(lit("")),
      lit(" https://site"), s(col("doc_id") % 7),
      lit(".example.org/p?id="), s(col("doc_id")),
      lit(" ip 10.0."), s(col("doc_id") % 256), lit("."), s((col("doc_id") * 7) % 256),
      when(col("doc_id") % 2 === 0,
        concat(lit(" tel 555-"), lpad(s(col("doc_id") % 10000), 4, "0"))).otherwise(lit("")))
  }

  private lazy val piiRedactionSql: String = {
    // single line: this is interpolated into a template whose OWN
    // stripMargin would otherwise eat a pipe from a line-leading ||
    val synth = Seq(
      "text || CASE WHEN doc_id % 3 <> 0",
      "    THEN ' user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END",
      "  || ' https://site' || CAST(doc_id % 7 AS VARCHAR)",
      "  || '.example.org/p?id=' || CAST(doc_id AS VARCHAR)",
      "  || ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)",
      "  || CASE WHEN doc_id % 2 = 0",
      "    THEN ' tel 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END")
      .map(_.trim).mkString(" ")
    // one CTE per rule, counting on the text redacted by all PRIOR rules
    // — generated from Redaction.rules so Spark and oracle stay in sync
    val stages = graft.ops.Redaction.rules.zipWithIndex.map {
      case ((name, re, repl), i) =>
        val prev = if (i == 0) "s" else s"c$i"
        val carried = graft.ops.Redaction.rules.take(i).map { case (n, _, _) => s"n_$n," }.mkString(" ")
        s"""c${i + 1} AS (SELECT doc_id, $carried
           |  CAST(len(regexp_extract_all(t, '$re')) AS BIGINT) AS n_$name,
           |  regexp_replace(t, '$re', '$repl', 'g') AS t FROM $prev)""".stripMargin
    }
    val names = graft.ops.Redaction.rules.map { case (n, _, _) => s"n_$n" }.mkString(", ")
    s"""WITH s AS (SELECT doc_id, $synth AS t FROM documents),
       |${stages.mkString(",\n")}
       |SELECT doc_id, $names, t AS redacted FROM c${graft.ops.Redaction.rules.size}""".stripMargin
  }

  /** The full curation pipeline as ONE query (the LLM-corpus analog of
    * q60's medallion chain): quality gate → repetition gate → exact-dedup
    * keepers → benchmark decontamination → per-(lang, source) rollup.
    * Every stage is an operator with its own oracle-exact query
    * (q31/q88/q40/q68); this pins that they COMPOSE — same DuckDB CTE
    * chain, bit-exact rollup. Registered in [[all]] below as
    * q97_corpus_curation.
    */
  /** The curated-keeper frame the assembly chain (q138) consumes: quality
    * gate → repetition gate → exact-dedup keepers → benchmark
    * decontamination, with the signal columns still attached.
    */
  private[graft] def curatedDocs(s: org.apache.spark.sql.SparkSession, d: String) =
    curationStages(s, d)(2)._2

  /** The q97 chain cut at its stage seams, cheapest first — Bench
    * materializes each frame once per round so the committed record
    * (`q97_stage_*_sec`, cumulative: a stage includes its upstream chain)
    * attributes any composed-wall movement to a stage without
    * re-derivation (round-12 verdict #2; the q93 `q93_index_build_sec`
    * precedent). The LAST stage is exactly q97's registered frame.
    */
  private[graft] def curationStages(s: org.apache.spark.sql.SparkSession,
                                    d: String): Seq[(String, org.apache.spark.sql.DataFrame)] = {
    val docs = Tables.documents(s, d)
    val keepers = Dedup.exactDedup(docs, "doc_id", "text").select(col("keeper_id"))
    val evalSet = docs.filter(col("doc_id") % 31 === 0)
    // quality + repetition signals come from ONE fused corpus scan
    // (curationSignals) — composing the standalone operators would scan
    // twice and shuffle a join on doc_id; PlanSpec pins the scan count.
    // The gates go through pinnedFilter: ordinary filter pushdown would
    // substitute the whole signal derivation (tokens → grams → distinct)
    // into the predicate below the projection and evaluate it per
    // element — measured 10× slower at sf0.1 (3 s → 30 s). PlanSpec
    // pins the filter to consume computed attributes.
    val gated = graft.ops.Projections.pinnedFilter(
      TextAnalysis.curationSignals(docs, "text"),
      col("quality_score") >= 0.5 &&
        (col("dup_2gram_frac").isNull || col("dup_2gram_frac") <= 0.2))
    val deduped = gated.join(keepers, col("doc_id") === col("keeper_id"), "left_semi")
    val decontaminated = Dedup.decontaminateExact(deduped, evalSet, "doc_id", "text")
    val rollup = decontaminated
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).alias("n_docs"),
        sum(col("n_tokens")).alias("total_tokens"),
        round(graft.ops.Aggregations.exactAvg(col("quality_score")), 6)
          .alias("avg_quality"))
    Seq("gate" -> gated, "dedup" -> deduped, "decontam" -> decontaminated,
      "rollup" -> rollup)
  }

  private def corpusCuration(s: org.apache.spark.sql.SparkSession, d: String) =
    curationStages(s, d).last._2

  /** The q138 assembly chain cut at its stage seams (same discipline and
    * purpose as [[curationStages]]; `q138_stage_*_sec` in the bench
    * record, cumulative). The LAST stage is q138's registered frame.
    */
  private[graft] def assemblyStages(s: org.apache.spark.sql.SparkSession,
                                    d: String): Seq[(String, org.apache.spark.sql.DataFrame)] = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.LongType
    val weights = (0 until 20).map(i => s"src$i" -> (if (i < 5) 2.3 else 0.7)).toMap
    val curated = curatedDocs(s, d)
    val mixed = graft.ops.Mixing.mixCorpora(
        curated, "source", "doc_id", weights)
      .withColumn("seq_id", (col("doc_id") * 4 + col("pass")).cast(LongType))
    val packed = graft.ops.Packing.packConcatSplit(
      mixed, "seq_id", "text", budget = 256)
    val bins = packed.select(col("bin_id")).distinct()
      .withColumn("__k", md5(concat(col("bin_id").cast("string"), lit(":shard:42"))))
      .withColumn("shard",
        expr("locate(substring(__k, 1, 1), '0123456789abcdef') - 1").cast(LongType))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("shard")).orderBy(col("__k"), col("bin_id")))
        .cast(LongType))
      .select(col("bin_id"), col("shard"), col("pos"))
    val sharded = packed.join(broadcast(bins), Seq("bin_id"))
      .select(expr("seq_id div 4").alias("doc_id"),
        (col("seq_id") % 4).alias("pass"), col("seq_id"),
        col("n_tokens"), col("bin_id"), col("shard"), col("pos"))
    Seq("curate" -> curated, "mix" -> mixed, "pack" -> packed,
      "shard" -> sharded)
  }

  /** Shared WITH-body of the curation chain through the `filtered` CTE
    * (curated keeper ids + signals) — q97 aggregates it, q138 feeds it
    * into the mixing/packing/sharding chain. One string so the two
    * oracles can never drift.
    */
  private lazy val curationCtes: String =
    s"""WITH t AS (SELECT doc_id, text, lang, source, $toks AS tk FROM documents),
       |stats AS (SELECT doc_id, lang, source,
       |  CAST(len(tk) AS BIGINT) AS n_tokens,
       |  CAST(len(list_distinct(tk)) AS BIGINT) AS n_uniq,
       |  CAST(length(text) AS BIGINT) AS char_len,
       |  CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS BIGINT)
       |    AS punct,
       |  CASE WHEN len(tk) >= 2 THEN ${wordGramsSql("tk", 2)}
       |  ELSE CAST([] AS VARCHAR[]) END AS g2
       |  FROM t),
       |q AS (SELECT doc_id, lang, source, n_tokens,
       |  round(0.4 * least(CAST(n_tokens AS DOUBLE) / 50.0, 1.0)
       |    + 0.4 * (CASE WHEN n_tokens > 0
       |             THEN CAST(n_uniq AS DOUBLE) / n_tokens ELSE 0.0 END)
       |    + 0.2 * (1.0 - (CASE WHEN char_len > 0
       |             THEN least(CAST(punct AS DOUBLE) * 10.0 / char_len, 1.0)
       |             ELSE 0.0 END)), 6) AS quality_score,
       |  CASE WHEN len(g2) > 0 THEN
       |    round(1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2), 6)
       |  ELSE NULL END AS dup2
       |  FROM stats),
       |norm AS (SELECT doc_id, $normalizeTextSql AS nt FROM documents),
       |filtered AS (
       |  SELECT q.* FROM q
       |  WHERE quality_score >= 0.5 AND (dup2 IS NULL OR dup2 <= 0.2)
       |    AND doc_id IN (SELECT min(doc_id) FROM norm GROUP BY nt)
       |    AND doc_id IN (SELECT doc_id FROM norm
       |                   WHERE nt NOT IN (SELECT nt FROM norm WHERE doc_id % 31 = 0)))""".stripMargin

  private lazy val corpusCurationSql: String =
    s"""$curationCtes
       |SELECT lang, source, COUNT(*) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       |  round(${exactAvgSql("quality_score")}, 6) AS avg_quality
       |FROM filtered GROUP BY lang, source""".stripMargin

  /** Argmax-with-priority CASE chain, mirroring
    * [[TextAnalysis.languageId]]'s first-maximum semantics exactly.
    */
  private lazy val languageIdSql: String = {
    val langs = TextAnalysis.lexicons.map(_._1)
    val scoreCols = langs.map(l => s"${TextAnalysis.langScoreSql(l)} AS score_$l")
    val whenChain = langs.zipWithIndex.map { case (lang, i) =>
      val beats = langs.zipWithIndex.collect {
        case (other, j) if j != i =>
          if (j < i) s"score_$lang > score_$other" else s"score_$lang >= score_$other"
      }.mkString(" AND ")
      s"WHEN score_$lang > 0 AND $beats THEN '$lang'"
    }.mkString("\n    ")
    s"""WITH scored AS (
       |  SELECT doc_id, ${scoreCols.mkString(",\n    ")}
       |  FROM documents)
       |SELECT doc_id, ${langs.map(l => s"score_$l").mkString(", ")},
       |  CASE
       |    $whenChain
       |    ELSE 'und' END AS lang_pred
       |FROM scored""".stripMargin
  }
}
