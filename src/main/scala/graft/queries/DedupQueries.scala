package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.ops.Dedup
import graft.functions.TextFunctions.{normalizeTextSql, tokensSql, wordGramsSql}

/** Deduplication queries over `documents` / `embeddings`. The exact and
  * brute-force variants carry DuckDB oracles; the LSH variants (MinHash,
  * SimHash, hyperplane buckets) use engine-internal hashing and are
  * covered by ScalaTest (pair-correctness + recall vs the brute-force
  * path) plus the driver's rows-only check.
  */
object DedupQueries {

  /** q93's band layout: 48 MinHashes in 16 bands of 3. */
  private[graft] val Q93Bands = 16
  private[graft] val Q93RowsPerBand = 3

  /** q93's documents: every 25th doc is the new batch, the rest the
    * indexed corpus.
    */
  private def q93Docs(spark: SparkSession, d: String, batch: Boolean): DataFrame =
    Tables.documents(spark, d)
      .filter(if (batch) col("doc_id") % 25 === 0 else col("doc_id") % 25 =!= 0)

  /** MinHash signatures of q93's batch, or of its corpus: the corpus ones
    * are the index the probe reads.
    */
  private[graft] def q93Signatures(spark: SparkSession, d: String, batch: Boolean): DataFrame =
    Dedup.minHashSignatures(q93Docs(spark, d, batch), "doc_id", "text",
      shingleK = 1, numHashes = Q93Bands * Q93RowsPerBand)

  /** q93's corpus index, persisted state in production (the point of the
    * incremental shape): the corpus signatures as parquet, a [[Fixtures]]
    * entry built once per JVM and sf. Returns its path.
    */
  private[graft] def q93Index(spark: SparkSession, d: String): String = {
    val out = Fixtures.partPath(d, "q93_index")
    Fixtures.ensure(out) {
      q93Signatures(spark, d, batch = false).write.mode("overwrite").parquet(out)
    }
  }

  /** q93's probe: the new batch's near duplicates in the stored index. */
  private[graft] def q93Probe(spark: SparkSession, d: String): DataFrame =
    Dedup.minHashNearDupAgainst(Tables.parquet(spark, q93Index(spark, d)),
      q93Docs(spark, d, batch = true), "doc_id", "text",
      threshold = 0.9, shingleK = 1, bands = Q93Bands, rowsPerBand = Q93RowsPerBand,
      estMargin = 0.35)

  /** CTE `t` of the token-set Jaccard oracles: each document's distinct
    * tokens as `toks`, `where` narrowing the documents.
    */
  private def tokenSetsCte(where: String): String =
    s"""t AS (
       |  SELECT doc_id,
       |         list_distinct($tokensSql) AS toks
       |  FROM documents$where)""".stripMargin

  /** Jaccard of the token lists `a` and `b` as a double. */
  private def jaccardSql(a: String, b: String): String =
    s"""CAST(len(list_intersect($a, $b)) AS DOUBLE) /
       |        len(list_distinct(list_cat($a, $b)))""".stripMargin

  /** [[jaccardSql]] at the 6 dp the Spark side rounds to. */
  private def roundedJaccardSql(a: String, b: String): String =
    s"round(${jaccardSql(a, b)}, 6)"

  /** Pairs of `rel` rows joined `on` whose rounded Jaccard over list
    * column `c` reaches `threshold`, with that Jaccard.
    */
  private def jaccardPairsSql(rel: String, c: String, threshold: String,
                              ids: String = "a.doc_id AS id_a, b.doc_id AS id_b",
                              on: String = "a.doc_id < b.doc_id"): String =
    s"""SELECT $ids,
       |  ${roundedJaccardSql(s"a.$c", s"b.$c")} AS jaccard
       |FROM $rel a JOIN $rel b ON $on
       |WHERE ${roundedJaccardSql(s"a.$c", s"b.$c")} >= $threshold""".stripMargin

  /** Brute-force token-set Jaccard pairs among documents below `maxDoc`. */
  private def tokenJaccardOracle(maxDoc: Int, threshold: String): String =
    s"""WITH ${tokenSetsCte(s" WHERE doc_id < $maxDoc")}
       |${jaccardPairsSql("t", "toks", threshold)}""".stripMargin

  /** The exactness-grade pair set (docs < 500, Jaccard >= 0.9) that q49's
    * LSH and q118's prefix join both provably equal.
    */
  private lazy val exactGradePairsOracle: String = tokenJaccardOracle(500, "0.9")

  /** q69's and q135's chain through `cc`: the exactness-grade pair graph
    * and its transitive closure (each id with every component label it
    * reaches).
    */
  private lazy val nearDupClosureCtes: String =
    s"""WITH RECURSIVE ${tokenSetsCte(" WHERE doc_id < 500")},
       |pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM t a JOIN t b ON a.doc_id < b.doc_id
       |  WHERE ${roundedJaccardSql("a.toks", "b.toks")} >= 0.9),
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION
       |  SELECT id_b AS src, id_a AS dst FROM pairs),
       |cc AS (
       |  SELECT src AS id, src AS comp FROM edges
       |  UNION
       |  SELECT e.dst AS id, cc.comp FROM cc JOIN edges e ON cc.id = e.src)""".stripMargin

  /** `sh`/`h` of the substring-span oracles: the grams held by more than
    * one document (`having` adds to that rule) and their span postings.
    */
  private def sharedGramsSql(having: String): String =
    s"""sh AS (SELECT gram FROM g GROUP BY gram HAVING min(doc_id) <> max(doc_id)$having),
       |h AS (SELECT doc_id, pos, pos + 7 AS e FROM g
       |      WHERE gram IN (SELECT gram FROM sh))""".stripMargin

  /** The substring-span oracles' chain through `i`: string 8-gram
    * postings `g` over the token stream `t`, the span postings `shared`
    * states as `sh`/`h`, and their gaps-and-islands merge.
    */
  private def substringIslandCtes(shared: String): String =
    s"""WITH t AS (SELECT doc_id, $tokensSql AS tk
       |          FROM documents),
       |p AS (SELECT doc_id, tk, unnest(range(len(tk) - 7)) AS pos FROM t),
       |g AS (SELECT doc_id, pos, concat_ws(' ', tk[pos+1], tk[pos+2], tk[pos+3],
       |        tk[pos+4], tk[pos+5], tk[pos+6], tk[pos+7], tk[pos+8]) AS gram
       |      FROM p),
       |$shared,
       |m AS (SELECT doc_id, pos, e,
       |        CASE WHEN pos > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY pos
       |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -2) + 1
       |             THEN 1 ELSE 0 END AS brk FROM h),
       |i AS (SELECT doc_id, pos, e,
       |        sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM m)""".stripMargin

  /** One row per merged span of [[substringIslandCtes]]. */
  private def substringSpansSql(shared: String): String =
    s"""${substringIslandCtes(shared)}
       |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
       |  CAST(max(e) AS BIGINT) AS span_end,
       |  CAST(max(e) - min(pos) + 1 AS BIGINT) AS span_tokens
       |FROM i GROUP BY doc_id, island""".stripMargin

  /** q137's DuckDB oracle — shared verbatim by the SQL-surface twin
    * (q151) so the Scala and SQL statements of substring dedup are gated
    * against the same truth.
    */
  private lazy val substringSpansOracle: String = substringSpansSql(sharedGramsSql(""))

  val all: Seq[QueryDef] = Seq(

    QueryDef("q40_dedup_exact",
      (s, d) => Dedup.exactDedup(Tables.documents(s, d), "doc_id", "text"),
      Some(s"""SELECT min(doc_id) AS keeper_id, count(*) AS dup_count
              |FROM (SELECT doc_id, $normalizeTextSql AS t FROM documents)
              |GROUP BY t""".stripMargin)),

    // Brute-force token-set Jaccard (oracle-checkable exact path; the
    // LSH query below is the scale path for the same semantics).
    QueryDef("q41_token_jaccard_pairs",
      (s, d) => Dedup.tokenJaccardPairs(
        Tables.documents(s, d).filter(col("doc_id") < 200), "doc_id", "text", 0.5),
      Some(tokenJaccardOracle(200, "0.5"))),

    // Word-3-gram Jaccard: order-sensitive near-dup similarity (the
    // "n-gram Jaccard" dedup mode), string shingles so DuckDB states the
    // identical computation.
    QueryDef("q59_ngram_jaccard",
      (s, d) => Dedup.ngramJaccardPairs(
        Tables.documents(s, d)
          .filter(col("doc_id") < 300 || col("doc_id") % 17 === 0),
        "doc_id", "text", k = 3, threshold = 0.15),
      Some(s"""WITH t AS (
              |  SELECT doc_id, $tokensSql AS toks
              |  FROM documents WHERE doc_id < 300 OR doc_id % 17 = 0),
              |s AS (
              |  SELECT doc_id, list_distinct(
              |    CASE WHEN len(toks) >= 3 THEN ${wordGramsSql("toks", 3)}
              |    ELSE CAST([] AS VARCHAR[]) END) AS sh
              |  FROM t)
              |${jaccardPairsSql("s", "sh", "0.15")}""".stripMargin)),

    // MinHash-LSH tuned for EXACTNESS: with 1-gram shingles the verify
    // step computes the same token-set Jaccard as q41's brute force, and
    // the (rows=3, bands=16) layout drives per-pair banding miss
    // probability at j=0.9 to (1-0.9^3)^16 ≈ 8.6e-10 — so LSH + exact
    // verify equals the brute-force pair set and carries the same DuckDB
    // oracle (the first hash-green LSH path; q42 remains the
    // recall/throughput-tuned scale variant). estMargin=0.35 keeps the
    // signature-estimate prefilter ~8σ clear of true pairs.
    QueryDef("q49_minhash_lsh_exact",
      (s, d) => Dedup.minHashNearDup(
        Tables.documents(s, d).filter(col("doc_id") < 500), "doc_id", "text",
        threshold = 0.9, shingleK = 1, bands = 16, rowsPerBand = 3, estMargin = 0.35),
      Some(exactGradePairsOracle)),

    // Incremental near-dup with the q49 exactness-grade layout: every
    // 25th doc plays the NEW batch, the rest are the indexed corpus, read
    // from the stored index (`q93Index`).
    // Banding miss ≈ 8.6e-10 ⇒ the asymmetric LSH join provably equals
    // the brute-force new×corpus pair set, which DuckDB states directly.
    QueryDef("q93_incremental_neardup",
      (s, d) => q93Probe(s, d),
      Some(s"""WITH ${tokenSetsCte("")}
              |${jaccardPairsSql("t", "toks", "0.9",
                   ids = "a.doc_id AS new_id, b.doc_id AS corpus_id",
                   on = "a.doc_id % 25 = 0 AND b.doc_id % 25 <> 0")}""".stripMargin)),

    // Benchmark decontamination: training docs surviving an exact-match
    // anti join against a (fixture-derived) eval set. The engine matches
    // on the normalized-content hash; the oracle states the same predicate
    // on the normalized text itself — identical up to 2^-64 collisions.
    QueryDef("q68_decontaminate",
      (s, d) => {
        val all = Tables.documents(s, d)
        Dedup.decontaminateExact(all, all.filter(col("doc_id") % 31 === 0),
            "doc_id", "text")
          .select(col("doc_id"))
      },
      Some(s"""WITH n AS (SELECT doc_id, $normalizeTextSql AS nt FROM documents)
              |SELECT doc_id FROM n
              |WHERE nt NOT IN (SELECT nt FROM n WHERE doc_id % 31 = 0)""".stripMargin)),

    // EXACT threshold-Jaccard join via prefix filtering: the
    // deterministic scale path (no recall parameter) next to q42's
    // probabilistic MinHash banding — candidates from a global-order
    // prefix-token equi-join, never all-pairs. Carries the same
    // brute-force oracle as q49: the output is provably equal.
    QueryDef("q118_jaccard_join_prefix",
      (s, d) => Dedup.jaccardJoinPrefix(
        Tables.documents(s, d).filter(col("doc_id") < 500), "doc_id", "text",
        threshold = 0.9),
      Some(exactGradePairsOracle)),

    // N-gram-collision decontamination (GPT-3 style): any shared word
    // 5-gram with the eval set drops the training doc — catches partial
    // leaks that whole-document equality (q68) misses. Engine matches on
    // chained gram hashes; the oracle states the same predicate on string
    // 5-grams — identical up to 2^-64 collisions.
    QueryDef("q110_ngram_decontaminate",
      (s, d) => {
        val all = Tables.documents(s, d)
        Dedup.decontaminateNgram(all, all.filter(col("doc_id") % 31 === 0),
            "doc_id", "text", n = 5)
          .select(col("doc_id"))
      },
      Some(s"""WITH t AS (SELECT doc_id, $tokensSql AS tk
              |          FROM documents),
              |g AS (SELECT doc_id, unnest(${wordGramsSql("tk", 5)})
              |        AS gram
              |      FROM t),
              |bad AS (SELECT DISTINCT doc_id FROM g
              |        WHERE gram IN (SELECT gram FROM g WHERE doc_id % 31 = 0))
              |SELECT doc_id FROM documents
              |WHERE doc_id NOT IN (SELECT doc_id FROM bad)""".stripMargin)),

    // Bloom-filter decontamination: same output as an exact anti join (the
    // bloom's false positives are exactly re-verified; negatives are
    // provably clean), but the corpus meets only a broadcast bloom — the
    // layout for eval sets too large to broadcast as raw keys. Oracle =
    // the exact anti-join semantics, like q68.
    QueryDef("q70_bloom_decontaminate",
      (s, d) => {
        val all = Tables.documents(s, d)
        Dedup.decontaminateBloom(all, all.filter(col("doc_id") % 23 === 0),
            "doc_id", "text")
          .select(col("doc_id"))
      },
      Some(s"""WITH n AS (SELECT doc_id, $normalizeTextSql AS nt FROM documents)
              |SELECT doc_id FROM n
              |WHERE nt NOT IN (SELECT nt FROM n WHERE doc_id % 23 = 0)""".stripMargin)),

    // Cluster resolution over the q49 exactness-grade pair graph: the LSH
    // pair set equals brute force (banding miss ≈ 8.6e-10 at j = 0.9), so
    // the connected-component labels are deterministic and DuckDB can state
    // the same clustering as a recursive-CTE transitive closure over the
    // exact-Jaccard pair graph — the first hash-green clustering path
    // (q48 remains the recall-tuned rows-only scale variant).
    QueryDef("q69_neardup_clusters_exact",
      (s, d) => Dedup.resolveNearDupClustersExact(
        Tables.documents(s, d).filter(col("doc_id") < 500), "doc_id", "text",
        threshold = 0.9),
      Some(s"""$nearDupClosureCtes
              |SELECT id, min(comp) AS keeper, (id = min(comp)) AS is_keeper
              |FROM cc GROUP BY id""".stripMargin)),

    // Leakage-safe train/val/test split: the md5 split draw keys on the
    // near-dup CLUSTER representative (q69's exactness-grade clustering),
    // so near-duplicates never straddle a split boundary — the honest-
    // held-out-eval primitive a naive per-doc draw violates. The oracle
    // recomputes the clustering as a recursive-CTE transitive closure and
    // applies the same portable draw, so the full assignment hash-verifies.
    QueryDef("q135_leakage_safe_split",
      (s, d) => Dedup.leakageSafeSplit(
        Tables.documents(s, d).filter(col("doc_id") < 500), "doc_id", "text",
        splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
        threshold = 0.9),
      Some {
        val t1 = graft.ops.Sampling.hexThreshold(0.8)
        val t2 = graft.ops.Sampling.hexThreshold(0.9)
        s"""$nearDupClosureCtes,
           |lab AS (SELECT id, min(comp) AS keeper FROM cc GROUP BY id),
           |r AS (
           |  SELECT d.doc_id, coalesce(l.keeper, d.doc_id) AS rep
           |  FROM (SELECT doc_id FROM documents WHERE doc_id < 500) d
           |  LEFT JOIN lab l ON d.doc_id = l.id)
           |SELECT doc_id, rep,
           |  CASE WHEN md5(CAST(rep AS VARCHAR) || ':42') < '$t1' THEN 'train'
           |       WHEN md5(CAST(rep AS VARCHAR) || ':42') < '$t2' THEN 'val'
           |       ELSE 'test' END AS split_name
           |FROM r""".stripMargin
      }),

    QueryDef("q42_minhash_neardup",
      (s, d) => Dedup.minHashNearDup(Tables.documents(s, d), "doc_id", "text",
        threshold = 0.5),
      None),

    QueryDef("q43_simhash_neardup",
      (s, d) => Dedup.simHashNearDup(Tables.documents(s, d), "doc_id", "text",
        maxHamming = 3),
      None),

    // Fixture embeddings are near-orthogonal (max pairwise cosine ≈ 0.51),
    // so the threshold sits at 0.4 to produce a non-trivial result set.
    // Band layout comes from LshParams.hyperplane(0.4); the 512-bit
    // sketch-hamming prefilter inside embeddingNearDup prunes the bucket
    // collisions a low threshold on an orthogonal corpus creates.
    QueryDef("q44_embedding_neardup",
      (s, d) => Dedup.embeddingNearDupAuto(Tables.embeddings(s, d), "vec_id", "embedding",
        threshold = 0.4, dim = 64),
      None),

    // Embedding near-dup through the EXHAUSTIVE degenerate layout
    // (planes = 0: every row in one bucket ⇒ candidates = all pairs;
    // prefilterBits = 0: the probabilistic 4σ sketch cut is off) — the
    // output provably equals brute-force cosine-threshold search, so a
    // DuckDB all-pairs oracle (identical left-fold cosine) pins the
    // candidate/self-join/exact-verify machinery that q44's banded scale
    // path shares. Input capped like q41: exhaustive is the oracle
    // companion, not the scale path.
    QueryDef("q76_embedding_pairs_exhaustive",
      (s, d) => Dedup.embeddingNearDup(
        Tables.embeddings(s, d).filter(col("vec_id") < 600), "vec_id", "embedding",
        threshold = 0.4, dim = 64, planes = 0, bands = 1, prefilterBits = 0),
      Some(s"""WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 600)
              |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
              |  round(${graft.functions.VectorFunctions.cosineSql("a.embedding", "b.embedding")}, 6) AS cosine
              |FROM e a JOIN e b ON a.vec_id < b.vec_id
              |WHERE round(${graft.functions.VectorFunctions.cosineSql("a.embedding", "b.embedding")}, 6) >= 0.4""".stripMargin)),

    // Incremental embedding near-dup (q93's shape for vectors): a new
    // batch joined against a persisted embedding index, exhaustive
    // layout — provably equal to brute-force batch×corpus search, so
    // the DuckDB cross-pairs cosine oracle gates the index/band/verify
    // machinery; the banded layout is the scale path (DedupSpec pins
    // its restriction-equality against the full self-join).
    QueryDef("q120_incremental_embedding_neardup",
      (s, d) => {
        val emb = Tables.embeddings(s, d).filter(col("vec_id") < 600)
        val corpus = Dedup.embeddingIndex(
          emb.filter(col("vec_id") % 29 =!= 0), "vec_id", "embedding", dim = 64,
          prefilterBits = 1)
        Dedup.embeddingNearDupAgainst(corpus,
          emb.filter(col("vec_id") % 29 === 0), "vec_id", "embedding",
          threshold = 0.4, dim = 64, planes = 0, bands = 1, prefilterBits = 0)
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 600),
              |n AS (SELECT * FROM e WHERE vec_id % 29 = 0),
              |c AS (SELECT * FROM e WHERE vec_id % 29 <> 0)
              |SELECT n.vec_id AS new_id, c.vec_id AS corpus_id,
              |  round(${graft.functions.VectorFunctions.cosineSql("n.embedding", "c.embedding")}, 6) AS cosine
              |FROM n JOIN c ON n.vec_id <> c.vec_id
              |WHERE round(${graft.functions.VectorFunctions.cosineSql("n.embedding", "c.embedding")}, 6) >= 0.4""".stripMargin)),

    // Near-duplicate decontamination: drop training docs whose token-set
    // Jaccard against ANY eval doc reaches the threshold (eval side
    // broadcast, lossless size-ratio prefilter, exact merge-pass verify).
    // The oracle states the same NOT EXISTS over string token sets —
    // hashed-token Jaccard equals string-token Jaccard up to ~1e-13/pair
    // collisions (the proven q41 equivalence).
    QueryDef("q77_decontaminate_near",
      (s, d) => {
        val all = Tables.documents(s, d)
        Dedup.decontaminateNear(all, all.filter(col("doc_id") % 29 === 0),
            "doc_id", "text", threshold = 0.8)
          .select(col("doc_id"))
      },
      Some(s"""WITH ${tokenSetsCte("")},
              |ev AS (SELECT toks FROM t WHERE doc_id % 29 = 0)
              |SELECT doc_id FROM t
              |WHERE NOT EXISTS (SELECT 1 FROM ev
              |  WHERE ${jaccardSql("t.toks", "ev.toks")} >= 0.8)""".stripMargin)),

    // Within-corpus exact substring dedup (Lee et al. ExactSubstr at
    // 8-token granularity): maximal token spans occurring verbatim in >1
    // distinct document, per-doc interval-merged. Engine matches on
    // chained gram hashes; the oracle states the identical postings →
    // shared-gram → gaps-and-islands pipeline on STRING 8-grams
    // (identical up to 2^-64 gram-hash collisions, the q110 equivalence).
    QueryDef("q137_substring_dedup_spans",
      (s, d) => Dedup.exactSubstringSpans(Tables.documents(s, d),
        "doc_id", "text", k = 8),
      Some(substringSpansOracle)),

    // The SAME pipeline stated entirely in Spark SQL (spark.sql text) —
    // pins that a SQL-only user can run substring dedup without the
    // Scala API: chained-hash 8-grams via nested xxhash64 (the exact
    // construction shingleHashesPositional folds), posexplode postings,
    // min≠max shared grams, gaps-and-islands windows. Shares q137's
    // oracle, so the two surfaces can never drift from each other.
    QueryDef("q151_substring_sql_surface",
      (s, d) => {
        Tables.registerAll(s, d)
        s.sql("""
          WITH th AS (
            SELECT doc_id, transform(split(trim(lower(text)), '\\s+'),
                     x -> xxhash64(x)) AS h
            FROM documents),
          g AS (
            SELECT doc_id, pos, gram FROM (SELECT * FROM th WHERE size(h) >= 8)
            LATERAL VIEW posexplode(transform(sequence(0, size(h) - 8),
              i -> xxhash64(xxhash64(xxhash64(xxhash64(xxhash64(xxhash64(
                     xxhash64(h[i], h[i+1]), h[i+2]), h[i+3]), h[i+4]),
                     h[i+5]), h[i+6]), h[i+7]))) x AS pos, gram),
          sh AS (SELECT gram FROM g GROUP BY gram
                 HAVING min(doc_id) <> max(doc_id)),
          h2 AS (SELECT doc_id, pos, pos + 7 AS e FROM g
                 WHERE gram IN (SELECT gram FROM sh)),
          m AS (SELECT doc_id, pos, e,
                  CASE WHEN pos > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -2) + 1
                       THEN 1 ELSE 0 END AS brk FROM h2),
          i AS (SELECT doc_id, pos, e,
                  sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM m)
          SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
            CAST(max(e) AS BIGINT) AS span_end,
            CAST(max(e) - min(pos) + 1 AS BIGINT) AS span_tokens
          FROM i GROUP BY doc_id, island""")
      },
      Some(substringSpansOracle)),

    // The Lee-et-al. DELIVERABLE: the corpus with duplicated spans
    // removed — q137's spans applied back onto the token stream, plus
    // per-doc accounting. The oracle rebuilds the same spans on string
    // grams and re-derives the cleaned text with DuckDB's indexed list
    // lambda ((x, i) is 1-based there, 0-based in Spark's filter HOF —
    // the i-1 below is that offset), so the full cleaned corpus is
    // hash-gated end to end, not just the span list.
    QueryDef("q139_substring_dedup_clean",
      (s, d) => Dedup.exactSubstringDedup(Tables.documents(s, d),
        "doc_id", "text", k = 8),
      Some(s"""${substringIslandCtes(sharedGramsSql(""))},
              |sp AS (SELECT doc_id, min(pos) AS s, max(e) AS e2
              |       FROM i GROUP BY doc_id, island),
              |spl AS (SELECT doc_id, list([s, e2]) AS spans,
              |          CAST(count(*) AS BIGINT) AS n_spans,
              |          CAST(sum(e2 - s + 1) AS BIGINT) AS tokens_removed
              |        FROM sp GROUP BY doc_id)
              |SELECT t.doc_id,
              |  CAST(len(t.tk) AS BIGINT) AS tokens_total,
              |  coalesce(spl.n_spans, 0) AS n_spans,
              |  coalesce(spl.tokens_removed, 0) AS tokens_removed,
              |  coalesce(array_to_string(list_filter(t.tk, (x, ix) ->
              |    len(list_filter(coalesce(spl.spans, []),
              |      sp2 -> (ix - 1) >= sp2[1] AND (ix - 1) <= sp2[2])) = 0), ' '), '')
              |    AS cleaned_text
              |FROM t LEFT JOIN spl ON t.doc_id = spl.doc_id""".stripMargin)),

    // Keep-first substring dedup (the Lee-et-al. canonical-copy
    // discipline): spans are marked only in documents that are NOT the
    // earliest holder of the gram, so exactly one copy of every
    // duplicated substring survives the corpus. Same postings/merge
    // machinery as q137 with the per-gram min-doc exclusion.
    QueryDef("q140_substring_dedup_keepfirst",
      (s, d) => Dedup.exactSubstringSpansKeep(Tables.documents(s, d),
        "doc_id", "text", k = 8, keepFirst = true),
      Some(substringSpansSql(
        """sh AS (SELECT gram, min(doc_id) AS dmin FROM g
          |       GROUP BY gram HAVING min(doc_id) <> max(doc_id)),
          |h AS (SELECT g.doc_id, g.pos, g.pos + 7 AS e
          |      FROM g JOIN sh ON g.gram = sh.gram
          |      WHERE g.doc_id <> sh.dmin)""".stripMargin))),

    // The boilerplate-guard knob under oracle: grams above the doc-freq
    // cap are excluded from span detection (the documented under-dedup
    // posture for license-header-class grams), and the oracle states the
    // identical cap as a HAVING bound — the knob is hash-gated, not just
    // spec-asserted.
    QueryDef("q141_substring_dedup_dfcap",
      (s, d) => Dedup.exactSubstringSpans(Tables.documents(s, d),
        "doc_id", "text", k = 8, maxGramDocFreq = Some(3)),
      Some(substringSpansSql(sharedGramsSql(" AND count(DISTINCT doc_id) <= 3")))),

    // Contamination AUDIT report: the drop-based decontamination ops
    // (q68/q70/q77/q110) silently remove; this emits WHICH (train, eval)
    // pairs share word 5-grams and how many — the evidence a data owner
    // adjudicates before deleting. Eval side broadcast; corpus explodes
    // grams once, never shuffles.
    QueryDef("q143_contamination_report",
      (s, d) => {
        val docs = Tables.documents(s, d)
        Dedup.contaminationReport(
          docs.filter(col("doc_id") % 31 =!= 0),
          docs.filter(col("doc_id") % 31 === 0),
          "doc_id", "text", n = 5)
      },
      Some(s"""WITH t AS (SELECT doc_id, $tokensSql AS tk
              |          FROM documents),
              |g AS (SELECT DISTINCT doc_id, unnest(${wordGramsSql("tk", 5)})
              |        AS gram
              |      FROM t)
              |SELECT a.doc_id AS train_id, b.doc_id AS eval_id,
              |  CAST(count(*) AS BIGINT) AS shared_grams
              |FROM g a JOIN g b ON a.gram = b.gram
              |WHERE a.doc_id % 31 <> 0 AND b.doc_id % 31 = 0
              |GROUP BY 1, 2""".stripMargin)),

    // CCNet-style line-level exact dedup, keep-first (round 10): docs cut
    // into 8-token lines (the fixture has no natural line breaks), every
    // line occurring more than once in the corpus — including within one
    // doc — keeps only its (doc, pos)-first occurrence, docs reassembled
    // from survivors. The coarse sibling of q137's substring spans: one
    // groupBy(line) with an integer-packed keep-first min, one
    // aggregate→probe join back, one per-doc regroup.
    QueryDef("q219_line_dedup",
      (s, d) => graft.ops.Dedup.dedupLinesKeepFirst(
        Tables.documents(s, d), "doc_id", "text", lineTokens = 8),
      Some(s"""WITH t AS (SELECT doc_id, $tokensSql AS tk
              |          FROM documents),
              |n AS (SELECT doc_id, tk,
              |        CAST(ceil(len(tk) / 8.0) AS BIGINT) AS nl FROM t),
              |l AS (SELECT doc_id, u.i AS pos,
              |        array_to_string(tk[(u.i*8 + 1):(u.i*8 + 8)], ' ') AS line,
              |        doc_id * 1048576 + u.i AS rnk
              |      FROM n, unnest(range(nl)) AS u(i)),
              |w AS (SELECT line, MIN(rnk) AS keep FROM l GROUP BY line),
              |k AS (SELECT l.doc_id, l.pos, l.line
              |      FROM l JOIN w USING (line) WHERE l.rnk = w.keep),
              |tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines
              |        FROM l GROUP BY doc_id),
              |a AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines_kept,
              |        string_agg(line, ' ' ORDER BY pos) AS clean_text
              |      FROM k GROUP BY doc_id)
              |SELECT tot.doc_id, COALESCE(a.clean_text, '') AS clean_text,
              |  COALESCE(a.n_lines_kept, 0) AS n_lines_kept,
              |  tot.n_lines - COALESCE(a.n_lines_kept, 0) AS n_lines_dropped
              |FROM tot LEFT JOIN a USING (doc_id)""".stripMargin)),

    // SemDeDup (Abbas et al. 2023): cluster-then-prune semantic dedup —
    // assign to max-cosine seed centroids (q221's assignment rule), rank
    // within cluster by centroid-cosine ASC (the paper keeps the
    // LOW-centroid-similarity member of each duplicate set, so those
    // rank first and survive), drop members
    // whose pairwise cosine against ANY earlier-ranked cluster-mate
    // reaches the threshold. 0.4 on the near-orthogonal fixture for the
    // same reason as q44/q76. The oracle restates all three stages, so it
    // gates the assignment, the rank rule, and the drop rule together.
    // Contrastive pair mining for embedding training — q222's cluster
    // machinery pointed the other way: positives = within-cluster pairs
    // at/above the threshold (complete), hard negative = each anchor's
    // highest-cosine BELOW-threshold cluster-mate (the informative
    // negative). Oracle restates assignment, pairing, and both
    // selections; 0.4 as in q44/q76 (near-orthogonal fixture).
    QueryDef("q234_contrastive_pairs",
      (s, d) => graft.ops.Similarity.contrastivePairs(
        Tables.embeddings(s, d), "vec_id", "embedding",
        seedIds = (0L until 8L).toSeq, threshold = 0.4),
      Some {
        val cos = graft.functions.VectorFunctions.cosineSql _
        s"""WITH c AS (SELECT vec_id AS cid, embedding AS cv
           |          FROM embeddings WHERE vec_id < 8),
           |v AS (SELECT vec_id, embedding AS vv FROM embeddings),
           |s AS (SELECT v.vec_id, c.cid, ${cos("vv", "cv")} AS cos_raw
           |      FROM v CROSS JOIN c),
           |a AS (SELECT vec_id, cid AS cluster
           |      FROM s QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
           |        ORDER BY cos_raw DESC, cid ASC) = 1),
           |p AS (SELECT x.vec_id AS anchor_id, y.vec_id AS other_id,
           |        round(${cos("vx.vv", "vy.vv")}, 6) AS cosine
           |      FROM a x JOIN a y ON x.cluster = y.cluster
           |        AND x.vec_id <> y.vec_id
           |      JOIN v vx ON vx.vec_id = x.vec_id
           |      JOIN v vy ON vy.vec_id = y.vec_id)
           |SELECT anchor_id, other_id, cosine, true AS is_positive
           |FROM p WHERE cosine >= 0.4
           |UNION ALL
           |SELECT anchor_id, other_id, cosine, false AS is_positive
           |FROM (SELECT * FROM p WHERE cosine < 0.4
           |      QUALIFY ROW_NUMBER() OVER (PARTITION BY anchor_id
           |        ORDER BY cosine DESC, other_id ASC) = 1)""".stripMargin
      }),

    QueryDef("q222_semdedup",
      (s, d) => Dedup.semDedup(Tables.embeddings(s, d), "vec_id", "embedding",
        seedIds = (0L until 8L).toSeq, threshold = 0.4),
      Some {
        val cos = graft.functions.VectorFunctions.cosineSql _
        s"""WITH c AS (SELECT vec_id AS cid, embedding AS cv
           |          FROM embeddings WHERE vec_id < 8),
           |v AS (SELECT vec_id, embedding AS vv FROM embeddings),
           |s AS (SELECT v.vec_id, c.cid, ${cos("vv", "cv")} AS cos_raw
           |      FROM v CROSS JOIN c),
           |a AS (SELECT vec_id, cid AS cluster, round(cos_raw, 6) AS ccos
           |      FROM s QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
           |        ORDER BY cos_raw DESC, cid ASC) = 1),
           |rk AS (SELECT vec_id, cluster, ccos,
           |        ROW_NUMBER() OVER (PARTITION BY cluster
           |          ORDER BY ccos ASC, vec_id ASC) AS r
           |       FROM a),
           |drp AS (SELECT DISTINCT y.vec_id AS idb
           |        FROM rk x JOIN rk y ON x.cluster = y.cluster AND x.r < y.r
           |        JOIN v vx ON vx.vec_id = x.vec_id
           |        JOIN v vy ON vy.vec_id = y.vec_id
           |        WHERE round(${cos("vx.vv", "vy.vv")}, 6) >= 0.4)
           |SELECT rk.vec_id, cluster, ccos AS centroid_cos,
           |  (drp.idb IS NULL) AS kept
           |FROM rk LEFT JOIN drp ON rk.vec_id = drp.idb""".stripMargin
      })
  )
}
