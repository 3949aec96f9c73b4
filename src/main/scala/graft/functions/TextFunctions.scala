package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text primitives for the dedup / text-analysis operators (SURVEY §7
  * step 7). Built-in higher-order expressions throughout (codegen'd, no
  * serialization boundary); simhash is a native Catalyst expression
  * ([[SimHash64]]).
  */
object TextFunctions {

  /** Normalized form used for exact dedup: lowercase, strip non-alnum,
    * collapse whitespace. (Spark `regexp_replace` is replace-all; the
    * DuckDB mirror needs the explicit 'g' flag.)
    */
  def normalizeText(c: Column): Column =
    regexp_replace(regexp_replace(trim(lower(c)), "[^a-z0-9 ]", ""), " +", " ")

  val normalizeTextSql: String =
    "regexp_replace(regexp_replace(trim(lower(text)), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')"

  /** Whitespace tokenization (lowercased). */
  def tokens(c: Column): Column = split(trim(lower(c)), "\\s+")

  /** DuckDB mirror of [[tokens]] over the column `c`. */
  def tokensSqlOn(c: String): String = s"regexp_split_to_array(trim(lower($c)), '\\s+')"

  val tokensSql: String = tokensSqlOn("text")

  /** DuckDB list of the word `k`-grams of the token list `tk`, each joined
    * by one space, in order (an empty list when `tk` has fewer than `k`
    * tokens).
    */
  def wordGramsSql(tk: String, k: Int): String =
    s"list_transform(range(len($tk) - ${k - 1}), i -> concat_ws(' ', " +
      (1 to k).map(j => s"$tk[i+$j]").mkString(", ") + "))"

  /** Word k-gram shingles (distinct), built with sequence+transform —
    * no UDF, no explode.
    */
  def shingles(toks: Column, k: Int): Column = {
    val grams = transform(
      sequence(lit(0), size(toks) - k),
      i => concat_ws(" ", (0 until k).map(j => element_at(toks, i + j + 1)): _*))
    // guard: sequence(0, negative) DESCENDS in Spark — short docs must map
    // to an empty shingle set, not a bogus one
    array_distinct(when(size(toks) >= k, grams).otherwise(array().cast("array<string>")))
  }

  /** Per-token 64-bit hashes. Bind this to a COLUMN before deriving
    * shingles from it — expression-tree reuse via element_at re-evaluates
    * the whole child array per element (O(n²) per row), which is why the
    * shingle path works on bound columns with slice/zip_with (O(k·n)).
    */
  def tokenHashes(toks: Column): Column = transform(toks, t => xxhash64(t))

  /** Hashed word k-gram shingles from a bound token-hash column: gram i is
    * the chained hash of k consecutive token hashes. No string building,
    * no element_at; each shifted slice is evaluated once and zip_with
    * walks the arrays pairwise. Set semantics match string shingles up to
    * 64-bit collisions (~1e-13 per pair), so Jaccard is unchanged.
    */
  def shingleHashesFromTokenHashes(th: Column, k: Int): Column =
    array_distinct(shingleHashesPositional(th, k))

  /** POSITIONAL hashed word k-grams from a bound token-hash column: the
    * same chained-hash construction as [[shingleHashesFromTokenHashes]]
    * but WITHOUT the distinct — element i is the gram starting at token
    * position i (0-based), so `posexplode` over it yields the (pos, gram)
    * postings the substring-dedup operator needs. Equal string grams map
    * to equal hashes; distinct grams collide with ~1e-13/pair probability.
    */
  def shingleHashesPositional(th: Column, k: Int): Column = {
    val n = size(th)
    val combined = (1 until k).foldLeft(th) { (acc, j) =>
      zip_with(acc, slice(th, lit(j + 1), greatest(n - j, lit(0))), (x, y) => xxhash64(x, y))
    }
    when(n >= k, slice(combined, lit(1), n - (k - 1)))
      .otherwise(array().cast("array<bigint>"))
  }

  /** MinHash signature: `numHashes` permutations approximated by seeded
    * xxhash64; signature element i = min over shingles of xxhash64(i, s).
    * Native codegen'd expression ([[MinHashSignatureExpr]] — the HOF form
    * was CodegenFallback and its numHashes×|shingles| interpreted hash
    * calls dominated the MinHash dedup queries; the native form is
    * bit-identical).
    */
  def minHashSignature(shingleCol: Column, numHashes: Int): Column =
    MinHashSignatureExpr(shingleCol, numHashes)

  /** The HOF formulation [[minHashSignature]] replaced — kept for the
    * bit-parity test pinning that the native expression computes the
    * identical signature.
    */
  private[graft] def minHashSignatureHof(shingleCol: Column, numHashes: Int): Column =
    transform(sequence(lit(0), lit(numHashes - 1)),
      i => array_min(transform(shingleCol, s => xxhash64(i, s))))

  /** LSH band keys: hash of each band's slice of the signature. Banding
    * theory: with b bands of r rows, pairs with Jaccard ~ (1/b)^(1/r) or
    * higher collide in ≥1 band w.h.p.
    */
  def bandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => xxhash64(concat_ws(",",
        transform(slice(sig, b * rowsPerBand + 1, lit(rowsPerBand)), x => x.cast("string")))))

  /** Min-k sketch fingerprint of a document's shingle set (winnowing-style
    * content fingerprint): the k smallest shingle hashes, re-hashed to one
    * 64-bit value.
    */
  def fingerprint(shingleCol: Column, k: Int): Column =
    xxhash64(concat_ws(",",
      transform(slice(array_sort(transform(shingleCol, s => xxhash64(s))), 1, k),
        x => x.cast("string"))))

  /** 64-bit SimHash over a token array — a native codegen'd Catalyst
    * expression (see [[SimHash64]]; stays inside whole-stage codegen,
    * unlike a Scala UDF).
    */
  def simHash64(c: Column): Column = SimHash64(c)
}
