package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `array<float>` embedding columns, built entirely from
  * codegen'd higher-order functions (no UDFs — stays inside whole-stage
  * codegen; SURVEY §7 step 7).
  *
  * Exactness: elements are cast to double and accumulated LEFT-TO-RIGHT
  * (`aggregate` is a sequential fold), which the DuckDB oracle mirrors with
  * `list_reduce(list_transform(...))` — identical operation order gives
  * bit-identical doubles, so similarity queries compare exactly.
  */
object VectorFunctions {

  /** Dot product with left-to-right double accumulation — the native
    * codegen'd [[DotProductExpr]] (bit-identical to the HOF
    * `aggregate(zip_with(...))` form it replaced, which was
    * CodegenFallback and dominated the ANN inner loops).
    */
  def dot(a: Column, b: Column): Column = DotProductExpr(a, b)

  def normSq(a: Column): Column = dot(a, a)

  def norm(a: Column): Column = sqrt(normSq(a))

  /** Cosine similarity; null when either vector has zero norm. */
  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val na = norm(a)
    val nb = norm(b)
    when(na > 0 && nb > 0, d / (na * nb)).otherwise(lit(null))
  }

  // ---- int8 quantization (ANN storage/IO scale path) --------------------
  // A 100 TB embedding corpus is 4× smaller as int8; coarse scoring over
  // quantized vectors reads a quarter of the bytes and the exact float
  // rerank touches only the survivors. Symmetric per-vector scheme:
  // scale = max|x|/127, q_i = floor(x_i/scale + 0.5) clamped to ±127
  // (explicit floor keeps the arithmetic engine-independent — no
  // rounding-mode ambiguity).

  /** Per-vector quantization scale (null for the zero vector). */
  def quantScale(v: Column): Column = {
    val m = array_max(transform(v, x => abs(x.cast("double"))))
    when(m > 0, m / 127.0).otherwise(lit(null))
  }

  /** Quantize to `array<tinyint>` with the given scale. */
  def quantizeInt8(v: Column, scale: Column): Column =
    transform(v, x =>
      greatest(lit(-127.0), least(lit(127.0),
        floor(x.cast("double") / scale + 0.5))).cast("tinyint"))

  /** Largest per-element reconstruction error of the quantization —
    * bounded by scale/2, i.e. max|x|/254.
    */
  def quantMaxAbsError(v: Column, q: Column, scale: Column): Column =
    array_max(zip_with(v, q, (x, qi) =>
      abs(qi.cast("double") * scale - x.cast("double"))))

  /** Random-hyperplane sign sketch: bit i of the result = sign of
    * v·planes(i). Requires ≤ 64 planes; delegates to the native
    * codegen'd [[HyperplaneSketchWideExpr]] and unwraps the single word.
    */
  def hyperplaneSketch(v: Column, planes: Seq[Array[Double]]): Column = {
    require(planes.length <= 64, "hyperplaneSketch packs into one long; use hyperplaneSketchWide")
    element_at(HyperplaneSketchWideExpr(v, planes), 1)
  }

  /** Wide random-hyperplane sketch: packs `planes.length` sign bits into
    * an `array<long>` of ⌈n/64⌉ words (bit i of word ⌊i/64⌋ = sign of
    * v·planes(i)). Word layout is little-endian in plane index, so word 1
    * holds planes 0..63 — callers can reuse its low bits as LSH band keys
    * and the full array as a hamming prefilter with one sketch
    * computation. Native codegen'd expression (see
    * [[HyperplaneSketchWideExpr]] for why not HOFs).
    */
  def hyperplaneSketchWide(v: Column, planes: Seq[Array[Double]]): Column =
    HyperplaneSketchWideExpr(v, planes)

  /** Hamming distance between two `array<long>` sketches of `words`
    * elements. Unrolled into `words` codegen'd `bit_count(xor)` terms —
    * the `zip_with`+`aggregate` HOF form is CodegenFallback and pays
    * boxed interpretation per word per pair, which matters when this
    * runs per candidate pair.
    */
  def hammingWide(a: Column, b: Column, words: Int): Column =
    (1 to words).map(i =>
      bit_count(element_at(a, i).bitwiseXOR(element_at(b, i))).cast("long"))
      .reduce(_ + _)

  // ---- DuckDB oracle mirrors (same fold order → bit-identical) ----------

  def dotSql(a: String, b: String): String =
    s"""list_reduce(list_transform(range(1, len($a) + 1),
       |  i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x, y) -> x + y)""".stripMargin

  def cosineSql(a: String, b: String): String =
    s"""(${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)})))"""
}
