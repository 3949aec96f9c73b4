package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Dataset profiling for pipeline data-quality gates: one row per profiled
  * column with null/distinct/min/max statistics, computed in a SINGLE scan
  * (all aggregates in one job, stacked to long form driver-side — the
  * aggregate row is tiny).
  *
  * At 100 TB swap `countDistinct` for `approx_count_distinct` via
  * `exact = false`: exact distinct of a high-cardinality column is a full
  * shuffle per column; the HLL sketch is one pass, mergeable, and ±2%.
  */
object Profiling {

  final case class ColumnProfile(column: String, nullCount: Long, distinctCount: Long,
                                 minValue: String, maxValue: String)

  def profile(df: DataFrame, cols: Seq[String], exact: Boolean = true): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val aggs: Seq[Column] = cols.flatMap { c =>
      val distinct = if (exact) countDistinct(col(c)) else approx_count_distinct(col(c))
      Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).alias(s"__null_$c"),
        distinct.alias(s"__distinct_$c"),
        min(col(c)).cast("string").alias(s"__min_$c"),
        max(col(c)).cast("string").alias(s"__max_$c"))
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    cols.map { c =>
      ColumnProfile(c,
        row.getAs[Long](s"__null_$c"),
        row.getAs[Long](s"__distinct_$c"),
        Option(row.getAs[String](s"__min_$c")).orNull,
        Option(row.getAs[String](s"__max_$c")).orNull)
    }.toDF("column", "null_count", "distinct_count", "min_value", "max_value")
  }

  /** Fully-DISTRIBUTED long-form column profile — the oracle-checkable
    * upgrade of [[profile]] (which collects its 1-row aggregate to the
    * driver): every column's null count, distinct count, typed extremes
    * and (numeric) exact mean computed in ONE aggregate over one scan,
    * then exploded to a row per column — the plan stays a single job and
    * the output frame never touches the driver. Extremes are typed by
    * KIND (numeric → double, timestamp → epoch micros as double, string
    * → string columns) rather than stringified: double/timestamp
    * rendering is engine-specific, their VALUES are not.
    *
    * Exact distinct counts deliberately do NOT use one aggregate with
    * multiple `countDistinct`s: Spark plans that through Expand — the
    * corpus is replicated once PER COLUMN into the distinct aggregation
    * (measured 29 s at sf0.1 for 11 columns vs 3 s for this shape).
    * Instead the frame unpivots once to (column_idx, value) and runs
    * ONE ordinary two-level distinct-then-count — the same bytes move
    * through one shuffle total, fully map-side combined. Values unpivot
    * through their string form (injective per distinct value) with
    * negative zero pre-normalized so -0.0/0.0 still count once, as
    * value-distinct semantics require. At 100 TB swap the distinct pass
    * for approx_count_distinct per the [[profile]] note.
    */
  def profileLong(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    val fields = df.schema.fields.toSeq
    val aggs = scala.collection.mutable.ArrayBuffer[Column](
      count(lit(1)).alias("__total"))
    fields.foreach { f =>
      val c = col(f.name)
      aggs += count(c).alias(s"__nn_${f.name}")
      f.dataType match {
        case _: NumericType =>
          aggs += min(c).cast(DoubleType).alias(s"__mn_${f.name}")
          aggs += max(c).cast(DoubleType).alias(s"__mx_${f.name}")
          aggs += round(Aggregations.exactAvg(c), 6).alias(s"__avg_${f.name}")
        case _: TimestampType =>
          aggs += unix_micros(min(c)).cast(DoubleType).alias(s"__mn_${f.name}")
          aggs += unix_micros(max(c)).cast(DoubleType).alias(s"__mx_${f.name}")
        case _: StringType =>
          aggs += min(c).alias(s"__ms_${f.name}")
          aggs += max(c).alias(s"__xs_${f.name}")
        case _ => ()
      }
    }
    val one = df.agg(aggs.head, aggs.drop(1).toSeq: _*)
    // one unpivot → one distinct shuffle for ALL columns' exact distincts
    val stringified = fields.map { f =>
      val c = col(f.name)
      (f.dataType match {
        case DoubleType | FloatType => (c + lit(0.0)).cast("string") // -0.0 → 0.0
        case _ => c.cast("string")
      })
    }
    val nd = df
      .select(posexplode(array(stringified: _*)).as(Seq("__i", "__v")))
      .filter(col("__v").isNotNull)
      .groupBy(col("__i"), col("__v")).agg(count(lit(1)))
      .groupBy(col("__i")).agg(count(lit(1)).alias("n_distinct"))
      .select(element_at(
        array(fields.map(f => lit(f.name)): _*), col("__i") + 1)
        .alias("col_name"), col("n_distinct"))
    val rows = fields.map { f =>
      val isNum = f.dataType.isInstanceOf[NumericType]
      val isTs = f.dataType.isInstanceOf[TimestampType]
      val isStr = f.dataType.isInstanceOf[StringType]
      struct(
        lit(f.name).alias("col_name"),
        lit(f.dataType.simpleString).alias("dtype"),
        (col("__total") - col(s"__nn_${f.name}")).alias("n_null"),
        (if (isNum || isTs) col(s"__mn_${f.name}")
         else lit(null).cast(DoubleType)).alias("min_num"),
        (if (isNum || isTs) col(s"__mx_${f.name}")
         else lit(null).cast(DoubleType)).alias("max_num"),
        (if (isNum) col(s"__avg_${f.name}")
         else lit(null).cast(DoubleType)).alias("mean"),
        (if (isStr) col(s"__ms_${f.name}") else lit(null).cast("string"))
          .alias("min_str"),
        (if (isStr) col(s"__xs_${f.name}") else lit(null).cast("string"))
          .alias("max_str"))
    }
    one.select(explode(array(rows: _*)).alias("__p")).select(col("__p.*"))
      .join(broadcast(nd), Seq("col_name"), "left")
      .select(col("col_name"), col("dtype"), col("n_null"),
        coalesce(col("n_distinct"), lit(0L)).alias("n_distinct"),
        col("min_num"), col("max_num"), col("mean"),
        col("min_str"), col("max_str"))
  }

  /** Equal-frequency binning (feature-engineering quantile cut): assign
    * each row the 1-based bin `1 + |{boundary < value}|` against the
    * exact (k-1)-quantile boundaries of `valCol`, rounded to 6 dp before
    * comparison (the q38 percentile-parity discipline).
    *
    * Scale posture: NOT `ntile` — a global ntile needs a total-order sort
    * (one task owns the whole 100 TB ordering). Boundaries come from one
    * sort-based percentile AGGREGATE (parallel, mergeable), broadcast as
    * a 1-row array, and the bin assignment is a map-side array scan —
    * zero shuffle on the data itself. Rows tied across a boundary land in
    * the lower bin together (exactness over exact-equal-counts; ntile
    * would split ties arbitrarily).
    */
  def binEqualFreq(df: DataFrame, valCol: String, k: Int): DataFrame = {
    require(k >= 2, s"bin count must be >= 2: $k")
    // ONE array-percentile aggregate, not k-1 scalar percentile() calls:
    // each scalar call keeps its own value buffer and sorts it separately
    // (k-1 full sorts of the column — measured 9x the single-call cost)
    val pcts = (1 until k).map(i => i.toDouble / k).mkString(", ")
    val bounds = df.agg(
      expr(s"transform(percentile(CAST($valCol AS DOUBLE), array($pcts)), q -> round(q, 6))")
        .alias("__bounds"))
    df.crossJoin(broadcast(bounds))
      .withColumn("bin",
        (lit(1) + size(filter(col("__bounds"),
          b => col(valCol).cast("double") > b))).cast("long"))
      .drop("__bounds")
  }

  /** Mergeable distinct-count sketches (DataSketches HLL via
    * `hll_sketch_agg`) — the 100 TB PRE-AGGREGATION pattern the
    * [[profile]] note points at, made concrete: a gold table stores one
    * SKETCH COLUMN per group, and every downstream reader answers
    * "distinct over any group combination" by MERGING sketches instead
    * of rescanning the corpus. One row per group: the sketch bytes, its
    * estimate, and the group's row count. `lgK` trades 2^lgK bytes for
    * rsd ≈ 1.04/√2^lgK (lgK 12 ≈ ±1.6%).
    */
  def distinctSketch(df: DataFrame, groupCols: Seq[String], valCol: String,
                     lgK: Int = 12): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(hll_sketch_agg(col(valCol), lit(lgK)).alias("sketch"),
        count(lit(1)).alias("n_rows"))
      .withColumn("estimate", hll_sketch_estimate(col("sketch")))

  /** Merge a frame of per-group sketches to ONE global estimate — the
    * read path of the pattern: sketch-union is the monoid `hll_union_agg`
    * folds, so the merged estimate provably equals sketching the whole
    * corpus at once (ProfilingSpec pins the equality, not just a bound).
    */
  def sketchRollup(sketched: DataFrame): DataFrame =
    sketched.agg(
      hll_sketch_estimate(hll_union_agg(col("sketch"), lit(true)))
        .alias("estimate"),
      sum(col("n_rows")).alias("n_rows"))

  import graft.functions.SketchAggs

  /** Theta sketches complete what [[distinctSketch]]'s HLL cannot: the
    * sketch supports INTERSECTION, so "how many keys do groups A and B
    * share" is answered from two kilobyte columns instead of a corpus
    * self-join. One row per group: sketch bytes + estimate + row count.
    * In exact mode (distinct ≤ 2^lgK) estimates are EXACT and the compact
    * serialization is canonical — union of partials is byte-identical to
    * sketching the whole corpus (SketchSpec pins both).
    */
  def thetaSketch(df: DataFrame, groupCols: Seq[String], valCol: String,
                  lgK: Int = 12): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(SketchAggs.thetaSketch(col(valCol), lgK).alias("sketch"),
        count(lit(1)).alias("n_rows"))
      .withColumn("estimate", SketchAggs.thetaEstimate(col("sketch")))

  /** Merge a frame of per-group theta sketches to one global estimate. */
  def thetaRollup(sketched: DataFrame, lgK: Int = 12): DataFrame =
    sketched.agg(
      SketchAggs.thetaUnion(col("sketch"), lgK).alias("sketch"),
      sum(col("n_rows")).alias("n_rows"))
      .select(
        SketchAggs.thetaEstimate(col("sketch")).alias("estimate"),
        col("n_rows"))

  /** Pairwise overlap matrix over a sketched frame (one row per unordered
    * group pair, keys ordered `key_a < key_b`): per-side estimates, union
    * and intersection estimates, and the Jaccard they imply. The input is
    * GROUP-sized (not corpus-sized), so the self-cross stays a broadcast
    * of kilobyte sketch rows — the corpus is never rescanned, which is
    * the entire point at 100 TB.
    */
  def thetaOverlapMatrix(sketched: DataFrame, keyCol: String): DataFrame = {
    val a = sketched.select(col(keyCol).alias("key_a"),
      col("sketch").alias("__sk_a"), col("estimate").alias("est_a"))
    val b = sketched.select(col(keyCol).alias("key_b"),
      col("sketch").alias("__sk_b"), col("estimate").alias("est_b"))
    a.crossJoin(broadcast(b))
      .filter(col("key_a") < col("key_b"))
      .withColumn("__pair", SketchAggs.thetaPair(col("__sk_a"), col("__sk_b")))
      .select(col("key_a"), col("key_b"),
        col("est_a"), col("est_b"),
        col("__pair.union_est").alias("union_est"),
        col("__pair.intersect_est").alias("intersect_est"),
        round(col("__pair.intersect_est") /
          greatest(col("__pair.union_est"), lit(1.0)), 6).alias("jaccard_est"))
  }

  /** EXACT overlap matrix — [[thetaOverlapMatrix]]'s exactness twin and
    * its cost contrast: distinct (key, value) pairs, self-joined on the
    * value (the corpus-sized shuffle the sketches exist to avoid), plus
    * two broadcast joins against the per-key distinct counts. Same output
    * shape as the theta form so the two are directly comparable.
    */
  def overlapMatrixExact(df: DataFrame, keyCol: String, valCol: String): DataFrame = {
    val s = df.select(col(keyCol).alias("key"), col(valCol).alias("v")).distinct()
    val cnt = s.groupBy("key").agg(count(lit(1)).alias("n"))
    s.alias("a")
      .join(s.alias("b"),
        col("a.v") === col("b.v") && col("a.key") < col("b.key"))
      .groupBy(col("a.key").alias("key_a"), col("b.key").alias("key_b"))
      .agg(count(lit(1)).alias("n_shared"))
      .join(broadcast(cnt.select(col("key").alias("key_a"), col("n").alias("n_a"))), "key_a")
      .join(broadcast(cnt.select(col("key").alias("key_b"), col("n").alias("n_b"))), "key_b")
      .select(col("key_a"), col("key_b"), col("n_a"), col("n_b"),
        col("n_shared"),
        (col("n_a") + col("n_b") - col("n_shared")).alias("n_union"),
        round(col("n_shared").cast("double") /
          (col("n_a") + col("n_b") - col("n_shared")), 6).alias("jaccard"))
  }

  /** Incremental new-vs-returning key report from two theta sketch
    * frames (built by [[thetaSketch]] over two ingest periods): per key,
    * the estimated count of NEW distinct values (in the new period but
    * not the old — A-NOT-B), RETURNING values (intersection), and the new
    * period's total. THE incremental-ingest question, answered from
    * kilobyte sketch columns without rescanning either period; with
    * persisted per-period sketches the old corpus is never read again.
    * Inner join by contract: report keys present in both periods (a key
    * with no old-period sketch has nothing to diff against).
    */
  def thetaNewKeys(oldSk: DataFrame, newSk: DataFrame, keyCol: String): DataFrame = {
    import graft.functions.SketchAggs
    newSk.select(col(keyCol), col("sketch").alias("__new"),
        col("estimate").alias("est_new_period"))
      .join(broadcast(oldSk.select(col(keyCol), col("sketch").alias("__old"))),
        Seq(keyCol))
      .withColumn("__pair", SketchAggs.thetaPair(col("__new"), col("__old")))
      .select(col(keyCol),
        SketchAggs.thetaDiff(col("__new"), col("__old")).alias("est_new_keys"),
        col("__pair.intersect_est").alias("est_returning"),
        col("est_new_period"))
  }

  /** Bootstrap a partition-keyed gold theta-sketch store (the q252 write
    * made an API): one sketch row per `partCol` value, landed as a
    * partitioned parquet table with STATIC overwrite — the full-rebuild
    * path, which also wipes any stale partitions from a prior layout.
    */
  def thetaStoreBuild(df: DataFrame, partCol: String, valCol: String,
                      path: String, lgK: Int = 12): Unit =
    thetaSketch(df, Seq(partCol), valCol, lgK)
      .write.mode("overwrite")
      // full-rebuild semantics must not depend on the session default
      // (GraftSession sets dynamic session-wide): static wipes the table
      // root first, clearing stale partitions from prior layouts
      .option("partitionOverwriteMode", "static")
      .partitionBy(partCol).parquet(path)

  /** INCREMENTAL maintenance of the store — the missing half of the
    * 100 TB lifecycle: sketch ONLY the incoming batch's partitions and
    * land them with DYNAMIC partition overwrite, so a new month appends
    * ONE kilobyte row while every existing partition's files stay
    * byte-untouched (SketchSpec pins both). Re-running the same batch is
    * idempotent (it overwrites its own partitions with identical bytes —
    * theta's ordered-compact form is canonical). This is the q162
    * aggState discipline applied to sketch columns: the store holds the
    * aggregation monoid's partial states, so append-then-merge EQUALS
    * rebuild-from-scratch, and the read side (partition-pruned
    * [[thetaRollup]]) never knows which path produced the rows.
    */
  def thetaStoreAppend(batch: DataFrame, partCol: String, valCol: String,
                      path: String, lgK: Int = 12): Unit =
    graft.sources.Sinks.parquetOverwriteDynamic(
      thetaSketch(batch, Seq(partCol), valCol, lgK), path, Seq(partCol))

  /** PORTABLE KMV distinct sketch — the member of the sketch family that
    * is fully deterministic end to end (portable md5 hash, exact bottom-k
    * minima, no seeds, no randomness), so unlike HLL/theta its ESTIMATE
    * is oracle-gatable hash-exact: DuckDB reproduces the identical
    * number from the identical hashes. Per group: the k smallest distinct
    * 48-bit hashes (`mins`), the k-th minimum, and the KMV estimate
    * (k−1)/R with R = h_k/2^48 — exact when distinct < k (the sketch
    * still holds every hash), rsd ≈ 1/√(k−2) otherwise. Partial-
    * aggregable and merge-order-independent: bottom-k is a monoid, so
    * per-shard sketches union to EXACTLY the whole-corpus sketch
    * (SketchSpec pins the distributivity).
    */
  def kmvSketch(df: DataFrame, groupCols: Seq[String], valCol: String,
                k: Int = 32): DataFrame = {
    val scale = (k - 1).toDouble * 281474976710656.0 // (k-1) * 2^48, exact
    df.withColumn("__h",
        conv(substring(md5(col(valCol).cast("string")), 1, 12), 16, 10)
          .cast("long"))
      .groupBy(groupCols.map(col): _*)
      .agg(SketchAggs.kmvBottomK(col("__h"), k).alias("mins"))
      .select(groupCols.map(col) ++ Seq(
        col("mins"),
        size(col("mins")).cast("long").alias("n_kept"),
        when(size(col("mins")) >= k, element_at(col("mins"), k))
          .alias("kth_min"),
        when(size(col("mins")) < k, size(col("mins")).cast("double"))
          .otherwise(round(lit(scale) / element_at(col("mins"), k), 6))
          .alias("est_distinct")): _*)
  }

  /** Merge persisted KMV rows ([[kmvSketch]] output, `mins` kept) to a
    * COARSER grouping — the READBACK op of a KMV store: any rollup of the
    * stored per-group minima answers its distinct question without
    * touching the fact table, because bottom-k is a monoid (every global
    * bottom-k hash is inside its own group's bottom-k; ProfilingSpec pins
    * the merge-equals-whole equality). Pass `groupCols = Seq.empty` for
    * the grand total. Pure deterministic array algebra (flatten →
    * distinct → sort → take k), so the rolled-up estimate stays
    * oracle-gatable hash-exact like the build side (q248 discipline).
    * `n_groups_merged` reports how many stored rows fed the rollup.
    */
  def kmvRollup(store: DataFrame, groupCols: Seq[String],
                k: Int = 32): DataFrame = {
    val scale = (k - 1).toDouble * 281474976710656.0 // (k-1) * 2^48, exact
    val grouped =
      if (groupCols.isEmpty) store.groupBy()
      else store.groupBy(groupCols.map(col): _*)
    grouped
      .agg(
        slice(array_sort(array_distinct(flatten(collect_list(col("mins"))))),
          1, k).alias("mins"),
        count(lit(1)).alias("n_groups_merged"))
      .select(groupCols.map(col) ++ Seq(
        col("n_groups_merged"),
        size(col("mins")).cast("long").alias("n_kept"),
        when(size(col("mins")) >= k, element_at(col("mins"), k))
          .alias("kth_min"),
        when(size(col("mins")) < k, size(col("mins")).cast("double"))
          .otherwise(round(lit(scale) / element_at(col("mins"), k), 6))
          .alias("est_distinct")): _*)
  }

  /** Per-group frequent-items (heavy hitters) sketches over a string
    * column — deterministic error brackets, no randomness: every reported
    * count sits in `[lower, upper]`, and any item with true count above
    * the sketch's maximum error is guaranteed reported
    * (NO_FALSE_NEGATIVES). `maxMapSize` (power of 2) bounds the state:
    * error ≤ 3.5·n/maxMapSize.
    */
  def freqSketch(df: DataFrame, groupCols: Seq[String], itemCol: String,
                 maxMapSize: Int = 256): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(SketchAggs.freqSketch(col(itemCol), maxMapSize).alias("sketch"),
        count(lit(1)).alias("n_rows"))

  /** Per-group KLL quantile sketches over a numeric column — the
    * mergeable counterpart of the exact percentile tier (q38/q161): a
    * gold table stores one KLL column per group and ANY later rank
    * question over any group combination merges them. n/min/max are exact
    * in the sketch; quantile rank error is eps(k) (k=200 ≈ 1.65%).
    */
  def kllSketch(df: DataFrame, groupCols: Seq[String], valCol: String,
                k: Int = 200): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(SketchAggs.kllSketch(col(valCol).cast("double"), k).alias("sketch"),
        count(lit(1)).alias("n_rows"))

  /** Merge per-group KLL sketches and summarize at the given ranks. */
  def kllRollup(sketched: DataFrame, ranks: Seq[Double],
                k: Int = 200): DataFrame =
    sketched.agg(
      SketchAggs.kllMerge(col("sketch"), k).alias("sketch"),
      sum(col("n_rows")).alias("n_rows"))
      .select(SketchAggs.kllSummary(col("sketch"), ranks).alias("summary"),
        col("n_rows"))
      .select(col("summary.n").alias("n"),
        col("summary.min_value").alias("min_value"),
        col("summary.max_value").alias("max_value"),
        col("summary.quantiles").alias("quantiles"),
        col("n_rows"))
}
