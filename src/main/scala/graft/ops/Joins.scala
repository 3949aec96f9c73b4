package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Join operators (SURVEY §2.3 J1-J3).
  *
  * The reference uses only left equi-joins on a USING column. We keep
  * Catalyst in charge of strategy (sort-merge vs broadcast vs AQE runtime
  * conversion) but expose an explicit broadcast flag for genuinely-small
  * sides: at 100 TB a dimension join that should broadcast but sort-merges
  * costs a full shuffle of the fact table.
  */
object Joins {

  /** J3: star enrichment — chain left joins on one key, then coalesce the
    * listed metric columns to 0 for unmatched rows (reference:
    * gold/processor.py:159-169). All feature sides join on the SAME key, so
    * they share one hash partitioning: Catalyst reuses the exchange instead
    * of re-shuffling the base per join.
    */
  def starEnrich(base: DataFrame, key: String,
                 features: Seq[DataFrame], zeroFillCols: Seq[String]): DataFrame = {
    val joined = features.foldLeft(base)((acc, f) => acc.join(f, Seq(key), "left"))
    zeroFillCols.foldLeft(joined)((acc, c) => acc.withColumn(c, coalesce(col(c), lit(0))))
  }

  /** Semi/anti joins — the serving layer's EXISTS / NOT EXISTS shapes. */
  def semi(left: DataFrame, right: DataFrame, keys: Seq[String]): DataFrame =
    left.join(right, keys, "left_semi")
  def anti(left: DataFrame, right: DataFrame, keys: Seq[String]): DataFrame =
    left.join(right, keys, "left_anti")

  /** Generic equi-join with arbitrary condition (inner). */
  def inner(left: DataFrame, right: DataFrame, cond: Column): DataFrame =
    left.join(right, cond, "inner")

  /** Batch MERGE / upsert (SCD Type-1 "last write wins"): rows of `batch`
    * REPLACE same-key rows of `target`; new keys insert. Schemas must be
    * union-compatible by name.
    *
    * Scale posture: the change batch is bounded (a CDC tick, a corrections
    * file), the target is the 100 TB side — so the target must NEVER
    * shuffle. The anti join broadcasts the batch's keys and the target
    * streams through map-side; the whole merge is one target scan + one
    * union, no exchange. A full-outer-join formulation (the naive MERGE)
    * would shuffle the entire target on the key.
    */
  def upsert(target: DataFrame, batch: DataFrame, keys: Seq[String]): DataFrame =
    target.join(broadcast(batch.select(keys.map(col): _*)), keys, "left_anti")
      .unionByName(batch)

  /** [[upsert]] with a per-row `action` audit column: 'kept' (target row
    * untouched), 'updated' (batch replaced an existing key), 'inserted'
    * (new key). Costs a SECOND map-side target pass (the semi join that
    * learns which batch keys existed) — the audit trail's honest price;
    * both passes stay shuffle-free under a broadcast batch.
    */
  def upsertWithAction(target: DataFrame, batch: DataFrame,
                       keys: Seq[String]): DataFrame = {
    val bKeys = broadcast(batch.select(keys.map(col): _*))
    val kept = target.join(bKeys, keys, "left_anti")
      .withColumn("action", lit("kept"))
    // keys of batch rows that match an existing target row: target streams
    // against the broadcast batch, output is <= |batch| rows
    val matched = broadcast(
      target.join(bKeys, keys, "left_semi").select(keys.map(col): _*)
        .withColumn("__m", lit(1)))
    val merged = batch.join(matched, keys, "left")
      .withColumn("action", when(col("__m").isNotNull, lit("updated"))
        .otherwise(lit("inserted")))
      .drop("__m")
    kept.unionByName(merged)
  }

  /** Snapshot diff — derive a change-data feed from two versions of a
    * dimension: emits one row per key that was `added`, `removed`, or
    * `changed` (null-safe column compare); unchanged keys are omitted —
    * the CDC contract. Schemas must match.
    *
    * Scale posture: unlike [[upsert]] (bounded batch), BOTH sides here
    * are full snapshots, so the full-outer join legitimately shuffles
    * both — that cost is structural. The 100 TB mitigation is LAYOUT, not
    * the operator: write snapshots bucketed by the key (Spark's
    * `bucketBy`), and the join plans as a zip of co-partitioned scans
    * with zero exchange.
    */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame,
                   keys: Seq[String]): DataFrame = {
    require(oldSnap.columns.sameElements(newSnap.columns),
      s"snapshot schemas must match: ${oldSnap.columns.toSeq} vs ${newSnap.columns.toSeq}")
    val valCols = oldSnap.columns.filterNot(keys.contains).toSeq
    val o = oldSnap.select(keys.map(col) ++
      valCols.map(c => col(c).alias(s"__o_$c")): _*).withColumn("__op", lit(1))
    val n = newSnap.select(keys.map(col) ++
      valCols.map(c => col(c).alias(s"__n_$c")): _*).withColumn("__np", lit(1))
    val changed =
      if (valCols.isEmpty) lit(false)
      else valCols.map(c => !(col(s"__o_$c") <=> col(s"__n_$c"))).reduce(_ || _)
    o.join(n, keys, "full_outer")
      .withColumn("change",
        when(col("__op").isNull, lit("added"))
          .when(col("__np").isNull, lit("removed"))
          .when(changed, lit("changed")))
      .filter(col("change").isNotNull)
      .select(keys.map(col) :+ col("change"): _*)
  }

  /** Range (interval-containment) join: pairs each `intervals` row with
    * every `points` row whose `tsCol` falls in `[startCol, endCol)`.
    *
    * A naive inequality join has NO equi-key, so Catalyst can only plan a
    * broadcast-nested-loop or cartesian product — O(|intervals|·|points|)
    * compares and a single-task wall at scale. This operator manufactures
    * the equi-key: time is sliced into `binSeconds` bins, each interval is
    * exploded to the bins it overlaps, each point hashes to exactly ONE
    * bin, and the join becomes a plain shuffled equi-join on the bin key
    * with the exact range predicate as a post-filter. Each point lives in
    * one bin, so no dedup is needed; interval replication is
    * `1 + ceil(length/binSeconds)` rows — pick binSeconds near the typical
    * interval length to keep it ~2×.
    *
    * Bin ids come from exact integral floor-division on epoch
    * microseconds (`(us - pmod(us, bin)) / bin` — the subtraction makes
    * the double division exact), valid for any timestamp sign.
    */
  /** `extraKeys`: equi-columns shared by both sides (e.g. the user id for
    * per-entity intervals) — they join INSIDE the hash key next to the
    * bin, so co-binned intervals of other entities never pair up.
    */
  def rangeJoinBinned(intervals: DataFrame, points: DataFrame,
                      startCol: String, endCol: String, tsCol: String,
                      binSeconds: Long, extraKeys: Seq[String] = Nil): DataFrame = {
    val binUs = binSeconds * 1000000L
    def binOf(us: Column): Column =
      ((us - pmod(us, lit(binUs))) / lit(binUs)).cast("long")
    // empty/inverted intervals (end <= start) must yield ZERO bins —
    // sequence(a, b) DESCENDS when b < a, so one dirty row would otherwise
    // explode into a huge descending bin array
    val s0 = binOf(unix_micros(col(startCol)))
    val e0 = binOf(unix_micros(col(endCol)) - 1)  // end is exclusive
    val binned = intervals.withColumn("__bin",
      explode(when(col(endCol) > col(startCol), sequence(s0, e0))
        .otherwise(array().cast("array<long>"))))
    val pts = points.withColumn("__bin", binOf(unix_micros(col(tsCol))))
    binned.join(pts, "__bin" +: extraKeys)
      .filter(col(tsCol) >= col(startCol) && col(tsCol) < col(endCol))
      .drop("__bin")
  }

  /** Interval-OVERLAP join (both sides are intervals): pairs where
    * `[aStart, aEnd)` and `[bStart, bEnd)` intersect. Same
    * manufactured-equi-key discipline as [[rangeJoinBinned]], plus the
    * CLAIM-BIN rule for dedup-free emission: an overlapping pair is
    * co-binned in every bin their spans share, so each pair is kept only
    * in the bin holding `greatest(aStart, bStart)` (the first bin where
    * both are live) — exactly-once without a distinct over the output.
    * Empty/inverted intervals yield zero bins on either side.
    */
  def intervalOverlapJoin(a: DataFrame, b: DataFrame,
                          aStart: String, aEnd: String,
                          bStart: String, bEnd: String,
                          binSeconds: Long): DataFrame = {
    val binUs = binSeconds * 1000000L
    def binOf(us: Column): Column =
      ((us - pmod(us, lit(binUs))) / lit(binUs)).cast("long")
    def binned(df: DataFrame, s: String, e: String): DataFrame =
      df.withColumn("__bin",
        explode(when(col(e) > col(s),
            sequence(binOf(unix_micros(col(s))), binOf(unix_micros(col(e)) - 1)))
          .otherwise(array().cast("array<long>"))))
    binned(a, aStart, aEnd).join(binned(b, bStart, bEnd), Seq("__bin"))
      .filter(col(aStart) < col(bEnd) && col(bStart) < col(aEnd))
      .filter(col("__bin") ===
        binOf(unix_micros(greatest(col(aStart), col(bStart)))))
      .drop("__bin")
  }
}
