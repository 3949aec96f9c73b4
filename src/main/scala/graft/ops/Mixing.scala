package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic corpus repetition for training-mix recipes with weights
  * ABOVE 1 — the upsampling half of mixture construction (the ≤ 1 half is
  * [[Sampling.portableStratifiedSample]], exercised by q90/q117).
  *
  * A source with weight w contributes floor(w) FULL passes over its rows
  * plus one FRACTIONAL pass keeping the portable md5 share (w − floor(w)).
  * Every emitted row carries its `pass` index so downstream sharding and
  * dedup can keep replicas apart. The per-row draw is
  * `md5(id ":" pass ":" seed)` compared lexicographically against
  * [[Sampling.hexThreshold]], so (a) the fractional pass draws
  * independently of every other pass and of q90's sampling draw, and
  * (b) any engine with a standard md5 reproduces the mixture bit-for-bit.
  *
  * Scale shape: ONE narrow explode of a ceil(max w)-element literal
  * sequence plus a map-side filter — zero shuffle, zero driver state,
  * stable under repartitioning. Output size is exactly
  * Σ_src (floor(w)·|src| + |{rows : draw < frac}|), so a 2.3-weighted
  * 100 TB source costs 2.3× its scan, never a blowup. The reference has
  * no repetition primitive (its loaders are single-pass,
  * spark/silver/processor.py) — this is net-new capability for
  * epoch-weighted pretraining mixes.
  */
object Mixing {

  /** Per-source weighted repetition over one tagged corpus. Sources
    * absent from `weights` are DROPPED — a mix recipe is exhaustive, and
    * silently passing unlisted sources through at weight 1 would corrupt
    * the mixture it defines.
    */
  def mixCorpora(df: DataFrame, sourceCol: String, idCol: String,
                 weights: Map[String, Double], seed: String = "42"): DataFrame = {
    require(weights.nonEmpty, "empty mix recipe")
    weights.foreach { case (s, w) => require(w >= 0.0, s"negative weight for $s: $w") }
    val perSource = weights.map { case (s, w) =>
      (s, math.floor(w).toLong, w - math.floor(w))
    }
    val maxPass = perSource.map { case (_, full, frac) =>
      if (frac > 0.0) full else full - 1
    }.max
    if (maxPass < 0) df.withColumn("pass", lit(0L)).limit(0)
    else {
      val keep = perSource.foldLeft(lit(false)) { case (acc, (s, full, frac)) =>
        val fullPass = col(sourceCol) === s && col("pass") < full
        if (frac == 0.0) acc || fullPass
        else acc || fullPass ||
          (col(sourceCol) === s && col("pass") === full &&
            draw(idCol, seed) < lit(Sampling.hexThreshold(frac)))
      }
      df.withColumn("pass", explode(sequence(lit(0L), lit(maxPass)))).filter(keep)
    }
  }

  /** Portable per-(row, pass) draw on the md5 space; `pass` renders as a
    * decimal long on any engine (`CAST(pass AS VARCHAR)` in DuckDB).
    */
  private def draw(idCol: String, seed: String) =
    md5(concat(col(idCol).cast("string"), lit(":"),
      col("pass").cast("string"), lit(":" + seed)))
}
