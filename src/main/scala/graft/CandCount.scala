package graft

import org.apache.spark.sql.functions.col

import graft.queries.DedupQueries

/** Diagnostic main: COUNT q93's band-join candidate pairs at a given SF —
  * the workload-growth denominator for the SCALE.md ratio gates (wall
  * ratios are only meaningful against the counted candidate growth, and
  * a regenerated fixture changes it, so the count is re-taken with them).
  */
object CandCount {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("target/sfgen/sf1")
    val spark = GraftSession.local()
    // `jaccard` mode: count the prefix-join candidate set of
    // x_jaccard_prefix_full (post size-ratio, pre-verify — the frame the
    // verify joins actually consume), the denominator for ITS sf gate.
    if (args.drop(1).headOption.contains("jaccard")) {
      import org.apache.spark.sql.functions.{array_distinct, array_sort, size => asize}
      // Measure the denominator under the shuffle posture the operator
      // runs in: its prefix chain runs inside the WideShuffle scope with
      // the token frame persisted — counting at the 32-partition session
      // default would spill on fixed partitions that the scope exists to
      // avoid, and re-tokenize the corpus per pass.
      graft.ops.DedupMinHash.WideShuffle.enter(spark)
      try {
        val t = graft.sources.Tables.documents(spark, sfDir)
          .select(col("doc_id").alias("__id"),
            array_sort(array_distinct(graft.functions.TextFunctions.tokenHashes(
              graft.functions.TextFunctions.tokens(col("text"))))).alias("__toks"))
          .withColumn("__n", asize(col("__toks")))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val n = graft.ops.Dedup.jaccardPrefixCandidates(t, 0.9).count()
        t.unpersist(false)
        println(s"CANDIDATES=$n mode=jaccard sf=$sfDir")
      } finally graft.ops.DedupMinHash.WideShuffle.exit(spark)
      spark.stop()
      return
    }
    val n = graft.ops.Dedup.minHashCandidates(graft.ops.PairSides.against(
      DedupQueries.q93Signatures(spark, sfDir, batch = true),
      graft.sources.Tables.parquet(spark, DedupQueries.q93Index(spark, sfDir))),
      DedupQueries.Q93Bands, DedupQueries.Q93RowsPerBand).count()
    println(s"CANDIDATES=$n sf=$sfDir")
    spark.stop()
  }
}
