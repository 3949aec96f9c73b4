package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Scale-ramp fixture generator: replicates an existing sf fixture
  * `factor`× with key-space remapping so join cardinalities scale
  * HONESTLY — each replica's foreign keys point at its own replica of the
  * dimension rows, so per-key join fan-out is identical to the source
  * fixture and total join output scales linearly, exactly like a bigger
  * TPC-H scale factor (dims `region`/`nation` stay fixed, facts grow).
  *
  * Remapping is a per-replica key OFFSET of `i * stride(entity)`, where
  * each entity's stride is its own `max(key) + 1` — the MINIMAL stride.
  * Keys stay small, so synthetic-feature arithmetic designed for dense
  * key spaces (`l_partkey * 10000 + l_suppkey` encodings, `% 97` feature
  * derivations) stays in range. Residues are NOT preserved across
  * replicas (replica i's residues are a fixed rotation of the
  * originals'), but the fixture key spaces are DENSE, so every residue
  * class stays equally populated and all `key % m` batch splits and
  * feature distributions keep their fractions — which is what scale
  * honesty needs. Foreign keys get the stride of the entity they
  * REFERENCE (o_custkey moves with the customer stride, o_orderkey with
  * the orders stride), so each replica's facts point at its own replica's
  * dims and per-key join fan-out is identical to the source fixture.
  *
  * Two tables get content remapped as well, because replicating content
  * verbatim would make every row a near-duplicate of its 9 replicas and
  * blow near-dup pair counts up QUADRATICALLY (100× at factor 10) instead
  * of linearly:
  *  - `documents`: every whitespace token gets a per-replica suffix
  *    (`q1`..`q9`), making cross-replica token sets disjoint (Jaccard 0) —
  *    near-dup/cluster workloads scale linearly, exactly as a corpus with
  *    10× genuinely distinct documents would;
  *  - `embeddings`: vectors are circularly rotated by the replica index —
  *    norms and coordinate distributions are preserved, cross-replica
  *    cosine drops to the fixture's background level.
  */
object GenSf {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("target/sfgen/sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = GraftSession.local()

    def read(n: String) = Tables.parquet(spark, s"$src/$n.parquet")
    def write(df: DataFrame, n: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$n.parquet")

    /** Minimal per-entity stride: one past the entity's max key (cast —
      * int-typed keys like c_nationkey would need it, long keys pass
      * through).
      */
    def strideOf(df: DataFrame, k: String): Long =
      df.agg(max(col(k).cast("long"))).head().getLong(0) + 1

    val custS = strideOf(read("customer"), "c_custkey")
    val suppS = strideOf(read("supplier"), "s_suppkey")
    val partS = strideOf(read("part"), "p_partkey")
    val orderS = strideOf(read("orders"), "o_orderkey")
    val docS = strideOf(read("documents"), "doc_id")
    val vecS = strideOf(read("embeddings"), "vec_id")
    val eventS = strideOf(read("events"), "event_id")
    val userS = strideOf(read("events"), "user_id")

    /** Union of `factor` replicas; each key column is offset by the stride
      * of the entity it REFERENCES; `mutate(df, i)` applies per-replica
      * content remapping.
      */
    def replicate(df: DataFrame, strides: Seq[(String, Long)],
                  mutate: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
      (0 until factor).map { i =>
        mutate(strides.foldLeft(df) { case (d, (k, s)) =>
          d.withColumn(k, col(k) + lit(i.toLong * s))
        }, i)
      }.reduce(_ union _)

    // dims stay fixed — TPC-H scaling: more customers per nation, not more nations
    write(read("region"), "region")
    write(read("nation"), "nation")

    write(replicate(read("customer"), Seq("c_custkey" -> custS)), "customer")
    write(replicate(read("supplier"), Seq("s_suppkey" -> suppS)), "supplier")
    // part NAMES get the documents-style per-replica token salt: verbatim
    // replication would deepen every entity-resolution block ((last name
    // token, brand)) by `factor` and grow in-block candidate pairs
    // quadratically (round-9 verdict #6 — the only above-linear ramp rows
    // were this fixture artifact, not the operator). Salted last tokens
    // make cross-replica block keys disjoint, so blocks keep their source-
    // fixture depth and linkage workloads scale linearly — exactly like a
    // catalog with 10× genuinely distinct product names.
    write(replicate(read("part"), Seq("p_partkey" -> partS), (d, i) =>
      if (i == 0) d
      else d.withColumn("p_name", concat_ws(" ",
        transform(split(col("p_name"), " "), t => concat(t, lit("q" + i)))))),
      "part")
    write(replicate(read("orders"),
      Seq("o_orderkey" -> orderS, "o_custkey" -> custS)), "orders")
    write(replicate(read("lineitem"),
      Seq("l_orderkey" -> orderS, "l_partkey" -> partS, "l_suppkey" -> suppS)), "lineitem")
    // ts stays as-is (micros-NTZ timestamp in current fixtures; a legacy
    // nanos fixture would pass through as a long): traffic scaling = 10×
    // the users and events inside the same time range
    write(replicate(read("events"),
      Seq("event_id" -> eventS, "user_id" -> userS)), "events")
    write(replicate(read("documents"), Seq("doc_id" -> docS), (d, i) =>
      if (i == 0) d
      else d.withColumn("text", concat_ws(" ",
          transform(split(trim(col("text")), "\\s+"), t => concat(t, lit("q" + i)))))
        .withColumn("n_chars", length(col("text")).cast("bigint"))), "documents")
    // Per-replica rotation degenerates when i >= dim: slice(v, i+1, ...)
    // is empty and slice(v, 1, i) is the whole array, so replica i would
    // be identical to replica 0 and reintroduce the quadratic near-dup
    // pair blow-up the mutation exists to prevent (round-7 ADVICE). For
    // factor > dim (the sf10 ramp: factor 100 over dim-64 vectors) the
    // scheme extends with a per-GENERATION negation (generation g =
    // i / dim, rotation r = i % dim): negation preserves norms and
    // coordinate distributions, same-rotation cross-generation pairs land
    // at cosine −1 (never above a positive near-dup threshold), and
    // different-rotation pairs keep the background level since the sign
    // cancels within a generation ((−u)·(−w) = u·w). Two generations max
    // — beyond that (factor > 2·dim) g0/g2 would collide at identity, so
    // still fail loud.
    val embDim = read("embeddings")
      .select(size(col("embedding"))).head().getInt(0)
    require(factor <= 2 * embDim,
      s"factor=$factor exceeds 2x embedding dim=$embDim: replica " +
        "rotation+negation would wrap to identity and the near-dup pair " +
        "count would grow quadratically; shrink factor or widen the vectors")
    write(replicate(read("embeddings"), Seq("vec_id" -> vecS), (d, i) => {
      val r = i % embDim
      val rotated =
        if (i == 0) d
        else if (r == 0) d
        else d.withColumn("embedding",
          concat(slice(col("embedding"), r + 1, 1 << 20),
            slice(col("embedding"), 1, r)))
      if (i / embDim == 0) rotated
      else rotated.withColumn("embedding",
        transform(col("embedding"), x => -x))
    }), "embeddings")

    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { n =>
      println(s"[gensf] $n: ${Tables.parquet(spark, s"$out/$n.parquet").count()} rows")
    }
    spark.stop()
  }
}
