package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Checkpoints._

/** Connected components over near-dup pair graphs and full cluster
  * resolution — the graph concern of [[Dedup]]. Depends on the MinHash
  * pair producers for the resolve* compositions.
  */
trait DedupComponents { self: DedupMinHash =>

  /** Connected components with pointer doubling: each round updates a
    * node's label to the min over its own label, its neighbors' labels,
    * AND its label's label (`comp(comp(id))` — the path-halving step that
    * makes label chains collapse geometrically). Where ids increase along a
    * chain this converges in O(log diameter) rounds, where one-hop min-label
    * propagation takes O(diameter): a 200-node path converges within 16.
    * With ids shuffled along the paths the extra hop gains little: a
    * 300-node forest of diameter 19 takes 17-20 rounds (DedupSpec). Cost
    * per round: one extra self-join of the (small) label frame on top of
    * the edge join. `maxIter` bounds pathological graphs
    * and the loop THROWS if labels were still changing when it ran out
    * (silently returning partial labels would mis-cluster). Returns
    * (id, component) with component = min id of the cluster.
    *
    * Scale notes: each round is one groupBy-min over edges ∪ labels;
    * `localCheckpoint` truncates the growing lineage (the classic
    * iterative-algorithm trap on Spark).
    */
  def connectedComponentsFast(pairs: DataFrame, maxIter: Int = 16): DataFrame = {
    // undirected edge list, both directions, cached ALREADY HASH-
    // PARTITIONED on the probe key (round 16): every round's neighbor
    // join probes edges on `src`, and an unpartitioned cache re-exchanged
    // the corpus-sized edge frame once PER ROUND (the pageRank cache
    // discipline, Graphs.scala)
    val edges = pairs.select(col("id_a").alias("src"), col("id_b").alias("dst"))
      .union(pairs.select(col("id_b").alias("src"), col("id_a").alias("dst")))
      .distinct()
      .repartition(col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = edges.select(col("src").alias("id"))
      .distinct()
      .withColumn("component", col("id"))
      .eagerCut()
    var resident = labels // checkpoint backing the current labels frame
    val compType = labels.schema("component").dataType
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("id", "src"), "src")
        .select(col("dst").alias("id"), col("component"),
          lit(null).cast(compType).alias("__old"))
      // comp(comp(id)): follow the label pointer one more hop
      val viaDouble = labels.alias("l1")
        .join(labels.alias("l2"), col("l1.component") === col("l2.id"))
        .select(col("l1.id").alias("id"), col("l2.component").alias("component"),
          lit(null).cast(compType).alias("__old"))
      // The own-label branch tags its previous label as `__old`, so the
      // convergence test ("did any min label change?") falls out of the
      // SAME aggregate (round 16) — re-joining next⋈labels just to count
      // changes cost two more node-sized exchanges and a join per round.
      // Every id has exactly one own row (dst ids are src ids on the
      // mirrored edge list), so max(__old) recovers its previous label.
      val next = labels
        .select(col("id"), col("component"), col("component").alias("__old"))
        .union(viaNeighbors).union(viaDouble)
        .groupBy("id").agg(min("component").alias("component"),
          max("__old").alias("__old"))
        .eagerCut()
      // one scan of the fresh checkpoint blocks — no join, no shuffle.
      // __old is null-guarded (round-17 hardening): if edge construction
      // ever broke the one-own-row invariant, max(__old) would be null
      // and a bare =!= would DROP the row from the changed count —
      // converging early with wrong components. A null __old counts as
      // changed, so a broken invariant keeps iterating and trips the
      // maxIter guard loudly instead of mis-clustering.
      changed = next.filter(col("__old").isNull ||
        col("component") =!= col("__old")).count()
      // the superseded round's checkpoint blocks are dead the moment the
      // new aggregate consumed them — release eagerly, don't let them
      // accumulate one-per-round on the ContextCleaner's queue
      org.apache.spark.sql.GraftBridge.releaseCheckpoint(resident)
      resident = next
      labels = next.select(col("id"), col("component"))
      iter += 1
    }
    edges.unpersist()
    if (changed > 0)
      throw new IllegalStateException(
        s"connectedComponentsFast did not converge in $maxIter rounds " +
          s"($changed labels still changing)")
    labels
  }

  /** Full near-dup resolution: MinHash pairs → transitive clusters →
    * keeper = min doc id per cluster. Output: (id, keeper, is_keeper) for
    * every document that belongs to some near-dup cluster.
    *
    * Defaults are the HIGH-RECALL path: the band layout comes from
    * [[LshParams.minhash]] (recall ≥ 0.9 at the threshold; the fixed 8×4
    * layout recalls only ~0.4 at j = 0.5) and components are solved with
    * pointer doubling (O(log diameter) rounds, not O(diameter)).
    */
  def resolveNearDupClusters(df: DataFrame, idCol: String, textCol: String,
                             threshold: Double = 0.5): DataFrame = {
    val pairs = minHashNearDupAuto(df, idCol, textCol, threshold)
    val labels = connectedComponentsFast(pairs)
    // the pair frame's checkpoint is dead once the (checkpointed) labels
    // exist — the labels' plan no longer references it
    org.apache.spark.sql.GraftBridge.releaseCheckpoint(pairs)
    labels.select(col("id"), col("component").alias("keeper"),
      (col("id") === col("component")).alias("is_keeper"))
  }

  /** [[resolveNearDupClusters]] over the EXACTNESS-grade LSH pair set:
    * with 1-gram shingles and the (rows = 3, bands = 16) layout the
    * banding miss probability at j = `threshold` = 0.9 is
    * (1 - 0.9³)¹⁶ ≈ 8.6e-10, so LSH + exact verify produces the SAME pair
    * graph as brute force and the cluster labels are deterministic —
    * checkable against a recursive-CTE transitive closure over the exact
    * Jaccard pairs (see q69). Uses the pointer-doubling component solver,
    * so chained clusters (A~B~C without A~C) converge in O(log d) rounds.
    */
  def resolveNearDupClustersExact(df: DataFrame, idCol: String, textCol: String,
                                  threshold: Double = 0.9): DataFrame = {
    val pairs = minHashNearDup(df, idCol, textCol, threshold,
      shingleK = 1, bands = 16, rowsPerBand = 3, estMargin = 0.35)
    val labels = connectedComponentsFast(pairs)
    org.apache.spark.sql.GraftBridge.releaseCheckpoint(pairs)
    labels.select(col("id"), col("component").alias("keeper"),
      (col("id") === col("component")).alias("is_keeper"))
  }

  /** Leakage-safe train/val/test split: every document is assigned to a
    * split by the portable md5 draw on its near-dup CLUSTER representative
    * (min id of its connected component; itself for singletons), so two
    * near-duplicate documents can NEVER land on opposite sides of a split
    * boundary — the property that makes held-out evaluation honest.
    * Splitting on the raw doc id (the naive approach) leaks: a test doc's
    * 0.95-Jaccard twin trains the model on the answer.
    *
    * `splits` are (name, weight) in declaration order with weights summing
    * to 1; the draw `md5(rep ":" seed)` is compared against cumulative
    * [[Sampling.hexThreshold]] boundaries, so any engine with a standard
    * md5 reproduces the assignment bit-for-bit (the q90 portability
    * contract). Output: (idCol, rep, split_name) for every input row.
    *
    * Scale shape: the cluster labels cost is [[resolveNearDupClustersExact]]
    * (LSH band join + O(log d) pointer-doubling rounds); everything after
    * is one left join against the (small — only clustered docs carry
    * labels) label frame plus a map-side hash — no extra shuffle, stable
    * under repartitioning. At 100 TB the label frame is the deduped
    * cluster membership, orders of magnitude smaller than the corpus.
    */
  def leakageSafeSplit(df: DataFrame, idCol: String, textCol: String,
                       splits: Seq[(String, Double)],
                       threshold: Double = 0.9,
                       seed: String = "42"): DataFrame = {
    require(splits.nonEmpty, "empty split recipe")
    splits.foreach { case (n, w) =>
      require(w > 0.0, s"non-positive weight for split $n: $w")
    }
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      s"split weights must sum to 1, got ${splits.map(_._2).sum}")
    val labels = resolveNearDupClustersExact(df, idCol, textCol, threshold)
      .select(col("id").alias(idCol), col("keeper"))
    val withRep = df.select(col(idCol)).join(labels, Seq(idCol), "left")
      .withColumn("rep", coalesce(col("keeper"), col(idCol)))
    val h = md5(concat(col("rep").cast("string"), lit(":" + seed)))
    val cum = splits.map(_._2).scanLeft(0.0)(_ + _).tail
    val assign = splits.zip(cum).dropRight(1).foldRight(
      lit(splits.last._1): org.apache.spark.sql.Column) {
      case (((name, _), c), acc) =>
        when(h < lit(Sampling.hexThreshold(c)), name).otherwise(acc)
    }
    withRep.select(col(idCol), col("rep"), assign.alias("split_name"))
  }
}
