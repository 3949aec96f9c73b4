package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import org.apache.spark.storage.StorageLevel
import graft.ops.Checkpoints._

/** Iterative graph analytics beyond connectivity (the [[DedupComponents]]
  * family solves reachability; this solves influence): PageRank over an
  * edge frame as repeated join + aggregate — the canonical "ranks are
  * node-sized, edges are the corpus" iteration.
  *
  * Scale posture (100 TB): the edge frame is scanned once into cache and
  * every iteration reuses its shuffle partitioning on `src`; the rank
  * frame is node-sized (≪ edges) and localCheckpoint'd per iteration so
  * the plan never accretes lineage (the pointer-doubling discipline,
  * DedupComponents.scala). Iteration count is FIXED — a convergence test
  * would put a driver-side count in the loop; fixed-k power iteration is
  * the production norm and makes the result deterministic.
  */
object Graphs {

  /** Mean-normalized PageRank (rank mass scaled by N, so ranks are O(1)
    * and a mean-degree node scores ~1): r₀ = 1 and
    *
    *   r_{t+1}(v) = (1 − d) + d · Σ_{(u,v)∈E} r_t(u) / outdeg(u)
    *
    * Cross-engine exactness: per-edge contributions are quantized to
    * 6 dp and DECIMAL-summed per target (aggregation-order-independent —
    * a raw double Σ over in-edges would drift with partitioning), and
    * each new rank is re-quantized, so every iteration's rank vector is
    * bit-identical on any engine that mirrors the chain (the q149/q182
    * prefix-fold discipline applied to a graph fixpoint). Quantization
    * is floor(x·10⁶ + 0.5)/10⁶ — NOT round(x, 6): the iteration
    * manufactures values exactly on the 5e-7 half boundary, where
    * Spark's round (BigDecimal of the SHORTEST decimal repr, HALF_UP)
    * and DuckDB's (float multiply/rint) disagree by 1 ulp of the 6th
    * digit; the floor chain is the same IEEE multiply/add/floor/divide
    * on both engines, boundary included (measured: round() diverged on
    * 0.7% of nodes at sf0.01, the floor chain on none). Self-loops are
    * dropped; duplicate edges collapse (unweighted). Nodes with no
    * in-edges keep the teleport mass (1 − d); on a symmetric edge set no
    * dangling mass leaks.
    */
  def pageRank(edges0: DataFrame, srcCol: String, dstCol: String,
               iterations: Int = 5, damping: Double = 0.85): DataFrame = {
    require(iterations >= 1, "pageRank needs at least one iteration")
    // cache the edge frame ALREADY HASH-PARTITIONED on the probe key:
    // InMemoryTableScan preserves outputPartitioning, so every
    // iteration's rank⋈edges join shuffles only the node-sized rank
    // frame — the corpus-sized edge side never re-exchanges (measured:
    // the un-partitioned cache re-shuffled 1.2M edges × 5 iterations).
    // The source OUT-DEGREE is joined into the cache ONCE (round 16):
    // the old shape joined ranks⋈outDeg per iteration — one node-sized
    // shuffle + join on the critical path of every round — to compute
    // the per-source contribution; q6(rank/outdeg) is a deterministic
    // per-(rank, outdeg) value, so computing it per edge row off the
    // cached outdeg column yields bit-identical sums at the cost of one
    // extra long per cached edge.
    val dedupEdges = edges0
      .select(col(srcCol).cast("long").alias("src"),
        col(dstCol).cast("long").alias("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
    // Out-degree as a COUNT WINDOW over src (round 17): the r16 shape
    // aggregated outdeg separately and joined it back, which derived the
    // edge frame TWICE before the cache ever existed — for q185's
    // co-purchase graph that is two full lineitem self-joins (the scan
    // meter charged 223 MB to one sf0.1 run). The window computes the
    // identical count off ONE derivation, and its required partitioning
    // IS the probe-key partitioning the cache wants (hashpartitioning on
    // src), so the explicit repartition goes too: one derivation, one
    // exchange, no join. A hub's edges all land in one window task, which
    // AQE cannot split (it can split the per-iteration probe join); the
    // measured bound on hub out-degree is in SCALE.md.
    val edges = dedupEdges
      .withColumn("outdeg", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("src"))))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = edges.select(col("src").alias("node"))
      .union(edges.select(col("dst").alias("node")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // IEEE-identical 6-dp quantization (see scaladoc: round() is not)
    def q6(c: org.apache.spark.sql.Column) =
      floor(c * lit(1.0e6) + lit(0.5)).cast(DoubleType) / lit(1.0e6)
    var ranks = nodes.select(col("node"), lit(1.0).alias("rank"))
      .eagerCut()
    for (_ <- 1 to iterations) {
      // join strategy stays AQE's choice: at small node counts the rank
      // frame broadcast-joins (zero edge movement); at scale AQE plans a
      // shuffle join against the already-partitioned cache (a forced
      // shuffle_hash hint here measured +5% at sf0.1 by blocking the
      // runtime broadcast)
      val msgs = edges
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").alias("node"))
        .agg(sum(q6(col("rank") / col("outdeg")).cast(DecimalType(30, 8)))
          .cast(DoubleType).alias("__s"))
      val next = nodes
        .join(msgs, Seq("node"), "left")
        .select(col("node"),
          q6(lit(1.0 - damping) + lit(damping) * coalesce(col("__s"), lit(0.0)))
            .alias("rank"))
        .eagerCut()
      org.apache.spark.sql.GraftBridge.releaseCheckpoint(ranks)
      ranks = next
    }
    edges.unpersist(); nodes.unpersist()
    ranks
  }

  /** Bounded-hop BFS distance from a seed set: hops(v) = length of the
    * shortest directed path from any seed, capped at `maxHops` (nodes
    * farther than the cap are absent — the bounded-radius contract that
    * keeps the iteration count fixed and the result deterministic).
    * Pure integer min-relaxation → trivially engine-exact.
    *
    * Each round relaxes only the FRONTIER (nodes settled in the previous
    * round): a node's first discovery is its minimum hop count in BFS,
    * so re-relaxing settled nodes can never improve them — per-round
    * work is frontier × degree, not |settled| × degree. Distance frame
    * is node-sized, localCheckpoint'd per round ([[pageRank]] hygiene).
    */
  def hopDistance(edges0: DataFrame, srcCol: String, dstCol: String,
                  seeds: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 1, "hopDistance needs at least one hop")
    val edges = edges0
      .select(col(srcCol).cast("long").alias("src"),
        col(dstCol).cast("long").alias("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .repartition(col("src")) // frontier joins reuse this partitioning
      .persist(StorageLevel.MEMORY_AND_DISK)
    var dist = seeds
      .select(col(seeds.columns.head).cast("long").alias("node"))
      .distinct()
      .withColumn("hops", lit(0L))
      .eagerCut()
    for (h <- 1 to maxHops) {
      val frontier = dist.filter(col("hops") === lit(h - 1L))
        .withColumnRenamed("node", "src")
      val relaxed = edges.join(frontier, "src")
        .select(col("dst").alias("node"), (col("hops") + 1L).alias("hops"))
      val next = dist.union(relaxed)
        .groupBy(col("node")).agg(min(col("hops")).alias("hops"))
        .eagerCut()
      org.apache.spark.sql.GraftBridge.releaseCheckpoint(dist)
      dist = next
    }
    edges.unpersist()
    dist
  }

  /** DuckDB mirror of [[hopDistance]]: unrolled min-relaxation over CTEs
    * `e(src, dst)` (self-loop-free, distinct) and `d0(node, hops)` (the
    * seed set at hops 0), with the same frontier guard.
    */
  def hopDistanceSql(edgesCte: String, seedsCte: String, maxHops: Int): String = {
    val iters = (1 to maxHops).map { i =>
      s"""d$i AS (
         |  SELECT node, CAST(MIN(hops) AS BIGINT) AS hops FROM (
         |    SELECT node, hops FROM d${i - 1}
         |    UNION ALL
         |    SELECT e.dst AS node, d.hops + 1 AS hops
         |    FROM e JOIN d${i - 1} d ON d.node = e.src AND d.hops = ${i - 1})
         |  GROUP BY node)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS ($edgesCte),
       |d0 AS (SELECT DISTINCT node, CAST(0 AS BIGINT) AS hops FROM ($seedsCte)),
       |$iters
       |SELECT node, hops FROM d$maxHops""".stripMargin
  }

  /** Per-node triangle counts on the UNDIRECTED graph induced by the
    * edge frame (direction ignored, self-loops dropped, duplicates
    * collapsed). Uses degree orientation — each undirected edge points
    * from its (degree, id)-smaller endpoint to the larger — so every
    * triangle is enumerated from exactly one wedge at its smallest-
    * degree corner: the wedge count is bounded by O(m^1.5) on ANY graph
    * (Schank/Wagner), where the naive smaller-id orientation blows up
    * quadratically on a star-shaped hub. The canonical-edge probe that
    * closes each wedge is an equi-join; all arithmetic is integer.
    */
  def triangleCounts(edges0: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val canon = edges0
      .select(least(col(srcCol).cast("long"), col(dstCol).cast("long")).alias("a"),
        greatest(col(srcCol).cast("long"), col(dstCol).cast("long")).alias("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val deg = canon.select(col("a").alias("node"))
      .union(canon.select(col("b").alias("node")))
      .groupBy(col("node")).agg(count(lit(1)).alias("deg"))
    val withDeg = canon
      .join(deg.select(col("node").alias("a"), col("deg").alias("__da")), "a")
      .join(deg.select(col("node").alias("b"), col("deg").alias("__db")), "b")
    // orient toward the (deg, id)-larger endpoint
    // cached pre-partitioned on the wedge key (round 16): the wedge
    // enumeration self-joins this frame on u, and an unpartitioned cache
    // re-exchanged BOTH join sides — partitioned, the self-join reads the
    // cache's own partitioning twice with no exchange at all
    val oriented = withDeg.select(
      when(col("__da") < col("__db") ||
        (col("__da") === col("__db") && col("a") < col("b")), col("a"))
        .otherwise(col("b")).alias("u"),
      when(col("__da") < col("__db") ||
        (col("__da") === col("__db") && col("a") < col("b")), col("b"))
        .otherwise(col("a")).alias("v"))
      .repartition(col("u"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val wedges = oriented.alias("e1")
      .join(oriented.alias("e2"),
        col("e1.u") === col("e2.u") && col("e1.v") < col("e2.v"))
      .select(col("e1.u").alias("w0"), col("e1.v").alias("w1"),
        col("e2.v").alias("w2"))
    val tris = wedges.join(canon,
      least(col("w1"), col("w2")) === col("a") &&
        greatest(col("w1"), col("w2")) === col("b"))
    val counts = tris
      .select(explode(array(col("w0"), col("w1"), col("w2"))).alias("node"))
      .groupBy(col("node")).agg(count(lit(1)).alias("triangles"))
      .eagerCut()
    canon.unpersist(); oriented.unpersist()
    counts
  }

  /** DuckDB mirror of [[triangleCounts]] over an edge CTE `raw(src, dst)`
    * — the identical degree-oriented wedge enumeration, so agreement
    * gates the orientation logic, not just the final counts.
    */
  def triangleCountsSql(edgesCte: String): String =
    s"""WITH raw AS ($edgesCte),
       |canon AS (
       |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM raw WHERE src <> dst),
       |deg AS (
       |  SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
       |    SELECT a AS node FROM canon UNION ALL SELECT b FROM canon)
       |  GROUP BY node),
       |oriented AS (
       |  SELECT
       |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND a < b)
       |         THEN a ELSE b END AS u,
       |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND a < b)
       |         THEN b ELSE a END AS v
       |  FROM canon JOIN deg da ON da.node = a JOIN deg db ON db.node = b),
       |tris AS (
       |  SELECT e1.u AS w0, e1.v AS w1, e2.v AS w2
       |  FROM oriented e1 JOIN oriented e2
       |    ON e1.u = e2.u AND e1.v < e2.v
       |  JOIN canon c ON c.a = least(e1.v, e2.v) AND c.b = greatest(e1.v, e2.v))
       |SELECT node, CAST(COUNT(*) AS BIGINT) AS triangles FROM (
       |  SELECT w0 AS node FROM tris
       |  UNION ALL SELECT w1 FROM tris
       |  UNION ALL SELECT w2 FROM tris)
       |GROUP BY node""".stripMargin

  /** HITS hubs & authorities over a DIRECTED edge frame (the bipartite
    * influence scorer — PageRank's one score can't separate "ships to
    * everyone" from "bought by everyone"): authority(v) = Σ hub(u) over
    * in-edges, hub(u) = Σ authority(v) over out-edges, alternating for a
    * fixed iteration count. Scores are MEAN-normalized each half-step
    * (mean 1 keeps them O(1), where the textbook L1/L2 norm crushes a
    * 10⁸-node side below 6-dp resolution) and quantized with the
    * [[pageRank]] floor chain + DECIMAL sums, so the whole fixpoint is
    * bit-reproducible. Same cache/checkpoint hygiene; score frames are
    * node-sided, edges scan once per half-step.
    *
    * Output: (role, node, score) with role ∈ {hub, authority}.
    */
  def hits(edges0: DataFrame, srcCol: String, dstCol: String,
           iterations: Int = 3): DataFrame = {
    require(iterations >= 1, "hits needs at least one iteration")
    def q6(c: org.apache.spark.sql.Column) =
      floor(c * lit(1.0e6) + lit(0.5)).cast(DoubleType) / lit(1.0e6)
    // TWO cached copies of the edge frame, one hash-partitioned per probe
    // key (round 16): the auth half-step joins on src, the hub half-step
    // on dst, and a single unpartitioned cache re-exchanged the
    // corpus-sized edge frame on EVERY half-step (2 × iterations edge
    // shuffles). Doubling the cached edge bytes to delete all of them is
    // the standard iterate-over-edges trade (the pageRank discipline,
    // applied per probe key); the dst copy derives FROM the src cache, so
    // the distinct computes once.
    val edgesBySrc = edges0
      .select(col(srcCol).cast("long").alias("src"),
        col(dstCol).cast("long").alias("dst"))
      .distinct()
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val edgesByDst = edgesBySrc
      .repartition(col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Each half-step CHECKPOINTS THE RAW AGGREGATE (the heavy edges-join
    // + groupBy runs exactly once) and leaves normalization LAZY: the
    // 1-row mean broadcast and the q6 projection are node-sized work over
    // the checkpointed raw, recomputed cheaply wherever the normalized
    // frame is consumed. The previous shape checkpointed the NORMALIZED
    // frame, so the un-cached raw aggregation executed twice per
    // half-step — once for the mean, once inside the checkpoint (round-10
    // verdict stretch #7: q196 was the slowest query; same math, same
    // hash, roughly half the heavy work and jobs).
    def meanNormalize(raw: DataFrame): DataFrame = {
      val m = raw.agg(
        (sum(col("score").cast(DecimalType(30, 8))).cast(DoubleType) /
          count(lit(1))).alias("__mean"))
      raw.crossJoin(broadcast(m))
        .select(col("node"), q6(col("score") / col("__mean")).alias("score"))
    }
    val hub0 = edgesBySrc.select(col("src").alias("node")).distinct()
      .select(col("node"), lit(1.0).alias("score"))
      .eagerCut()
    var hub = hub0
    var hubCp = hub0           // checkpoint backing the current hub frame
    var auth: DataFrame = null
    var authCp: DataFrame = null
    for (_ <- 1 to iterations) {
      val authRaw = edgesBySrc
        .join(hub.select(col("node").alias("src"), col("score")), "src")
        .groupBy(col("dst").alias("node"))
        .agg(sum(col("score").cast(DecimalType(30, 8))).cast(DoubleType)
          .alias("score"))
        .eagerCut()
      if (authCp != null) org.apache.spark.sql.GraftBridge.releaseCheckpoint(authCp)
      authCp = authRaw
      auth = meanNormalize(authRaw)
      val hubRaw = edgesByDst
        .join(auth.select(col("node").alias("dst"), col("score")), "dst")
        .groupBy(col("src").alias("node"))
        .agg(sum(col("score").cast(DecimalType(30, 8))).cast(DoubleType)
          .alias("score"))
        .eagerCut()
      org.apache.spark.sql.GraftBridge.releaseCheckpoint(hubCp)
      hubCp = hubRaw
      hub = meanNormalize(hubRaw)
    }
    val out = hub.select(lit("hub").alias("role"), col("node"), col("score"))
      .unionByName(auth.select(lit("authority").alias("role"), col("node"),
        col("score")))
    edgesBySrc.unpersist(); edgesByDst.unpersist()
    out
  }

  /** DuckDB mirror of [[hits]]: unrolled half-step CTEs over an edge CTE
    * `e(src, dst)` (already distinct), with the identical decimal-sum /
    * mean-normalize / floor-quantize chain per half-step.
    */
  def hitsSql(edgesCte: String, iterations: Int = 3): String = {
    def q6(x: String) =
      s"CAST(CAST(floor(($x) * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE) / 1000000.0"
    def decSum(x: String) =
      s"CAST(CAST(SUM(CAST($x AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE)"
    val steps = (1 to iterations).map { i =>
      s"""a${i}r AS (
         |  SELECT e.dst AS node, ${decSum("h.score")} AS score
         |  FROM e JOIN h${i - 1} h ON h.node = e.src GROUP BY e.dst),
         |a${i}m AS (SELECT ${decSum("score")} / COUNT(*) AS m FROM a${i}r),
         |a$i AS (SELECT node, ${q6("score / m")} AS score FROM a${i}r, a${i}m),
         |h${i}r AS (
         |  SELECT e.src AS node, ${decSum("a.score")} AS score
         |  FROM e JOIN a$i a ON a.node = e.dst GROUP BY e.src),
         |h${i}m AS (SELECT ${decSum("score")} / COUNT(*) AS m FROM h${i}r),
         |h$i AS (SELECT node, ${q6("score / m")} AS score FROM h${i}r, h${i}m)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH e AS ($edgesCte),
       |h0 AS (SELECT DISTINCT src AS node, CAST(1.0 AS DOUBLE) AS score FROM e),
       |$steps
       |SELECT 'hub' AS role, node, score FROM h$iterations
       |UNION ALL
       |SELECT 'authority' AS role, node, score FROM a$iterations""".stripMargin
  }

  /** DuckDB mirror of [[pageRank]] as an unrolled CTE chain over an edge
    * CTE named `e(src, dst)` (already self-loop-free and distinct): the
    * same 6-dp round / decimal-sum / re-round chain, one CTE per
    * iteration — two independent formulations of the fixpoint agreeing
    * on the hash is the gate.
    */
  def pageRankSql(edgesCte: String, iterations: Int = 5): String = {
    def q6(x: String) =
      s"CAST(CAST(floor(($x) * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE) / 1000000.0"
    val iters = (1 to iterations).map { i =>
      s"""r$i AS (
         |  SELECT n.node,
         |    ${
        // CAST the damping constants: DuckDB evaluates bare 1.0 - 0.85 in
        // DECIMAL (exactly 0.15), but the Spark side computes the IEEE
        // double 1.0 − 0.85 = 0.15000000000000002 — a 1-ulp difference
        // that flips floor() on ranks sitting exactly on the 5e-7
        // boundary (measured: 9 of 2000 nodes at sf0.01)
        q6("(CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) + " +
          "CAST(0.85 AS DOUBLE) * coalesce(s.s, 0.0)")} AS rank
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS node,
         |      CAST(CAST(SUM(CAST(${q6("r.rank / deg.outdeg")} AS DECIMAL(30,8)))
         |           AS VARCHAR) AS DOUBLE) AS s
         |    FROM e JOIN r${i - 1} r ON r.node = e.src
         |           JOIN deg ON deg.src = e.src
         |    GROUP BY e.dst) s ON s.node = n.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS ($edgesCte),
       |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg FROM e GROUP BY src),
       |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |r0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS rank FROM nodes),
       |$iters
       |SELECT node, rank FROM r$iterations""".stripMargin
  }
}
