package graft

import org.apache.spark.sql.functions._

import graft.ops.Dedup
import graft.functions.TextFunctions

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  test("exactDedup groups case/punctuation/whitespace variants") {
    val df = docs(
      1L -> "Hello, World!",
      2L -> "hello   world",
      3L -> "HELLO WORLD.",
      4L -> "something else")
    val out = Dedup.exactDedup(df, "doc_id", "text").collect()
    assert(out.length == 2)
    val byKeeper = out.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byKeeper(1L) == 3L) // the three variants collapse, keeper = min id
    assert(byKeeper(4L) == 1L)
  }

  test("minHashNearDup finds a constructed near-duplicate and skips unrelated docs") {
    val base = "the quick brown fox jumps over the lazy dog while the cat sleeps " +
      "on the warm mat near the door of the old house by the river bank today"
    val nearDup = base.replace("today", "tonight")
    val unrelated = "completely different content about databases indexes columns " +
      "partitions shuffles joins aggregates windows and vectorized execution plans"
    val df = docs(1L -> base, 2L -> nearDup, 3L -> unrelated)
    val pairs = Dedup.minHashNearDup(df, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet == Set((1L, 2L)))
  }

  test("minHashNearDup pairs are a subset of true high-jaccard pairs (no false positives)") {
    val df = graft.sources.Tables.documents(spark, sf001)
    val reported = Dedup.minHashNearDup(df, "doc_id", "text", threshold = 0.5)
    // verification step computes exact jaccard, so every reported pair must
    // genuinely satisfy the threshold — re-derive independently
    val sh = df.select(col("doc_id"),
      TextFunctions.shingles(TextFunctions.tokens(col("text")), 3).alias("sh"))
    val truth = sh.alias("a").join(sh.alias("b"), col("a.doc_id") < col("b.doc_id"))
      .withColumn("j", size(array_intersect(col("a.sh"), col("b.sh"))).cast("double") /
        size(array_union(col("a.sh"), col("b.sh"))))
      .filter(col("j") >= 0.5)
      .select(col("a.doc_id"), col("b.doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = reported.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.subsetOf(truth), s"false positives: ${got.diff(truth)}")
    // banding (8 bands × 4 rows ⇒ s-curve midpoint ~0.59) should recover
    // most pairs at jaccard ≥ 0.7
    val strong = sh.alias("a").join(sh.alias("b"), col("a.doc_id") < col("b.doc_id"))
      .withColumn("j", size(array_intersect(col("a.sh"), col("b.sh"))).cast("double") /
        size(array_union(col("a.sh"), col("b.sh"))))
      .filter(col("j") >= 0.7)
      .select(col("a.doc_id"), col("b.doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(strong.subsetOf(got), s"missed strong pairs: ${strong.diff(got)}")
  }

  test("minHashNearDupAuto recovers at least the fixed-layout pairs (higher recall)") {
    val df = graft.sources.Tables.documents(spark, sf001)
    val fixed = Dedup.minHashNearDup(df, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val auto = Dedup.minHashNearDupAuto(df, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fixed.subsetOf(auto) || (fixed -- auto).size <= fixed.size / 10,
      s"auto layout lost pairs: ${(fixed -- auto).take(5)}")
    assert(auto.size >= fixed.size)
  }

  test("resolveNearDupClusters recall vs brute force (auto layout + fast CC defaults)") {
    val df = graft.sources.Tables.documents(spark, sf001)
    val clusters = Dedup.resolveNearDupClusters(df, "doc_id", "text", threshold = 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // brute-force truth over the same shingle-3 jaccard the LSH path verifies
    val sh = df.select(col("doc_id"),
      TextFunctions.shingles(TextFunctions.tokens(col("text")), 3).alias("sh"))
    val truth = sh.alias("a").join(sh.alias("b"), col("a.doc_id") < col("b.doc_id"))
      .withColumn("j", size(array_intersect(col("a.sh"), col("b.sh"))).cast("double") /
        size(array_union(col("a.sh"), col("b.sh"))))
      .filter(col("j") >= 0.5)
      .select(col("a.doc_id"), col("b.doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // a true pair counts as recovered when both ids share a cluster label
    // (transitive closure can only merge MORE than the pair graph)
    val recovered = truth.count { case (a, b) =>
      clusters.get(a).exists(ka => clusters.get(b).contains(ka))
    }
    assert(truth.nonEmpty, "fixture produced no true pairs — test is vacuous")
    val recall = recovered.toDouble / truth.size
    assert(recall >= 0.8,
      s"cluster recall $recall < 0.8 ($recovered/${truth.size}) — " +
        "the auto band layout should recover ≥ 0.9 of pairs at the threshold")
    // no degenerate giant cluster: distinct labels stay plural on this corpus
    assert(clusters.values.toSet.size > 1)
  }

  test("simHashNearDup: identical token streams collide at hamming 0") {
    val df = docs(
      1L -> "alpha beta gamma delta epsilon zeta eta theta",
      2L -> "alpha beta gamma delta epsilon zeta eta theta",
      3L -> "one two three four five six seven eight nine ten")
    val out = Dedup.simHashNearDup(df, "doc_id", "text", maxHamming = 3).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet == Set((1L, 2L, 0)))
  }

  test("simHashNearDup equals brute-force hamming over ALL pairs (verified grade)") {
    // pigeonhole completeness (hamming ≤ 3 ⇒ one of 4 16-bit bands equal)
    // plus the exact bit_count verify make the banded output DETERMINISTIC:
    // exactly the pairs within hamming 3 — provable by O(n²) comparison on
    // the self-similar documents fixture (the q49 exactness trick for
    // SimHash; 500 docs → 125k brute pairs, trivial at test scale)
    val df = graft.sources.Tables.documents(spark, sf01)
    val banded = Dedup.simHashNearDup(df, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val sig = df.select(col("doc_id"),
      TextFunctions.simHash64(TextFunctions.tokens(col("text"))).alias("__s"))
    val brute = sig.alias("a").join(sig.alias("b"),
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        bit_count(col("a.__s").bitwiseXOR(col("b.__s"))).alias("h"))
      .filter(col("h") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(brute.nonEmpty, "fixture produced no sim-hash pairs — test is vacuous")
    assert(banded == brute,
      s"banded ${banded.size} pairs != brute ${brute.size}: " +
        s"missed ${(brute -- banded).take(5)}, extra ${(banded -- brute).take(5)}")
  }

  test("embeddingNearDup finds the noisy copy, not the orthogonal vector") {
    val dim = 8
    val v = Array.tabulate(dim)(i => if (i % 2 == 0) 1.0f else 0.5f)
    val noisy = v.map(x => x * 1.001f)
    val ortho = Array.tabulate(dim)(i => if (i % 2 == 0) 0.5f else -1.0f)
    val df = Seq((1L, v.toSeq), (2L, noisy.toSeq), (3L, ortho.toSeq))
      .toDF("vec_id", "embedding")
    val out = Dedup.embeddingNearDup(df, "vec_id", "embedding",
      threshold = 0.99, dim = dim, planes = 4, bands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSet == Set((1L, 2L)))
  }

  test("embeddingNearDupAuto matches the explicit-layout result on the fixture") {
    val df = graft.sources.Tables.embeddings(spark, sf001)
    val explicit = Dedup.embeddingNearDup(df, "vec_id", "embedding",
      threshold = 0.4, dim = 64, planes = 4, bands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val auto = Dedup.embeddingNearDupAuto(df, "vec_id", "embedding",
      threshold = 0.4, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // LshParams.hyperplane(0.4) resolves to the same (4, 8) layout, and the
    // hamming prefilter must not drop verified pairs (4σ margin)
    assert(auto == explicit)
    assert(auto.nonEmpty)
  }

  test("sketch-hamming prefilter keeps all pairs exact cosine would report") {
    // run with the prefilter effectively disabled (cut at max) and enabled;
    // result sets must match — the prefilter is an optimization, not a filter
    val df = graft.sources.Tables.embeddings(spark, sf001)
    val withPrefilter = Dedup.embeddingNearDup(df, "vec_id", "embedding",
      threshold = 0.4, dim = 64, planes = 4, bands = 8, prefilterBits = 512)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val minimalSketch = Dedup.embeddingNearDup(df, "vec_id", "embedding",
      threshold = 0.4, dim = 64, planes = 4, bands = 8, prefilterBits = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 32-bit prefilter has a wide 4σ band — keeps essentially everything;
    // 512-bit is the tight one. Both must agree with each other on this corpus.
    assert(withPrefilter == minimalSketch,
      s"prefilter dropped pairs: ${minimalSketch.diff(withPrefilter).take(5)}")
  }

  test("hammingWide counts differing sketch bits") {
    import graft.functions.VectorFunctions
    val df = Seq((Array(0L, -1L), Array(0L, 0L)), (Array(5L, 8L), Array(1L, 8L)))
      .toDF("a", "b")
    val got = df.select(VectorFunctions.hammingWide(col("a"), col("b"), 2)).as[Long].collect()
    assert(got.toSeq == Seq(64L, 1L))
  }

  test("connectedComponents throws instead of returning unconverged labels") {
    // a 200-node path cannot converge in 2 rounds of pointer doubling
    val chain = (1L to 200L).sliding(2).map(s => (s(0), s(1))).toSeq
      .toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponentsFast(chain, maxIter = 2).collect()
    }
    assert(e.getMessage.contains("did not converge"))
    // and with the default rounds the same graph resolves to one component
    val ok = Dedup.connectedComponentsFast(chain)
      .select("component").distinct().collect()
    assert(ok.map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("exactness-tuned MinHash layout equals brute-force token jaccard (q49 contract)") {
    val docs = graft.sources.Tables.documents(spark, sf001).filter(col("doc_id") < 300)
    val brute = Dedup.tokenJaccardPairs(docs, "doc_id", "text", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val lsh = Dedup.minHashNearDup(docs, "doc_id", "text",
      threshold = 0.9, shingleK = 1, bands = 16, rowsPerBand = 3, estMargin = 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(lsh == brute, s"missed=${brute.diff(lsh).take(5)} extra=${lsh.diff(brute).take(5)}")
    assert(brute.nonEmpty)
  }

  test("embedding index layout guard rejects same-word-count width mismatch (450 vs 512)") {
    // 450 and 512 bits both occupy 8 longs, so the legacy word-count guard
    // passed and hammingWide then compared real bits against zero-padded
    // tail bits, inflating distances and silently dropping true pairs —
    // the exact `__nbits` check must fail loud instead.
    val emb = graft.sources.Tables.embeddings(spark, sf001).filter(col("vec_id") < 50)
    val idx450 = Dedup.embeddingIndex(emb, "vec_id", "embedding", dim = 64,
      prefilterBits = 450)
    val e = intercept[IllegalArgumentException] {
      Dedup.embeddingNearDupAgainst(idx450, emb.limit(5), "vec_id", "embedding",
        threshold = 0.9, dim = 64, planes = 8, bands = 4, prefilterBits = 512)
        .collect()
    }
    assert(e.getMessage.contains("prefilterBits=450"))
    // matched layout passes the guard and runs
    val idx512 = Dedup.embeddingIndex(emb, "vec_id", "embedding", dim = 64,
      prefilterBits = 512)
    Dedup.embeddingNearDupAgainst(idx512, emb.limit(5), "vec_id", "embedding",
      threshold = 0.9, dim = 64, planes = 8, bands = 4, prefilterBits = 512).collect()
  }

  test("incremental near-dup equals the new×corpus restriction of the full pair set") {
    val all = graft.sources.Tables.documents(spark, sf001).filter(col("doc_id") < 300)
    val isNew = (id: Long) => id % 25 == 0
    val full = Dedup.minHashNearDup(all, "doc_id", "text",
      threshold = 0.9, shingleK = 1, bands = 16, rowsPerBand = 3, estMargin = 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // full emits id_a < id_b once; incremental emits (new, corpus) pairs
    val expected = full.flatMap { case (a, b, j) =>
      Seq((a, b, j), (b, a, j)).collect { case (x, y, jj) if isNew(x) && !isNew(y) => (x, y, jj) }
    }.toSet
    val corpusSig = Dedup.minHashSignatures(
      all.filter(col("doc_id") % 25 =!= 0), "doc_id", "text", shingleK = 1, numHashes = 48)
    val inc = Dedup.minHashNearDupAgainst(corpusSig,
      all.filter(col("doc_id") % 25 === 0), "doc_id", "text",
      threshold = 0.9, shingleK = 1, bands = 16, rowsPerBand = 3, estMargin = 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(inc == expected,
      s"missed=${expected.diff(inc).take(5)} extra=${inc.diff(expected).take(5)}")
    assert(inc.nonEmpty, "vacuous fixture: no new×corpus near-dup pairs")
  }

  test("decontaminateExact drops exact normalized matches only") {
    val train = docs(
      1L -> "The Quick  Brown Fox",   // normalizes to eval doc
      2L -> "something unrelated here",
      3L -> "another training doc")
    val eval = docs(100L -> "the quick brown fox", 101L -> "benchmark prompt two")
    val kept = Dedup.decontaminateExact(train, eval, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L))
  }

  test("decontaminateNear drops near-duplicates of eval docs above the threshold") {
    val train = docs(
      1L -> "a b c d e f g h i j",      // 9/11 jaccard vs eval 100
      2L -> "a b c d e f g h i j",      // same — both must go
      3L -> "z y x w v u t s r q")      // unrelated
    val eval = docs(100L -> "a b c d e f g h i k")
    val kept = Dedup.decontaminateNear(train, eval, "doc_id", "text", threshold = 0.7)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(3L))
    // below-threshold docs survive
    val keptStrict = Dedup.decontaminateNear(train, eval, "doc_id", "text", threshold = 0.95)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptStrict == Set(1L, 2L, 3L))
  }

  test("native minhash signature is bit-identical to the HOF form") {
    import graft.functions.TextFunctions
    val sh = graft.sources.Tables.documents(spark, sf001).limit(100)
      .select(col("doc_id"),
        TextFunctions.shingleHashesFromTokenHashes(
          TextFunctions.tokenHashes(TextFunctions.tokens(col("text"))), 3).alias("sh"))
    val both = sh.select(
      TextFunctions.minHashSignature(col("sh"), 32).alias("native"),
      TextFunctions.minHashSignatureHof(col("sh"), 32).alias("hof")).collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(r.getSeq[java.lang.Long](0) == r.getSeq[java.lang.Long](1))
    }
  }

  test("ngramJaccardPairs is order-sensitive where token jaccard is not") {
    val docs = Seq(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "the quick brown fox jumps over the lazy dog",  // identical
      3L -> "dog lazy the over jumps fox brown quick the"   // same tokens, reversed
    ).toDF("doc_id", "text")
    val tok = Dedup.tokenJaccardPairs(docs, "doc_id", "text", 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ngram = Dedup.ngramJaccardPairs(docs, "doc_id", "text", k = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(tok == Set((1L, 2L), (1L, 3L), (2L, 3L))) // token sets identical
    assert(ngram == Set((1L, 2L)))                   // only the true duplicate survives
  }

  test("connectedComponentsFast collapses a long chain in O(log d) rounds") {
    // a 200-node path has diameter 199: one-hop propagation would need
    // ~199 rounds; pointer doubling must finish within 16
    val chain = (1L to 200L).sliding(2).map(s => (s(0), s(1))).toSeq
      .toDF("id_a", "id_b")
    val out = Dedup.connectedComponentsFast(chain, maxIter = 16)
    assert(out.select("component").distinct().collect().map(_.getLong(0)).toSeq == Seq(1L))
    assert(out.count() == 200)
  }

  test("connectedComponentsFast equals a driver-side union-find on mixed and random graphs") {
    // (id, min id of its component) for every id that has a pair
    def unionFind(pairs: Seq[(Long, Long)]): Set[(Long, Long)] = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = { val p = parent.getOrElseUpdate(x, x); if (p == x) x else find(p) }
      pairs.foreach { case (a, b) => val (ra, rb) = (find(a), find(b)); parent(ra max rb) = ra min rb }
      parent.keys.map(x => x -> find(x)).toSet
    }
    val mixed = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L)) // chain, triangle, pair
    // seeded random forest over shuffled ids: a node hangs off one of the last 4 placed, or starts a tree
    val rnd = new scala.util.Random(16)
    val ids = rnd.shuffle((1L to 300L).toVector)
    val forest = (1 until 300).filter(_ => rnd.nextDouble() < 0.9)
      .map(i => (ids(i - 1 - rnd.nextInt(i min 4)), ids(i)))
    // the forest gets maxIter 32: with ids shuffled along its paths (diameter 19) it takes 17-20 rounds
    for ((pairs, maxIter) <- Seq(mixed -> 16, forest -> 32)) {
      val got = Dedup.connectedComponentsFast(pairs.toDF("id_a", "id_b"), maxIter).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == unionFind(pairs))
    }
  }

  test("resolveNearDupClustersExact equals clustering over brute-force pairs") {
    val df = graft.sources.Tables.documents(spark, sf001)
      .filter(col("doc_id") < 500)
    val viaLsh = Dedup.resolveNearDupClustersExact(df, "doc_id", "text", threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val bruteForce = Dedup.connectedComponentsFast(
        Dedup.tokenJaccardPairs(df, "doc_id", "text", threshold = 0.9))
      .select(col("id"), col("component"), (col("id") === col("component")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(viaLsh == bruteForce)
    assert(viaLsh.nonEmpty)
  }

  test("leakageSafeSplit never separates near-duplicates and covers every doc") {
    val df = graft.sources.Tables.documents(spark, sf001)
      .filter(col("doc_id") < 500)
    val out = Dedup.leakageSafeSplit(df, "doc_id", "text",
      splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), threshold = 0.9)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    // total function: one assignment per input doc, names from the recipe
    assert(out.size == df.count())
    assert(out.values.map(_._2).toSet.subsetOf(Set("train", "val", "test")))
    // the leakage property: every brute-force near-dup pair shares a split
    val pairs = Dedup.tokenJaccardPairs(df, "doc_id", "text", threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(out(a)._2 == out(b)._2, s"pair ($a,$b) straddles a split")
      assert(out(a)._1 == out(b)._1, s"pair ($a,$b) got different reps")
    }
    // the draw is cluster-level: singletons rep themselves, and the split
    // fractions land near the recipe on ~hundreds of clusters
    val clustered = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    out.foreach { case (id, (rep, _)) =>
      if (!clustered.contains(id)) assert(rep == id, s"singleton $id rep $rep")
    }
    val trainShare = out.values.count(_._2 == "train").toDouble / out.size
    assert(trainShare > 0.65 && trainShare < 0.95, s"train share $trainShare")
  }

  test("decontaminateBloom equals decontaminateExact at any fpp") {
    val all = graft.sources.Tables.documents(spark, sf001)
    val evalSet = all.filter(col("doc_id") % 23 === 0)
    val exact = Dedup.decontaminateExact(all, evalSet, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // high fpp forces many false positives through the bloom — the exact
    // verify must strip every one of them
    for (fpp <- Seq(0.5, 0.01)) {
      val viaBloom = Dedup.decontaminateBloom(all, evalSet, "doc_id", "text", fpp)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(viaBloom == exact, s"fpp=$fpp")
    }
    assert(exact.nonEmpty && exact.size < all.count())
  }

  test("minHashNearDup releases its signature cache (no persist leak)") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    Dedup.minHashNearDup(docs(
      1L -> "a b c d e f g h i j k l m n o p",
      2L -> "a b c d e f g h i j k l m n o q",
      3L -> "z y x w v u t s r q p o n m l k"), "doc_id", "text").collect()
    val leaked = sc.getPersistentRDDs.keySet.diff(before)
    // only the localCheckpoint blocks of the (small) returned result may
    // remain — the wide signature cache must be gone
    assert(leaked.size <= 2, s"leaked persistent RDDs: $leaked")
  }

  test("embeddingNearDupAgainst equals the full self-join restricted to batch-corpus pairs") {
    val emb = graft.sources.Tables.embeddings(spark, sf001)
    val batchIds = emb.filter(col("vec_id") % 7 === 0)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // full-set banded run (same seed-fixed hyperplanes → same band keys)
    val full = Dedup.embeddingNearDup(emb, "vec_id", "embedding",
        threshold = 0.3, dim = 64, planes = 4, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val cross = full.flatMap { case (a, b, c) =>
      if (batchIds(a) != batchIds(b)) { // exactly one side in the batch
        val (n, corp) = if (batchIds(a)) (a, b) else (b, a)
        Some((n, corp, c))
      } else None
    }
    val corpusIdx = Dedup.embeddingIndex(
      emb.filter(col("vec_id") % 7 =!= 0), "vec_id", "embedding", dim = 64)
    val incr = Dedup.embeddingNearDupAgainst(corpusIdx,
        emb.filter(col("vec_id") % 7 === 0), "vec_id", "embedding",
        threshold = 0.3, dim = 64, planes = 4, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(incr == cross,
      s"incremental diverged (missing=${(cross -- incr).size}, extra=${(incr -- cross).size})")
  }

  test("bandKeyCols slices multi-word band keys bit-exactly (LSB-first, word-crossing)") {
    // planes=17 puts band boundaries at every offset mod 64 (17 and 64 are
    // coprime), exercising both the single-word and the word-crossing
    // branch; the reference extracts bit by bit, independent of the
    // shift/or formula under test.
    val emb = graft.sources.Tables.embeddings(spark, sf001)
    val idx = Dedup.embeddingIndex(emb, "vec_id", "embedding", dim = 64,
      prefilterBits = 512)
    val planes = 17
    val bands = 20 // 340 bits, crosses five word boundaries
    val rows = idx.select(col("__id"),
        array(Dedup.bandKeyCols(col("__ws"), planes, bands): _*).alias("__keys"),
        col("__ws"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val ws = r.getSeq[Long](2)
      val keys = r.getSeq[Long](1)
      def bit(i: Int): Long = (ws(i / 64) >>> (i % 64)) & 1L
      (0 until bands).foreach { b =>
        val ref = (0 until planes).map(j => bit(b * planes + j) << j)
          .foldLeft(0L)(_ | _)
        assert(keys(b) == ref,
          s"id=${r.getLong(0)} band=$b: got ${keys(b)}, reference $ref")
      }
    }
  }

  test("corpus-sized layout collapses band-join candidates on a clustered corpus " +
      "at preserved recall") {
    // A clustered corpus at a REALISTIC near-dup cosine (~0.96): 400
    // clusters x 10 members, members = cluster base + deterministic
    // hash-noise. The legacy 64-bit auto layout cannot hold recall 0.9 at
    // threshold 0.9 and falls back to (4, 8), where a random cross-cluster
    // pair collides with probability ~8/2^4 = 0.5 — candidates ~ n²/2. The
    // corpus-sized layout spends the prefilter sketch's bits on selective
    // multi-word keys. Candidate counts are computed exactly from the
    // banding expressions (sum of C(k, 2) over buckets); both operators
    // must still find every within-cluster pair.
    val n = 4000
    val nClusters = 400
    val vecs = spark.range(n).select(col("id").alias("vec_id"),
      transform(sequence(lit(0), lit(63)), j =>
        ((pmod(xxhash64(pmod(col("id"), lit(nClusters)), j), lit(2000)) - 1000)
          .cast("float") / 1000.0f) +
        ((pmod(xxhash64(col("id"), j, lit(777)), lit(2000)) - 1000)
          .cast("float") / 5000.0f)).alias("embedding"))
    val threshold = 0.9

    def candidateCount(planes: Int, bands: Int): Long = {
      val idx = Dedup.embeddingIndex(vecs, "vec_id", "embedding", dim = 64,
        prefilterBits = math.max(512, planes * bands))
      idx.select(posexplode(array(
          Dedup.bandKeyCols(col("__ws"), planes, bands): _*))
          .as(Seq("__band", "__key")))
        .groupBy(col("__band"), col("__key")).agg(count(lit(1)).alias("k"))
        .agg(sum(col("k") * (col("k") - 1)).cast("long")).head().getLong(0) / 2
    }
    val legacy = graft.ops.LshParams.hyperplane(threshold)
    val scaled = graft.ops.LshParams.hyperplaneForCorpus(threshold, n)
    assert(scaled._1 > 8, s"corpus-sized layout not selective: $scaled")
    val legacyCand = candidateCount(legacy._1, legacy._2)
    val scaledCand = candidateCount(scaled._1, scaled._2)
    assert(scaledCand < legacyCand / 10,
      s"scaled layout $scaled candidates $scaledCand not << legacy $legacy\'s $legacyCand")

    // Ground truth is constructed: within-cluster pairs sit at cosine
    // ~0.96 (>= threshold), cross-cluster pairs at the random 64-dim
    // background (|cos| < ~0.6). Both layouts are APPROXIMATE with
    // different miss sets, so the contract is per-operator: no false
    // positives (exact-cosine verify) and recall against the truth — the
    // scaled layout S-curve is designed for recall 0.9 AT the
    // threshold, and the true pairs sit above it.
    val truth = (for {
      c <- 0 until nClusters
      m1 <- 0 until n / nClusters
      m2 <- m1 + 1 until n / nClusters
    } yield (c + m1 * nClusters.toLong, c + m2 * nClusters.toLong)).toSet
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val auto = pairs(Dedup.embeddingNearDupAuto(vecs, "vec_id", "embedding",
      threshold, dim = 64))
    val sized = pairs(Dedup.embeddingNearDupScaled(vecs, "vec_id", "embedding",
      threshold, dim = 64, corpusSize = n))
    assert(auto.subsetOf(truth), s"auto false positives: ${(auto -- truth).take(5)}")
    assert(sized.subsetOf(truth), s"sized false positives: ${(sized -- truth).take(5)}")
    assert(auto.size.toDouble / truth.size >= 0.95,
      s"auto recall ${auto.size}/${truth.size}")
    assert(sized.size.toDouble / truth.size >= 0.95,
      s"sized recall ${sized.size}/${truth.size}")
  }

  test("jaccardJoinPrefix survives the FP integer-boundary prefix length (n*t rounds up)") {
    // 0.07 * 100 = 7.000000000000001 in IEEE doubles: without the epsilon
    // guard inside ceil(), B's required-overlap bound rounds 7 -> 8, the
    // prefix shrinks by one slot, and this exactly-at-threshold pair is
    // silently dropped. Construction: A = 7 shared tokens (J = 7/100 =
    // 0.07 = t exactly); B = 93 unique tokens + the 7 shared. Ascending
    // document frequency puts B's 93 df-1 uniques ahead of the df-2
    // shared tokens, so the FIRST shared token sits at prefix position 94
    // = |B| - ceil(7) + 1 — the last slot of the correct prefix, one past
    // the buggy one.
    import spark.implicits._
    val shared = (1 to 7).map(i => f"shared$i%02d")
    val a = shared.mkString(" ")
    val b = ((1 to 93).map(i => f"uniq$i%02d") ++ shared).mkString(" ")
    val df = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val got = Dedup.jaccardJoinPrefix(df, "doc_id", "text", threshold = 0.07).collect()
    assert(got.length == 1, s"exactly-at-threshold pair lost: ${got.mkString(",")}")
    assert(got.head.getLong(0) == 1L && got.head.getLong(1) == 2L)
    assert(math.abs(got.head.getDouble(2) - 0.07) < 1e-9)
  }

  test("jaccardJoinPrefix equals the brute-force join at every threshold") {
    val docs = graft.sources.Tables.documents(spark, sf001)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // completeness is threshold-dependent (the prefix shrinks as t
    // grows) — prove equality at a loose AND a tight threshold
    Seq(0.5, 0.9).foreach { t =>
      val brute = pairs(Dedup.tokenJaccardPairs(docs, "doc_id", "text", t))
      val prefix = pairs(Dedup.jaccardJoinPrefix(docs, "doc_id", "text", t))
      assert(prefix == brute,
        s"t=$t: prefix join diverged from brute force " +
          s"(missing=${(brute -- prefix).size}, extra=${(prefix -- brute).size})")
    }
  }

  // ---- within-corpus exact substring dedup (Lee et al. ExactSubstr) ----

  private val sharedRun = (1 to 10).map(i => s"s$i").mkString(" ")

  test("dedupLinesKeepFirst keeps only the corpus-first occurrence of each line") {
    // lineTokens=2: doc1 = [a b][c d], doc2 = [a b][x y], doc3 = [c d][c d],
    // doc4 = [p q][r] (ragged tail forms its own line)
    val df = Seq(
      (1L, "a b c d"), (2L, "a b x y"), (3L, "c d c d"), (4L, "p q r"))
      .toDF("doc_id", "text")
    val out = Dedup.dedupLinesKeepFirst(df, "doc_id", "text", lineTokens = 2)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getString(1) == "a b c d") // first occurrences of both
    assert(out(1L).getLong(2) == 2L && out(1L).getLong(3) == 0L)
    assert(out(2L).getString(1) == "x y")     // "a b" lost to doc 1
    assert(out(2L).getLong(2) == 1L && out(2L).getLong(3) == 1L)
    // both "c d" lines lose: one to doc 1, the within-doc repeat to itself
    assert(out(3L).getString(1) == "" && out(3L).getLong(3) == 2L)
    assert(out(4L).getString(1) == "p q r" && out(4L).getLong(2) == 2L)
  }

  test("exactSubstringSpans finds a planted cross-doc substring at exact positions") {
    val df = docs(
      1L -> s"a1 a2 a3 $sharedRun a4 a5",   // run at tokens 3..12
      2L -> s"b1 $sharedRun b2 b3 b4",      // run at tokens 1..10
      3L -> "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10 c11 c12")
    val spans = Dedup.exactSubstringSpans(df, "doc_id", "text", k = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // every 8-gram fully inside the 10-token run is shared; the boundary
    // grams mix doc-local context and stay unique — the merged span is
    // exactly the planted run in each doc
    assert(spans == Set((1L, 3L, 12L, 10L), (2L, 1L, 10L, 10L)))
  }

  test("exactSubstringSpans merges adjacent shared runs into one span") {
    val r1 = (1 to 8).map(i => s"r$i").mkString(" ")
    val r2 = (1 to 8).map(i => s"q$i").mkString(" ")
    val df = docs(
      1L -> s"$r1 $r2",           // R1 at 0..7, R2 at 8..15, back to back
      2L -> s"x1 x2 $r1 x3",      // shares R1 only
      3L -> s"y1 $r2 y2 y3")      // shares R2 only
    val spans = Dedup.exactSubstringSpans(df, "doc_id", "text", k = 8)
      .filter(col("doc_id") === 1L)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    // hits [0,7] and [8,15] touch (8 = 7+1): one contiguous removed block
    assert(spans == Set((0L, 15L)))
  }

  test("exactSubstringSpans ignores repetition that stays inside one document") {
    val run = (1 to 9).map(i => s"w$i").mkString(" ")
    val df = docs(
      1L -> s"$run z1 z2 $run",   // same 9-token run twice, one doc only
      2L -> "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10")
    assert(Dedup.exactSubstringSpans(df, "doc_id", "text", k = 8).count() == 0)
  }

  test("exactSubstringSpans maxGramDocFreq cap drops boilerplate grams (documented under-dedup)") {
    val df = docs(
      1L -> s"a0 $sharedRun",
      2L -> s"b0 $sharedRun",
      3L -> s"c0 $sharedRun",
      4L -> "d1 d2 d3 d4 d5 d6 d7 d8 d9")
    val uncapped = Dedup.exactSubstringSpans(df, "doc_id", "text", k = 8)
    assert(uncapped.count() == 3) // run shared by docs 1-3 → one span each
    val capped = Dedup.exactSubstringSpans(df, "doc_id", "text", k = 8,
      maxGramDocFreq = Some(2))
    assert(capped.count() == 0)   // df=3 grams excluded by the cap
    val cap3 = Dedup.exactSubstringSpans(df, "doc_id", "text", k = 8,
      maxGramDocFreq = Some(3))
    assert(cap3.count() == 3)     // cap at the actual df keeps them
  }

  test("exactSubstringSpansKeep(keepFirst) leaves one canonical copy per duplicated run") {
    val df = docs(
      5L -> s"a1 a2 $sharedRun a3",     // earliest holder of every shared gram
      7L -> s"b1 $sharedRun b2 b3",
      9L -> s"$sharedRun c1 c2 c3")
    val spans = Dedup.exactSubstringSpansKeep(df, "doc_id", "text", k = 8,
        keepFirst = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // doc 5 (min id) keeps its copy untouched; docs 7 and 9 lose theirs
    assert(spans == Set((7L, 1L, 10L), (9L, 0L, 9L)))
    // remove-everywhere marks all three
    val all = Dedup.exactSubstringSpansKeep(df, "doc_id", "text", k = 8,
        keepFirst = false)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(all == Set((5L, 2L, 11L), (7L, 1L, 10L), (9L, 0L, 9L)))
  }

  test("exactSubstringDedup removes exactly the span tokens and accounts for them") {
    val df = docs(
      1L -> s"A1 a2 a3 $sharedRun a4 a5",  // mixed case: tokens() lowercases
      2L -> s"b1 $sharedRun b2 b3 b4",
      3L -> "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10 c11 c12")
    val out = Dedup.exactSubstringDedup(df, "doc_id", "text", k = 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(out(1L) == ((15L, 1L, 10L, "a1 a2 a3 a4 a5")))
    assert(out(2L) == ((14L, 1L, 10L, "b1 b2 b3 b4")))
    assert(out(3L) == ((12L, 0L, 0L, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10 c11 c12")))
  }

  test("semDedup keeps the LOW-centroid-similarity member of a duplicate pair") {
    // seeds 10 (≈e0) and 20 (≈e1). id 1 is a near-copy of seed 10
    // (cos ≈ 0.9998 ≥ 0.99) but sits slightly OFF the centroid, so the
    // paper's diversity rule keeps id 1 and drops the centroid-hugging
    // seed 10. id 2 shares the cluster below threshold; cluster B's pair
    // (20, 3) is below threshold entirely; id 5 ties between both seeds
    // (cos = √2/2 to each) and must land in the LOWEST centroid id.
    val df = Seq(
      10L -> Seq(1.0f, 0.0f, 0.0f, 0.0f),
      20L -> Seq(0.0f, 1.0f, 0.0f, 0.0f),
      1L -> Seq(1.0f, 0.02f, 0.0f, 0.0f),
      2L -> Seq(0.9f, 0.35f, 0.0f, 0.0f),
      3L -> Seq(0.0f, 1.0f, 0.25f, 0.0f),
      5L -> Seq(1.0f, 1.0f, 0.0f, 0.0f)
    ).toDF("vec_id", "embedding")
    val out = Dedup.semDedup(df, "vec_id", "embedding", Seq(10L, 20L), 0.99)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(3)))).toMap
    assert(out(10L) == ((10L, false)), "centroid-hugging near-copy must drop")
    assert(out(1L) == ((10L, true)), "the diverse member of the pair survives")
    assert(out(2L) == ((10L, true)))
    assert(out(20L) == ((20L, true)))
    assert(out(3L) == ((20L, true)))
    assert(out(5L) == ((10L, true)), "seed-cosine tie must break to the lowest centroid id")
  }

  test("semDedup never drops across cluster boundaries") {
    // ids 3 and 4 are near-copies (cos ≈ 0.9973 ≥ 0.99) but straddle the
    // cluster boundary — 3 assigns to seed 1 (cos 0.97523 vs 0.97412),
    // 4 to seed 2 (0.98805 vs 0.95643). SemDeDup by design only prunes
    // within a cluster, so BOTH survive; the within-cluster pairs
    // (3 vs seed 1 at 0.9752, 4 vs seed 2 at 0.98805) sit below the
    // threshold. This pins the algorithm's deliberate blind spot — the
    // reason the paper's recall depends on cluster quality.
    val df = Seq(
      1L -> Seq(1.0f, 0.0f),
      2L -> Seq(0.9f, 0.43589f),
      3L -> Seq(0.97f, 0.22f),
      4L -> Seq(0.95f, 0.29f)
    ).toDF("vec_id", "embedding")
    val out = Dedup.semDedup(df, "vec_id", "embedding", Seq(1L, 2L), 0.99)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(3)))).toMap
    assert(out(3L) == ((1L, true)) && out(4L) == ((2L, true)),
      s"cross-cluster near-dups must both survive: $out")
    assert(out(1L) == ((1L, true)) && out(2L) == ((2L, true)))
  }
}
