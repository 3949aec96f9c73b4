package graft

import org.apache.spark.sql.functions._

import graft.ops.Packing
import graft.sources.Tables

/** Invariants of the sequence-prep operators. Chunking (q91) and packing
  * (q92) are oracle-gated; packing's independence of bucket count and
  * partitioning and its overhang bound are pinned here.
  */
class PackingSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  test("chunkDocuments windows cover the token stream with the stride overlap") {
    val df = docs(1L -> (1 to 100).map(i => s"t$i").mkString(" "))
    val chunks = Packing.chunkDocuments(df, "doc_id", "text", maxTokens = 40, stride = 32)
      .orderBy("chunk_ix").collect()
    // 100 tokens, stride 32 → ceil(100/32) = 4 chunks; the tail windows
    // truncate at the stream end (65..100 = 36, 97..100 = 4)
    assert(chunks.length == 4)
    assert(chunks.map(_.getLong(2)).toSeq == Seq(40L, 40L, 36L, 4L))
    // window i starts at token 32*i + 1
    assert(chunks(1).getString(3).startsWith("t33 "))
    assert(chunks(3).getString(3) == "t97 t98 t99 t100")
    // a short doc still yields exactly one chunk
    val short = Packing.chunkDocuments(docs(2L -> "a b"), "doc_id", "text", 40, 32)
    assert(short.count() == 1 && short.head().getLong(2) == 2L)
  }

  test("packConcatSplit matches the global prefix-sum layout at any bucket count") {
    val corpus = Tables.documents(spark, sf001)
    val packed = Packing.packConcatSplit(corpus, "doc_id", "text", budget = 256)
    // reference: single-threaded global prefix sum in id order
    val sizes = packed.orderBy("doc_id")
      .select("doc_id", "n_tokens").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    var cum = 0L
    val expected = sizes.map { case (id, n) =>
      val bin = cum / 256; cum += n; (id, bin)
    }.toMap
    val got = packed.collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(got == expected, "distributed prefix sum diverged from the sequential layout")
    // bin ids must be independent of the bucket parallelism parameter
    // and of the input's physical partitioning
    val alt = Packing.packConcatSplit(corpus.repartition(7), "doc_id", "text",
      budget = 256, buckets = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(alt == got, "bin assignment changed with bucket count/partitioning")
    // concat-split overhang is bounded: a bin holds at most
    // budget + (max doc tokens - 1) tokens
    val maxDoc = sizes.map(_._2).max
    val over = packed.groupBy("bin_id").agg(sum("n_tokens").alias("t"))
      .filter(col("t") >= 256 + maxDoc)
    assert(over.count() == 0)
  }

}
