package graft

import java.security.MessageDigest

import org.apache.spark.sql.functions._

import graft.ops.{Mixing, Sampling}
import graft.sources.Tables

/** [[Mixing]] — deterministic epoch upsampling. The fractional-pass draw
  * is re-derived here through java.security.MessageDigest (no Spark code
  * in the loop), so Spark's md5/concat/cast chain is verified against an
  * independent implementation of the same portable contract.
  */
class MixingSpec extends SparkSpec {

  private def md5hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private def docs = Tables.documents(spark, sf001).select("doc_id")

  /** A one-source recipe: every doc repeated `weight` times. */
  private def upsample(weight: Double) =
    Mixing.mixCorpora(docs.withColumn("source", lit("s")), "source", "doc_id",
      Map("s" -> weight))

  test("integer weight repeats every row exactly w times with distinct pass tags") {
    val n = docs.count()
    val up = upsample(2.0)
    assert(up.count() == 2 * n)
    val irregular = up.groupBy("doc_id")
      .agg(countDistinct("pass").as("p"), count(lit(1)).as("c"))
      .filter(col("p") =!= 2 || col("c") =!= 2).count()
    assert(irregular == 0, "every doc must appear once per pass")
  }

  test("fractional pass keeps exactly the independently-computed md5 draw") {
    val ids = docs.collect().map(_.getLong(0)).toSet
    val t = Sampling.hexThreshold(2.3 - 2)
    val expectPass2 = ids.filter(id => md5hex(s"$id:2:42") < t)
    // non-vacuous: the draw must cut strictly between none and all
    assert(expectPass2.nonEmpty && expectPass2.size < ids.size)

    val up = upsample(2.3)
    val gotPass2 = up.filter(col("pass") === 2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(gotPass2 == expectPass2)
    assert(up.count() == 2L * ids.size + expectPass2.size)
  }

  test("weight below 1 is a pure fractional pass; weight 0 is empty") {
    val half = upsample(0.5)
    assert(half.select("pass").distinct().collect().map(_.getLong(0)).toSeq == Seq(0L))
    val n = docs.count().toDouble
    assert(math.abs(half.count() / n - 0.5) < 0.15, "draw far from its fraction")
    assert(upsample(0.0).count() == 0)
  }

  test("mixture is bit-stable under repartitioning") {
    val tagged = Tables.documents(spark, sf001).select("doc_id", "source")
    val weights = Map("src0" -> 2.3, "src1" -> 0.7)
    def rows(df: org.apache.spark.sql.DataFrame) =
      Mixing.mixCorpora(df, "source", "doc_id", weights)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .sorted.toSeq
    assert(rows(tagged) == rows(tagged.repartition(7)))
  }

  test("sources absent from the recipe (or at weight 0) contribute nothing") {
    val tagged = Tables.documents(spark, sf001).select("doc_id", "source")
    val mixed = Mixing.mixCorpora(tagged, "source", "doc_id",
      Map("src0" -> 1.0, "src1" -> 0.0))
    val sources = mixed.select("source").distinct().collect().map(_.getString(0)).toSet
    assert(sources == Set("src0"))
  }
}
