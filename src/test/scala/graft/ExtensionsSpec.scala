package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.BindComparisonLiterals

/** `spark.sql.extensions`-style installation: a session built with
  * [[GraftExtensions]] exposes the native expressions to pure-SQL users.
  * Runs in its own JVM (build.sbt testGrouping) because extensions apply
  * only at session creation and the shared test session predates them.
  */
class ExtensionsSpec extends AnyFunSuite {

  test("GraftExtensions makes simhash64 / hyperplane_sketch / top_k_pairs SQL-callable") {
    val spark = GraftSession.builder(4)
      .appName("graft-ext")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      spark.sparkContext.setLogLevel("ERROR")

      val sim = spark.sql("SELECT simhash64(array('a', 'b')) AS h").head().getLong(0)
      assert(sim != 0L)

      // SQL and Scala callers must agree bit-for-bit (same seeded planes)
      val sketchSql = spark.sql(
        """SELECT hyperplane_sketch(array(CAST(0.5 AS DOUBLE), -1.5, 2.0), 42, 128, 3) AS s"""
      ).head().getSeq[Long](0)
      import org.apache.spark.sql.functions._
      import spark.implicits._
      val sketchScala = Seq(Seq(0.5, -1.5, 2.0)).toDF("v")
        .select(graft.functions.VectorFunctions.hyperplaneSketchWide(
          col("v"), graft.ops.Hyperplanes.generate(42L, 128, 3)).alias("s"))
        .head().getSeq[Long](0)
      assert(sketchSql == sketchScala)
      assert(sketchSql.length == 2)

      val top = spark.sql(
        """SELECT g, top_k_pairs(id, s, 2) AS top FROM VALUES
          |  (1, 10L, 0.3), (1, 11L, 0.9), (1, 12L, 0.9), (1, 13L, 0.1)
          |  AS t(g, id, s)
          |GROUP BY g""".stripMargin)
        .selectExpr("explode(top) AS e").selectExpr("e.neighbor_id", "e.cosine")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(top == Seq((11L, 0.9), (12L, 0.9)))

      // the sketch tier: aggregate -> bytes -> scalar read-back, all SQL.
      // 3 distinct keys < 2^12: theta is in exact mode, estimate is exact
      val thetaEst = spark.sql(
        """SELECT theta_estimate(theta_union(sk, 12)) AS est FROM (
          |  SELECT g, theta_sketch(v, 12) AS sk FROM VALUES
          |    (1, 10L), (1, 11L), (2, 11L), (2, 12L) AS t(g, v)
          |  GROUP BY g)""".stripMargin).head().getDouble(0)
      assert(thetaEst == 3.0)

      val freqTop = spark.sql(
        """SELECT freq_top_items(freq_merge(sk, 64)) AS items FROM (
          |  SELECT g, freq_sketch(t, 64) AS sk FROM VALUES
          |    (1, 'a'), (1, 'a'), (1, 'b'), (2, 'a') AS t(g, t)
          |  GROUP BY g)""".stripMargin)
        .selectExpr("explode(items) AS e").selectExpr("e.item", "e.estimate")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(freqTop == Seq(("a", 3L), ("b", 1L)))

      val kll = spark.sql(
        """SELECT kll_summary(kll_merge(sk, 200), 0.5).n AS n,
          |       kll_summary(kll_merge(sk, 200), 0.5).min_value AS mn FROM (
          |  SELECT g, kll_sketch(CAST(v AS DOUBLE), 200) AS sk FROM VALUES
          |    (1, 1.0), (1, 2.0), (2, 3.0) AS t(g, v)
          |  GROUP BY g)""".stripMargin).head()
      assert(kll.getLong(0) == 3L && kll.getDouble(1) == 1.0)

      val kmv = spark.sql(
        """SELECT kmv_bottom_k(v, 2) AS mins FROM VALUES
          |  (5L), (3L), (9L), (3L) AS t(v)""".stripMargin)
        .head().getSeq[Long](0)
      assert(kmv == Seq(3L, 5L))
    } finally {
      spark.stop()
      org.apache.spark.sql.SparkSession.clearActiveSession()
      org.apache.spark.sql.SparkSession.clearDefaultSession()
    }
  }

  test("GraftExtensions installs the comparison-literal rule; installed twice, a new key compiles nothing") {
    val spark = GraftSession.builder(4)
      .appName("graft-ext")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      spark.sparkContext.setLogLevel("ERROR")
      // once from GraftSession.builder, once from GraftExtensions
      assert(spark.sessionState.columnarRules.count(_ eq BindComparisonLiterals.columnarRule) == 2)

      val dir = java.nio.file.Files.createTempDirectory("ext-bind").toString
      spark.range(200).selectExpr("id AS k", "CAST(id AS DOUBLE) / 2 AS d").write.parquet(s"$dir/t")
      val t = graft.sources.Tables.parquet(spark, s"$dir/t")
      def lookup(k: Long) = t.filter(s"k = $k").collect()
      assert(lookup(17L).map(_.getDouble(1)).toSeq == Seq(8.5))
      val n = SparkSpec.classesCompiled(assert(lookup(123L).map(_.getDouble(1)).toSeq == Seq(61.5)))
      assert(n == 0, s"a new key compiled $n classes")
    } finally {
      spark.stop()
      org.apache.spark.sql.SparkSession.clearActiveSession()
      org.apache.spark.sql.SparkSession.clearDefaultSession()
    }
  }
}
