package graft

import java.sql.Date

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.functions.BoundLiteral
import graft.ops.Serving
import graft.sources.Tables

class ServingSpec extends SparkSpec {
  import spark.implicits._

  /** 300 rows over 3 files: unique `k`, `d` null on every 7th row, 40 dates. */
  private lazy val (table, all): (DataFrame, Seq[Row]) = {
    val dir = java.nio.file.Files.createTempDirectory("serving").toString
    (0 until 300).map { i =>
      (i * 3L, if (i % 7 == 0) None else Some(i * 0.5), Date.valueOf(java.time.LocalDate.of(2026, 1, 1).plusDays(i % 40)))
    }.toDF("k", "d", "dt").repartition(3).write.parquet(s"$dir/t")
    val t = Tables.parquet(spark, s"$dir/t")
    (t, t.collect().toSeq)
  }

  private def key(r: Row) = r.getAs[Long]("k")
  private def d(r: Row) = Option(r.getAs[java.lang.Double]("d")).map(_.doubleValue)
  private def sorted(rows: Seq[Row]) = rows.sortBy(key)

  /** Each serving op with the Scala-side answer and four keys of one type:
    * the answer is checked on the first two, compiling on the last two
    * (the JVM-wide class cache would already hold a class for the first two).
    */
  private val ops: Seq[(String, Any => DataFrame, Any => Seq[Row], Seq[Any])] = Seq(
    ("pointLookup Long", v => Serving.pointLookup(table, "k", v),
      v => all.filter(key(_) == v), Seq(42L, 453L, 99L, 612L)),
    ("pointLookup Double", v => Serving.pointLookup(table, "d", v),
      v => all.filter(d(_).contains(v)), Seq(2.5, 71.0, 4.0, 100.5)),
    ("pointLookup Date", v => Serving.pointLookup(table, "dt", v),
      v => all.filter(_.getAs[Date]("dt") == v),
      Seq("2026-01-05", "2026-02-03", "2026-01-20", "2026-01-31").map(Date.valueOf)),
    ("rangeFilterNullTolerant", { case (lo: Double, hi: Double) =>
        Serving.rangeFilterNullTolerant(table, Seq(("d", Some(lo), Some(hi)))) },
      { case (lo: Double, hi: Double) => all.filter(r => d(r).forall(x => x >= lo && x <= hi)) },
      Seq((10.0, 20.0), (33.5, 90.0), (1.5, 7.5), (60.0, 61.0))),
    ("paginate", v => Serving.paginate(table, Seq(col("k")), v.asInstanceOf[Int], 20),
      v => sorted(all).slice(v.asInstanceOf[Int], v.asInstanceOf[Int] + 20), Seq(100, 285, 3, 150)))

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("serving ops return the Scala-side answer, with codegen on and off") {
    for (codegen <- Seq(true, false)) {
      val conf = if (codegen) Nil else Seq(
        "spark.sql.codegen.wholeStage" -> "false", "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
      withConf(conf: _*) {
        for ((name, op, expected, keys) <- ops; v <- keys.take(2)) {
          val got = op(v).collect().toSeq
          val want = expected(v)
          assert(want.nonEmpty, s"$name($v) selects nothing: a vacuous check")
          val inOrder = name == "paginate"
          assert((if (inOrder) got else sorted(got)) == (if (inOrder) want else sorted(want)),
            s"$name($v), codegen=$codegen")
        }
      }
    }
  }

  test("a second key compiles no generated class") {
    for ((name, op, _, keys) <- ops) {
      val first = SparkSpec.classesCompiled(op(keys(2)).collect())
      val second = SparkSpec.classesCompiled(op(keys(3)).collect())
      assert(second == 0, s"$name: a new key compiled $second classes (the first key: $first)")
    }
  }

  test("the scan keeps the literal for pushdown, and explain still shows it") {
    for ((col, v, pushed, shown) <- Seq(
        ("k", 42L, "EqualTo(k,42)", """k#\d+L = 42\)"""),
        ("d", 2.5, "EqualTo(d,2.5)", """d#\d+ = 2\.5\)"""),
        ("dt", Date.valueOf("2026-01-05"), "EqualTo(dt,2026-01-05)", """dt#\d+ = 2026-01-05\)"""))) {
      val df = Serving.pointLookup(table, col, v)
      df.collect()
      val plan = df.queryExecution.executedPlan
      assert(plan.collectFirst { case f: org.apache.spark.sql.execution.FilterExec => f.condition }
        .exists(_.exists(_.isInstanceOf[BoundLiteral])), s"no bound literal in\n$plan")
      val scan = plan.collectFirst { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }.get
      assert(scan.metadata("PushedFilters").contains(pushed), scan.metadata("PushedFilters"))
      assert(!scan.dataFilters.exists(_.exists(_.isInstanceOf[BoundLiteral])))
      assert(shown.r.findFirstIn(plan.toString).isDefined, s"$shown not in\n$plan")
    }
  }

  test("a self-union of a filtered aggregate still reuses its exchange") {
    for (aqe <- Seq("true", "false")) withConf("spark.sql.adaptive.enabled" -> aqe) {
      val agg = table.filter(col("d") > 12.5).groupBy(col("dt")).agg(count(lit(1)).as("n"))
      val u = agg.union(agg)
      assert(u.collect().length == 2 * agg.collect().length)
      val plan = u.queryExecution.executedPlan.toString
      assert(plan.contains("ReusedExchange"), s"aqe=$aqe, no reused exchange:\n$plan")
    }
  }
}
