package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, one session). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf001 = "/root/testdata/sf0.001"
  val sf01 = "/root/testdata/sf0.01"
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.builder(4).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Generated classes compiled, JVM-wide, while `body` runs. */
  def classesCompiled(body: => Any): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }
}
