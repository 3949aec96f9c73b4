package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent result signature, the benchmark's form of the
  * oracle gate's row-hash rules: columns in name order, rows as a
  * multiset, `-0.0` equal to `0.0`, and column types that must agree with
  * the oracle's up to decimal precision.
  */
object Canon {

  private def columns(df: DataFrame): Seq[Column] = df.columns.sorted.toSeq.map { c =>
    val cc = col(s"`$c`")
    df.schema(c).dataType match {
      case t @ (DoubleType | FloatType) => when(cc === 0, lit(0.0).cast(t)).otherwise(cc)
      case _ => cc
    }
  }

  private def aggs(df: DataFrame): Seq[Column] = {
    val cs = columns(df)
    Seq(count(lit(1)).as("n"),
      sum(xxhash64(cs: _*).cast(DecimalType(38, 0))).as("h1"),
      sum(hash(cs: _*).cast(DecimalType(38, 0))).as("h2"))
  }

  private def render(n: Any, h1: Any, h2: Any): String = s"$n/$h1/$h2"

  /** `df` with its signature observed on whatever action consumes it. */
  def observe(df: DataFrame, name: String): (DataFrame, Observation) = {
    val obs = Observation(name)
    val a = aggs(df)
    (df.observe(obs, a.head, a.tail: _*), obs)
  }

  def of(obs: Observation): String = {
    val m = obs.get
    render(m("n"), m("h1"), m("h2"))
  }

  def of(df: DataFrame): String = {
    val r = df.agg(aggs(df).head, aggs(df).tail: _*).head()
    render(r.get(0), r.get(1), r.get(2))
  }

  private def family(t: DataType): String = t match {
    case _: DecimalType => "decimal"
    case _: ArrayType | _: MapType | _: StructType => t.simpleString
    case other => other.typeName
  }

  /** Signature of an oracle answer read from parquet, cast to the Spark
    * result's schema. Left = why it cannot be compared.
    */
  def ofOracle(spark: SparkSession, path: String, expect: StructType): Either[String, String] = {
    val o = spark.read.parquet(path)
    val (got, want) = (o.columns.sorted.toSeq, expect.fieldNames.sorted.toSeq)
    if (got != want) Left(s"columns: oracle=$got spark=$want")
    else {
      val bad = expect.fields.filter(f => family(o.schema(f.name).dataType) != family(f.dataType) &&
        !(family(f.dataType) == "decimal" && family(o.schema(f.name).dataType) == "decimal"))
        .map(f => s"${f.name}: oracle=${o.schema(f.name).dataType} spark=${f.dataType}")
      if (bad.nonEmpty) Left("dtype parity: " + bad.mkString("; "))
      else Right(of(o.select(expect.fields.toSeq.map(f => col(s"`${f.name}`").cast(f.dataType).as(f.name)): _*)))
    }
  }
}
