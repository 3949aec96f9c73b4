package graft

import scala.util.Try

import org.apache.spark.sql.DataFrame

import graft.pipeline.{Bronze, Medallion}
import graft.sources.{Sinks, Tables}
import graft.streaming.StreamingOps

class TablesSpec extends SparkSpec {
  import spark.implicits._

  /** Jobs launched while `build` runs, counted after the listener bus drains. */
  private def jobsDuring[T](build: => T): (T, Long) = {
    val (out, rep) = Measure.metered(spark)(build)
    (out.toTry.get, rep.jobs)
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  test("Tables.parquet resolves the schema spark.read.parquet infers, without a job") {
    val dir = java.nio.file.Files.createTempDirectory("tables-parquet").toString
    val date = Medallion.PartitionDate(2026, 8, 12)
    Bronze.ingestFrame(Tables.region(spark, sf001), s"$dir/bronze", "region", "2026-08-12", "test")
    Medallion.writePartitioned(Tables.nation(spark, sf001), s"$dir/silver", "nation", date)
    // the session's dynamic overwrite commits without a marker; a static
    // commit leaves one at the root, sorting before every data file
    assert(new java.io.File(s"$dir/silver/nation/_SUCCESS").createNewFile())
    // two partitions whose files disagree: non-merging inference takes the
    // first file by path (k=a), though k=b was written first
    Sinks.parquetIntoPartitionDir(Seq((1L, "x", 7)).toDF("id", "v", "extra"), s"$dir/mixed", "t", "k" -> "b")
    Sinks.parquetIntoPartitionDir(Seq((2L, "y")).toDF("id", "v"), s"$dir/mixed", "t", "k" -> "a")
    assert(new java.io.File(s"$dir/mixed/t/k=a/_SUCCESS").exists)

    // falls through to spark.read.parquet: a data column named like a
    // partition column (inference keeps it first), and a streaming sink
    // whose directory holds a file outside its commit log
    Sinks.parquetIntoPartitionDir(Seq(("a", 3L)).toDF("k", "id"), s"$dir/overlap", "t", "k" -> "a")
    val src = s"$dir/stream_src"
    Seq((1L, "a")).toDF("id", "v").write.parquet(src)
    StreamingOps.incrementalParquetIngest(spark, src, s"$dir/sink", s"$dir/ckpt",
      spark.read.parquet(src).schema)(identity)
    Seq((9L, 9)).toDF("id", "stray").coalesce(1).write.parquet(s"$dir/stray")
    val stray = new java.io.File(s"$dir/stray").listFiles().filter(_.getName.endsWith(".parquet")).head
    assert(stray.renameTo(new java.io.File(s"$dir/sink/a-leftover.parquet")))

    /** Jobs `Tables.parquet` launched, after checking it builds `spark.read.parquet`'s frame. */
    def sameAsSpark(p: String): Long = {
      val (viaHelper, helperJobs) = jobsDuring(Tables.parquet(spark, p))
      val (viaSpark, sparkJobs) = jobsDuring(spark.read.parquet(p))
      assert(sparkJobs == 1, s"$p: the listener saw $sparkJobs inference job(s)")
      assert(viaHelper.schema.json == viaSpark.schema.json, p)
      assert(PlanShape.canonical(viaHelper) == PlanShape.canonical(viaSpark), p)
      assert(rows(viaHelper) == rows(viaSpark), p)
      helperJobs
    }
    Seq(s"$sf001/customer.parquet", s"$sf001/events.parquet", s"$dir/bronze/region",
      s"$dir/silver/nation", s"$dir/mixed/t").foreach { p =>
      val jobs = sameAsSpark(p)
      assert(jobs == 0, s"$p: building the frame launched $jobs job(s)")
    }
    Seq(s"$dir/overlap/t", s"$dir/sink").foreach(sameAsSpark)
    assert(Tables.parquet(spark, s"$dir/mixed/t").columns.toSeq == Seq("id", "v", "k"))
    assert(Tables.parquet(spark, s"$dir/overlap/t").columns.toSeq == Seq("k", "id"))
    assert(Tables.parquet(spark, s"$dir/sink").columns.toSeq == Seq("id", "v"))

    // a missing path and an unreadable footer raise what Spark raises
    val corrupt = new java.io.File(s"$dir/corrupt/part-00000.parquet")
    assert(corrupt.getParentFile.mkdirs())
    java.nio.file.Files.write(corrupt.toPath, "not parquet".getBytes)
    Seq(s"$dir/no_such_table", s"$dir/corrupt").foreach { p =>
      val helperErr = Try(Tables.parquet(spark, p)).failed.get
      val sparkErr = Try(spark.read.parquet(p)).failed.get
      assert(helperErr.getClass == sparkErr.getClass, p)
    }
  }
}
