package graft

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

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

  private def relation(df: DataFrame): HadoopFsRelation = df.queryExecution.analyzed.collect {
    case l: LogicalRelation => l.relation
  }.collect { case r: HadoopFsRelation => r }.head

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
      val (h, r) = (relation(viaHelper), relation(viaSpark))
      assert(h.options == r.options, p)
      assert(h.partitionSchema == r.partitionSchema, p)
      assert(h.dataSchema == r.dataSchema, p)
      assert(h.bucketSpec == r.bucketSpec, p)
      assert(h.fileFormat.getClass == r.fileFormat.getClass, p)
      helperJobs
    }
    val resolved = Seq(s"$sf001/customer.parquet", s"$sf001/events.parquet", s"$dir/bronze/region",
      s"$dir/silver/nation", s"$dir/mixed/t")
    resolved.foreach { p =>
      val jobs = sameAsSpark(p)
      assert(jobs == 0, s"$p: building the frame launched $jobs job(s)")
    }
    // the helper's listing is the relation's: no directory is listed twice
    resolved.foreach { p =>
      val listed = ListCountingFileSystem.listings(spark)(Tables.parquet(spark, p))
      assert(listed.nonEmpty, p)
      val twice = listed.groupBy(identity).collect { case (d, n) if n.size > 1 => d -> n.size }
      assert(twice.isEmpty, s"$p: listed more than once in one read: $twice")
    }
    Seq(s"$dir/overlap/t", s"$dir/sink").foreach(sameAsSpark)
    assert(Tables.parquet(spark, s"$dir/mixed/t").columns.toSeq == Seq("id", "v", "k"))
    assert(Tables.parquet(spark, s"$dir/overlap/t").columns.toSeq == Seq("k", "id"))
    assert(Tables.parquet(spark, s"$dir/sink").columns.toSeq == Seq("id", "v"))

    // a missing path, an unreadable footer and two data columns alike
    // under the session's case-insensitive resolver raise what Spark raises
    val corrupt = new java.io.File(s"$dir/corrupt/part-00000.parquet")
    assert(corrupt.getParentFile.mkdirs())
    java.nio.file.Files.write(corrupt.toPath, "not parquet".getBytes)
    spark.conf.set("spark.sql.caseSensitive", "true")
    try Seq((1L, 2L)).toDF("a", "A").write.parquet(s"$dir/dup_case")
    finally spark.conf.unset("spark.sql.caseSensitive")
    Seq(s"$dir/no_such_table", s"$dir/corrupt", s"$dir/dup_case").foreach { p =>
      val helperErr = Try(Tables.parquet(spark, p)).failed.get
      val sparkErr = Try(spark.read.parquet(p)).failed.get
      assert(helperErr.getClass == sparkErr.getClass, p)
    }
  }
}

/** The session's local filesystem, recording the path of every
  * `listStatus` call. Spark's file index and Hadoop's listing helpers all
  * reach a local directory's entries through it.
  */
class ListCountingFileSystem extends graft.sources.PosixLocalFileSystem {
  override def listStatus(f: Path): Array[FileStatus] = {
    ListCountingFileSystem.listed.add(f.toUri.getPath)
    super.listStatus(f)
  }
}

object ListCountingFileSystem {
  private val listed = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  /** The paths listed while `body` ran, with `file:` bound to this class
    * (uncached, so each filesystem the session asks for is one of these).
    */
  def listings(spark: SparkSession)(body: => Any): Seq[String] = {
    val conf = Seq("fs.file.impl" -> classOf[ListCountingFileSystem].getName,
      "fs.file.impl.disable.cache" -> "true")
    val before = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    listed.clear()
    try { body; listed.asScala.toSeq }
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
