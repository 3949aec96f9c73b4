package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import graft.pipeline.{Bronze, Medallion}
import graft.sources.{PosixLocalFileContextFs, PosixLocalFileSystem, PosixRawLocalFileSystem}

/** Local writes set permissions in-process (`GraftSession`'s `file:`
  * bindings): no forked `chmod`, and the bits Hadoop's own local
  * filesystem gives.
  */
class PosixLocalFileSystemSpec extends SparkSpec {
  import spark.implicits._

  private lazy val conf = spark.sessionState.newHadoopConf()

  /** A Silver-style partitioned write, a Bronze ingest and a
    * checkpoint-style FileContext write and rename into one temp dir, under
    * a JFR recording of process starts; `true` is started inside it as a
    * control. Returns the dir and the recorded commands. */
  private lazy val written: (JPath, Seq[String]) = {
    val tmp = Files.createTempDirectory("posix_local")
    val df = Seq((1L, "a", 2.5), (2L, "b", -1.0)).toDF("id", "k", "v")
    val dump = tmp.resolveSibling(s"${tmp.getFileName}.jfr")
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      Medallion.writePartitioned(df, s"$tmp/silver", "t",
        Medallion.PartitionDate(2026, 8, 11))
      Bronze.ingestFrame(df, s"$tmp/bronze", "t", "2026-08-11", "spec")
      val fc = FileContext.getFileContext(new URI(s"file://$tmp"), conf)
      // qualified, as Spark's checkpoint file manager passes them
      val offsets = new Path(s"file:$tmp/ckpt/offsets")
      fc.mkdir(offsets, FsPermission.getDirDefault, true)
      fc.create(new Path(offsets, ".0.tmp"),
        java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE)).close()
      fc.rename(new Path(offsets, ".0.tmp"), new Path(offsets, "0"))
      new ProcessBuilder("true").start().waitFor()
      rec.stop()
      rec.dump(dump)
    } finally rec.close()
    val commands = RecordingFile.readAllEvents(dump).asScala.toSeq
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .map(_.getString("command"))
    Files.delete(dump)
    (tmp, commands)
  }

  private def bits(p: JPath): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  test("a partitioned write, a Bronze ingest and a FileContext write fork no chmod") {
    val (tmp, commands) = written
    assert(commands.exists(_.startsWith("true")), commands) // the recording sees forks
    assert(!commands.exists(_.startsWith("chmod")), commands)
    assert(Files.exists(tmp.resolve("ckpt/offsets/0"))) // the rename ran
    assert(!commands.exists(_.startsWith("readlink")), commands)
  }

  test("written files and directories carry Hadoop's default bits under the umask") {
    val (tmp, _) = written
    val umask = FsPermission.getUMask(conf)
    val dirBits = FsPermission.getDirDefault.applyUMask(umask).toString
    val fileBits = FsPermission.getFileDefault.applyUMask(umask).toString
    val paths = Files.walk(tmp).iterator.asScala.filter(_ != tmp).toSeq
    val files = paths.filterNot(Files.isDirectory(_))
    // parquet parts, their .crc sidecars, _SUCCESS and the checkpoint file
    assert(files.exists(_.toString.endsWith(".parquet")) &&
      files.exists(_.getFileName.toString.endsWith(".crc")) &&
      files.exists(_.endsWith("ckpt/offsets/0")), files)
    paths.foreach { p =>
      assert(bits(p) == (if (Files.isDirectory(p)) dirBits else fileBits), p)
    }
  }

  test("mkdirs and create give the bits LocalFileSystem gives, under a non-default umask") {
    val c = new Configuration(conf)
    c.set("fs.permissions.umask-mode", "027")
    def layout(fs: LocalFileSystem): Seq[String] = {
      val root = Files.createTempDirectory("posix_umask")
      fs.initialize(new URI("file:///"), c)
      try {
        fs.mkdirs(new Path(s"$root/a/b"))
        fs.create(new Path(s"$root/a/b/f")).close()
        Seq("a", "a/b", "a/b/f", "a/b/.f.crc").map(r => bits(root.resolve(r)))
      } finally fs.close()
    }
    val hadoop = layout(new LocalFileSystem)
    assert(hadoop == Seq("rwxr-x---", "rwxr-x---", "rw-r-----", "rw-r-----"))
    assert(layout(new PosixLocalFileSystem) == hadoop)
  }

  test("getFileLinkStatus on file: paths matches RawLocalFileSystem's") {
    val dir = Files.createTempDirectory("posix_link")
    val file = Files.write(dir.resolve("f"), "abc".getBytes("UTF-8"))
    val link = Files.createSymbolicLink(dir.resolve("link"), file)
    val dangling = Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
    def statuses(fs: RawLocalFileSystem): Seq[Either[String, Seq[Any]]] = {
      fs.initialize(new URI("file:///"), conf)
      try Seq(file, dir, link, dangling, dir.resolve("missing")).map { jp =>
        val p = fs.makeQualified(new Path(jp.toString))
        assert(p.toUri.getScheme == "file", p)
        try {
          val st = fs.getFileLinkStatus(p)
          Right(Seq(st.getPath, st.getLen, st.isDirectory, st.isSymlink,
            st.getReplication, st.getBlockSize, st.getModificationTime,
            st.getAccessTime, st.getPermission, st.getOwner, st.getGroup))
        } catch { case e: java.io.FileNotFoundException => Left(e.getMessage) }
      } finally fs.close()
    }
    val hadoop = statuses(new RawLocalFileSystem)
    assert(hadoop.map(_.isRight) == Seq(true, true, true, false, false), hadoop)
    assert(statuses(new PosixRawLocalFileSystem) == hadoop)
  }

  test("a sticky-bit setPermission still sets the sticky bit") {
    val dir = Files.createTempDirectory("posix_sticky")
    val fs = new Path(dir.toString).getFileSystem(conf)
    fs.setPermission(new Path(dir.toString), new FsPermission(Integer.parseInt("1777", 8).toShort))
    val mode = Files.getAttribute(dir, "unix:mode").asInstanceOf[Int]
    assert((mode & Integer.parseInt("7777", 8)) == Integer.parseInt("1777", 8), mode.toOctalString)
  }

  test("the session's file: FileSystem and FileContext are the in-process classes") {
    val dir = new Path(Files.createTempDirectory("posix_class").toString)
    assert(dir.getFileSystem(conf).isInstanceOf[PosixLocalFileSystem])
    assert(FileContext.getFileContext(dir.toUri, conf).getDefaultFileSystem
      .isInstanceOf[PosixLocalFileContextFs])
  }
}
