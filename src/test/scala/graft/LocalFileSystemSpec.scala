package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Try

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, FsConstants, LocalFileSystem,
  Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.context.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}

/** `file:` I/O through [[NioRawLocalFileSystem]]: no child process per
  * chmod or readlink, and the same results as stock Hadoop's classes.
  */
class LocalFileSystemSpec extends AnyFunSuite {
  import SparkTestSession._

  private val conf = new Configuration()
  conf.set("fs.permissions.umask-mode", "027")

  private def initialized[F <: FileSystem](fs: F): F = { fs.initialize(FsConstants.LOCAL_FS_URI, conf); fs }
  private def mode(p: Path): Int = Files.getAttribute(Paths.get(p.toUri.getPath), "unix:mode").asInstanceOf[Int] & 0xfff

  test("SessionContext.local sessions write files without forking chmod or readlink") {
    val hadoopConf = spark.sessionState.newHadoopConf()
    assert(FileSystem.get(new URI("file:///"), hadoopConf).getClass == classOf[NioLocalFileSystem])
    assert(FileContext.getFileContext(hadoopConf).getDefaultFileSystem.getClass == classOf[NioLocalFs])
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try Seq("stream_exec_dedup", "sink_parquet_codecs")
      .foreach(row => SparkEntry.queries(row)(spark, sfDir).collect())
    finally rec.stop()
    val dump = Paths.get(tempDir("forks"), "forks.jfr")
    rec.dump(dump)
    rec.close()
    val forks = RecordingFile.readAllEvents(dump).asScala
      .filter(_.getEventType.getName == "jdk.ProcessStart").map(_.getString("command"))
      .filter(c => c.startsWith("chmod") || c.startsWith("readlink"))
    assert(forks.isEmpty, s"${forks.size} forks, e.g. ${forks.take(3)}")
  }

  test("NioRawLocalFileSystem creates files and directories with stock LocalFileSystem's mode bits") {
    val root = tempDir("nio-perm")
    def written(raw: RawLocalFileSystem, side: String): Seq[Int] = {
      val fs = initialized(new LocalFileSystem(raw))
      val dir = new Path(root, s"$side/a/b")
      val file = new Path(dir, "f")
      assert(fs.mkdirs(dir))
      fs.create(file).close()
      val set = new Path(dir, "set")
      fs.create(set).close()
      // a spread of modes, set one after another on one file
      Seq(dir.getParent, dir, file, new Path(dir, ".f.crc")).map(mode) ++
        Seq("000", "700", "640", "751", "604", "777", "421").map { m =>
          fs.setPermission(set, new FsPermission(m))
          mode(set)
        }
    }
    val stock = written(new RawLocalFileSystem, "stock")
    assert(written(new NioRawLocalFileSystem, "nio") == stock)
    assert(stock.take(3) == Seq(0x1e8, 0x1e8, 0x1a0), stock.map(_.toOctalString)) // 750 750 640
  }

  test("NioRawLocalFileSystem keeps stock's chmod for the sticky bit") {
    val root = tempDir("nio-sticky")
    def sticky(raw: RawLocalFileSystem, side: String): Int = {
      val fs = initialized(raw)
      val dir = new Path(root, side)
      assert(fs.mkdirs(dir))
      fs.setPermission(dir, new FsPermission("1777"))
      mode(dir)
    }
    val stock = sticky(new RawLocalFileSystem, "stock")
    assert(stock == 0x3ff) // 1777
    assert(sticky(new NioRawLocalFileSystem, "nio") == stock)
  }

  test("NioRawLocalFileSystem.getFileLinkStatus agrees with stock RawLocalFileSystem") {
    val root = Paths.get(tempDir("nio-links"))
    val file = Files.write(root.resolve("file"), "x".getBytes)
    val dir = Files.createDirectory(root.resolve("dir"))
    val link = Files.createSymbolicLink(root.resolve("link"), file)
    val relLink = Files.createSymbolicLink(root.resolve("rel-link"), Paths.get("dir"))
    val dangling = Files.createSymbolicLink(root.resolve("dangling"), root.resolve("gone"))
    val missing = root.resolve("missing")
    val (stock, nio) = (initialized(new RawLocalFileSystem), initialized(new NioRawLocalFileSystem))
    def seen(fs: FileSystem, p: Path) = Try(fs.getFileLinkStatus(p)).map(st =>
      (st.getPath, st.isSymlink, Option.when(st.isSymlink)(st.getSymlink), st.isDirectory,
        st.getLen, st.getModificationTime, st.getPermission, st.getOwner, st.getGroup))
      .toEither.left.map(_.getClass)
    // each as a bare path and as a `file:` URI, which stock's readlink
    // reads as a relative name: no link is seen through one
    val paths = Seq(file, dir, link, relLink, dangling, missing)
      .flatMap(p => Seq(new Path(p.toString), new Path(p.toUri)))
    for (p <- paths) assert(seen(nio, p) == seen(stock, p), p)
    val links = paths.filter(p => seen(nio, p).exists(_._2))
    assert(links == Seq(link, relLink, dangling).map(p => new Path(p.toString)), links)
    assert(nio.getFileLinkStatus(links.head).getSymlink == new Path(file.toUri))
    assert(paths.filter(p => seen(nio, p) == Left(classOf[FileNotFoundException])) ==
      Seq(new Path(dangling.toUri), new Path(missing.toString), new Path(missing.toUri)))
  }
}
