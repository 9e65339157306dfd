package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem,
  LocalFileSystem, Path => HPath, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem,
  ScratchDirs}
import graft.graph.{ManifestStore, Mode, Registry, Runner, TableDef, WriteMode}

/** `file://` commits run in-process: the session resolves the local
  * scheme to the NIO classes, which match the stock filesystem on
  * permissions and link status and start no child process. */
class NioLocalFsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def raw(fs: RawLocalFileSystem, umask: String): RawLocalFileSystem = {
    val conf = new Configuration(false)
    conf.set(FsPermission.UMASK_LABEL, umask)
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  private def perm(octal: String) =
    new FsPermission(Integer.parseInt(octal, 8).toShort)

  private def mode(p: String): Int =
    Files.getAttribute(Paths.get(p), "unix:mode").asInstanceOf[Int] & 0xfff

  test("a GraftSession resolves file:// to the NIO classes for FileSystem " +
    "and FileContext") {
    val conf = spark.sessionState.newHadoopConf()
    val fs = FileSystem.get(URI.create("file:///"), conf)
    assert(fs.isInstanceOf[NioLocalFileSystem])
    assert(fs.asInstanceOf[LocalFileSystem].getRaw
      .isInstanceOf[NioRawLocalFileSystem])
    assert(FileSystem.getLocal(conf).isInstanceOf[NioLocalFileSystem])
    assert(FileContext.getFileContext(URI.create("file:///"), conf)
      .getDefaultFileSystem.isInstanceOf[NioLocalFs])
  }

  test("permissions after create, mkdirs and setPermission match the stock " +
    "filesystem, umask applied") {
    val dir = ScratchDirs.create("niofs_perm_")
    for (umask <- Seq("022", "027", "077")) {
      val modes = Seq("stock" -> new RawLocalFileSystem,
        "nio" -> new NioRawLocalFileSystem).map { case (tag, fs0) =>
        val fs = raw(fs0, umask)
        val base = s"$dir/$tag$umask"
        fs.create(new HPath(s"$base/f")).close() // default 0666
        fs.create(new HPath(s"$base/g"), perm("755"), true,
          4096, 1.toShort, 1L << 20, null).close()
        fs.mkdirs(new HPath(s"$base/d/e"))
        fs.mkdirs(new HPath(s"$base/x"), perm("750"))
        fs.mkdirs(new HPath(s"$base/t"))
        fs.setPermission(new HPath(s"$base/t"), perm("1751"))
        Seq("f", "g", "d", "d/e", "x", "t").map(n => n -> mode(s"$base/$n"))
      }
      assert(modes(0) === modes(1), s"umask $umask")
      val m = modes(1).toMap
      val u = Integer.parseInt(umask, 8)
      assert(m("f") === (0x1b6 & ~u), s"file 0666 under umask $umask")
      assert(m("x") === (Integer.parseInt("750", 8) & ~u),
        s"dir 0750 under umask $umask")
      assert(m("t") === Integer.parseInt("1751", 8), "sticky bit kept")
    }
  }

  test("getFileLinkStatus matches the stock filesystem for a file, a " +
    "directory, a symlink, a dangling symlink and a missing path") {
    val dir = ScratchDirs.create("niofs_link_")
    Files.write(Paths.get(s"$dir/file"), "abc".getBytes)
    Files.createDirectory(Paths.get(s"$dir/dir"))
    Files.createSymbolicLink(Paths.get(s"$dir/link"), Paths.get(s"$dir/file"))
    Files.createSymbolicLink(Paths.get(s"$dir/dangling"), Paths.get(s"$dir/gone"))
    val stock = raw(new RawLocalFileSystem, "022")
    val nio = raw(new NioRawLocalFileSystem, "022")
    def view(fs: RawLocalFileSystem, p: HPath): Either[Class[_], Seq[Any]] =
      try {
        val s: FileStatus = fs.getFileLinkStatus(p)
        Right(Seq(s.getPath, s.isFile, s.isDirectory, s.isSymlink,
          if (s.isSymlink) s.getSymlink else null, s.getLen,
          s.getModificationTime))
      } catch { case e: FileNotFoundException => Left(e.getClass) }
    for (n <- Seq("file", "dir", "link", "dangling", "missing");
         p <- Seq(new HPath(s"$dir/$n"), new HPath(s"file://$dir/$n"))) {
      assert(view(nio, p) === view(stock, p), s"$p")
    }
    assert(view(nio, new HPath(s"$dir/link")).exists(_(3) == true),
      "a symlink reports as one")
    assert(view(nio, new HPath(s"$dir/missing")).isLeft)
  }

  test("a parquet write, a ManifestStore commit and a stateful stream start " +
    "no chmod, readlink, stat or ls process") {
    val sp = spark
    import sp.implicits._
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val dir = ScratchDirs.create("niofs_spawn_")
    val events = try {
      // the recorder sees spawns: one deliberate process
      new ProcessBuilder("true").start().waitFor()
      val rows = (1 to 40).map(i => (s"k${i % 5}", i.toLong, i % 2))
        .toDF("k", "seq", "p")
      rows.write.parquet(s"$dir/plain")
      ManifestStore.upsert(s"$dir/manifest", Seq("k"), "seq", Nil,
        Seq("p"))(rows)
      rows.write.parquet(s"$dir/feed")
      val reg = new Registry(sp)
      reg.register(TableDef("counts", Seq("feed"), { case Seq(f) =>
        f.groupBy("k").agg(count(lit(1)).as("n"))
      }, mode = Mode.Incremental, writeMode = WriteMode.Upsert(Seq("k"), "n")))
      val schema = rows.schema
      Runner.runStreamingThenFull(sp, reg,
        Map("feed" -> (() => sp.readStream.schema(schema).parquet(s"$dir/feed"))),
        s"$dir/out")
      assert(ManifestStore.read(sp, s"$dir/out/counts").count() === 5)
      rec.stop()
      val dump = Paths.get(s"$dir/spawns.jfr")
      rec.dump(dump)
      jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala.toSeq
    } finally rec.close()
    val commands = events.map(_.getString("command"))
    assert(commands.exists(_.split(' ').head.endsWith("true")),
      s"the deliberate spawn must be recorded: $commands")
    val forbidden = Set("chmod", "readlink", "stat", "ls")
    val bad = commands.filter(c =>
      forbidden(c.split(' ').head.split('/').last))
    assert(bad.isEmpty, s"file:// commits spawned processes: $bad")
    // the checksum layer still writes .crc files
    val crcs = Files.list(Paths.get(s"$dir/plain")).iterator.asScala
      .map(_.getFileName.toString).filter(_.endsWith(".crc")).toSeq
    assert(crcs.nonEmpty, "parquet parts must still carry .crc files")
  }
}
