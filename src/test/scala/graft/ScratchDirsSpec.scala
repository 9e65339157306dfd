package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.util.ShutdownHookManager
import org.scalatest.funsuite.AnyFunSuite
import graft.core.ScratchDirs

/** Creates one scratch dir with a file in it, prints the root and exits:
  * the JVM that [[ScratchDirsSpec]] watches shut down. */
object ScratchDirsChild {
  def main(args: Array[String]): Unit = {
    val dir = ScratchDirs.create("child_")
    Files.write(Paths.get(dir, "part-0"), Array[Byte](1, 2, 3))
    println(ScratchDirs.root)
  }
}

/** The scratch-dir owner: every dir lands under one `graft_*` root in
  * `java.io.tmpdir`, and a shutdown hook deletes that root. */
class ScratchDirsSpec extends AnyFunSuite {
  private def real(p: Path): Path = p.toRealPath()

  test("scratch dirs are fresh, distinct and under the one graft_ root") {
    val root = ScratchDirs.root
    assert(root.getFileName.toString.startsWith("graft_"))
    assert(real(root.getParent) ===
      real(Paths.get(System.getProperty("java.io.tmpdir"))))
    val a = Paths.get(ScratchDirs.create("spec_"))
    val b = Paths.get(ScratchDirs.create("spec_"))
    assert(a !== b)
    for (p <- Seq(a, b)) {
      assert(p.getParent === root)
      assert(Files.isDirectory(p) && Files.list(p).count() === 0L)
    }
    assert(ShutdownHookManager.get().hasShutdownHook(ScratchDirs.hook),
      "the root's delete hook is registered")
  }

  test("deleteTree removes a populated tree") {
    val top = Paths.get(ScratchDirs.create("spec_tree_"))
    Files.createDirectories(top.resolve("a/b"))
    Files.write(top.resolve("a/b/f.parquet"), Array[Byte](1))
    Files.write(top.resolve("g"), Array[Byte](2))
    ScratchDirs.deleteTree(top)
    assert(!Files.exists(top))
    ScratchDirs.deleteTree(top) // already gone: a no-op
  }

  test("the shutdown hook deletes the root when the JVM exits") {
    val tmp = Paths.get(ScratchDirs.create("scratch_child_tmp"))
    val java = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val p = new ProcessBuilder(java, "-cp", System.getProperty("java.class.path"),
        s"-Djava.io.tmpdir=$tmp", "graft.ScratchDirsChild")
      .redirectError(ProcessBuilder.Redirect.INHERIT).start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8").trim
    assert(p.waitFor() === 0)
    val root = Paths.get(out.linesIterator.toSeq.last)
    assert(real(root.getParent) === real(tmp), s"root $root not in $tmp")
    assert(!Files.exists(root), s"$root survived the child JVM")
    assert(Files.list(tmp).iterator().asScala
      .forall(!_.getFileName.toString.startsWith("graft_")))
  }

  // the streaming pair in the benchmark's query mix: their materialized
  // results (and the checkpoints beside them) live under the root
  test("q70's and q88's result files resolve under the scratch root") {
    val root = real(ScratchDirs.root)
    for (q <- Seq("q70_streaming_hourly", "q88_streaming_apply_changes")) {
      val files = SparkEntry.queries(q)(TestSpark.spark, TestSpark.sf0001)
        .inputFiles
      assert(files.nonEmpty, q)
      files.foreach { f =>
        assert(real(Paths.get(new java.net.URI(f))).startsWith(root), s"$q: $f")
      }
    }
  }
}
