package graft.core

import java.nio.file.{Files, Path}
import org.apache.hadoop.fs.FileSystem
import org.apache.hadoop.util.ShutdownHookManager

/** The one owner of the engine's scratch directories: streaming outputs
  * and checkpoints, staged source slices, catalog warehouses — every
  * directory a query writes that is not its result.
  *
  * All of them live under ONE root, a `graft_*` directory in
  * `java.io.tmpdir` created on first use, and one JVM shutdown hook
  * deletes that root. The hook is registered with Hadoop's
  * ShutdownHookManager below the priority of Spark's own hook
  * (`FileSystem.SHUTDOWN_HOOK_PRIORITY + 30`; lower runs later), so the
  * delete runs after the SparkContext has stopped and no task still
  * writes into the tree. Directories are not deleted earlier: a staged
  * source is cached per JVM and reused by every later run of its query.
  */
object ScratchDirs {

  /** The root every scratch directory is created under. */
  lazy val root: Path = {
    val r = Files.createTempDirectory("graft_")
    ShutdownHookManager.get().addShutdownHook(hook,
      FileSystem.SHUTDOWN_HOOK_PRIORITY + 20)
    r
  }

  /** The registered shutdown hook: deletes [[root]] and everything in it. */
  private[graft] lazy val hook: Runnable = () => deleteTree(root)

  private val seq = new java.util.concurrent.atomic.AtomicLong

  /** A fresh, empty directory under [[root]]; `prefix` names its owner.
    * The root is private to this JVM, so a counter makes names unique. */
  def create(prefix: String): String =
    Files.createDirectory(root.resolve(prefix + seq.incrementAndGet())).toString

  /** Delete `dir` and everything below it; a no-op if it is gone. */
  private[graft] def deleteTree(dir: Path): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
}
