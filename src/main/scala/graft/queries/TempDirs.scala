package graft.queries

import java.io.IOException
import java.nio.file.{Files, Path}
import java.util.Comparator
import java.util.concurrent.ConcurrentLinkedQueue

/** The one owner of the temp directories queries write files into (an
  * XES round-trip, a persisted index, a memoized authority table). A
  * query's result is read lazily, after the query function returns, so
  * a directory lives until the JVM exits: `create` records it and one
  * shutdown hook deletes every recorded directory recursively.
  */
private[graft] object TempDirs {
  private val dirs = new ConcurrentLinkedQueue[Path]()

  private lazy val hook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => dirs.forEach(deleteRecursively)))

  /** A new directory under the system temp dir, deleted at JVM exit. */
  def create(prefix: String): Path = {
    hook
    val dir = Files.createTempDirectory(prefix)
    dirs.add(dir)
    dir
  }

  /** Deletes `root` and everything under it, children first. A missing
    * root, or a file that cannot be deleted, is skipped.
    */
  def deleteRecursively(root: Path): Unit =
    try {
      val st = Files.walk(root)
      try st.sorted(Comparator.reverseOrder[Path]()).forEach { f =>
        try Files.deleteIfExists(f)
        catch { case _: IOException => () }
      } finally st.close()
    } catch { case _: IOException => () }
}
