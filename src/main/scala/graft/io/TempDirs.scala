package graft.io

import java.nio.file.{Files, Path}
import java.util.Comparator

/** Temporary directories that are deleted, with everything written into
  * them, when the JVM exits. Every temp directory graft code makes comes
  * from [[create]], so a run leaves nothing behind in `java.io.tmpdir`.
  */
object TempDirs {
  private var live = Set.empty[Path] // guarded by this

  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    // best effort: a directory that cannot be removed must not keep the
    // hook from removing the others
    synchronized(live).foreach(d => scala.util.Try(delete(d)))))

  /** A new directory in `java.io.tmpdir` whose name starts with `prefix`. */
  def create(prefix: String): Path = synchronized {
    val dir = Files.createTempDirectory(prefix)
    live += dir
    dir
  }

  /** Deletes `dir` and the tree below it if [[create]] made it; any other
    * path is left alone. */
  def delete(dir: Path): Unit = {
    val mine = synchronized { val m = live(dir); live -= dir; m }
    if (mine && Files.exists(dir)) {
      val tree = Files.walk(dir)
      try tree.sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
      finally tree.close()
    }
  }
}
