package graft.io

import java.nio.file.{AtomicMoveNotSupportedException, Files, Path}
import java.nio.file.StandardCopyOption.{ATOMIC_MOVE, REPLACE_EXISTING}

/** The two filesystem primitives behind both commit protocols
  * ([[JsonTableIO]]'s manifest pointer and [[SegmentLog]]).
  */
private[io] object LocalFs {

  /** Write `text` to `tmp`, then rename it over `target` in one step.
    * This rename IS a commit: readers see the old file or the new one,
    * never a partial write. A filesystem without atomic rename gets a
    * plain replacing move.
    */
  def replace(tmp: Path, target: Path, text: String): Unit = {
    Files.writeString(tmp, text)
    try Files.move(tmp, target, ATOMIC_MOVE, REPLACE_EXISTING)
    catch {
      case _: AtomicMoveNotSupportedException =>
        Files.move(tmp, target, REPLACE_EXISTING)
    }
  }

  /** Delete `p` and everything below it; a missing `p` is a no-op.
    * Symlinks are removed, never followed.
    */
  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.deleteIfExists(f))
      finally walk.close()
    }
}
