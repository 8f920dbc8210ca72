package graft.catalog

import java.nio.file.{Files, Path}

/** Shared local-filesystem helpers (the catalog layer and the streaming
  * replay's checkpoint cleanup).
  */
private[graft] object Fs {

  /** Recursive delete, closing the walk stream (Files.walk holds directory
    * descriptors until closed).
    */
  def deleteRecursively(p: Path): Unit = {
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }
  }

  /** Replaces `p`'s content all at once: the text goes to a sibling
    * `.tmp` file that is then moved over `p` atomically, so a crash
    * leaves the old file or the new one, never a truncated one. A temp
    * file left by an interrupted write is simply overwritten by the
    * next write.
    */
  def writeAtomic(p: Path, text: String): Unit = {
    val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
    Files.writeString(tmp, text)
    Files.move(tmp, p, java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }
}
