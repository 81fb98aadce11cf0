package graft

import java.nio.file.{Files, Path}

import scala.util.control.NonFatal

object LocalFiles {

  /** Best-effort recursive delete of a local scratch tree, deepest entries
    * first; closes the directory walk and never throws (a leftover temp
    * tree must not fail the work that made it). */
  def deleteTree(root: Path): Unit =
    try {
      val walk = Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => { Files.deleteIfExists(p); () })
      finally walk.close()
    } catch { case NonFatal(_) => () }
}
