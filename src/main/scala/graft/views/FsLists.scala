package graft.views

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** `Files.list`/`Files.walk` return open directory streams that must be
  * closed — these run on view hot paths (every frame/search call lists
  * committed batch dirs), so an unclosed stream leaks a directory handle
  * per call. Materialize eagerly, close in `finally`. */
private[graft] object FsLists {

  /** Immediate children of `p` (empty if not a directory). */
  def children(p: Path): List[Path] =
    if (!Files.isDirectory(p)) Nil
    else {
      val s = Files.list(p)
      try s.iterator().asScala.toList
      finally s.close()
    }

  /** All paths under `p` (inclusive), deepest first — delete order. */
  def walkDeepestFirst(p: Path): List[Path] = {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).iterator().asScala.toList
    finally s.close()
  }

  /** Delete `p` and everything under it; a no-op when `p` is absent. */
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) walkDeepestFirst(p).foreach(Files.delete)

  def deleteTree(dir: String): Unit = deleteTree(Paths.get(dir))
}
