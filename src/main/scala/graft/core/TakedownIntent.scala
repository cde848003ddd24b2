package graft.core

import graft.views.FsLists
import org.apache.spark.sql.DataFrame

import java.nio.file.{Files, Paths, StandardCopyOption}

/** The on-disk protocol of a crash-durable takedown intent: a one-line
  * marker file, and beside it an optional parquet list (the sidecar)
  * the marker refers to. The marker is the commit point: a sidecar
  * without a marker was never acknowledged, and a marker is never torn.
  *
  * Every durable takedown goes through here: [[FlumeDb]]'s durable
  * retract, retention, queue and drain passes and
  * [[graft.views.Retraction]]'s family takedown. */
private[graft] object TakedownIntent {

  /** Refuse to start a new pass while a marker exists at `file`: it is
    * a crashed pass whose erasure was already acknowledged, and
    * starting another would abandon it. `recover` names the call that
    * replays it. */
  def refuseOpen(file: String, recover: String): Unit =
    if (Files.exists(Paths.get(file)))
      throw new IllegalStateException(
        s"an unrecovered takedown intent exists at $file — run $recover first " +
          "(starting a new pass would abandon the crashed one's erasure)")

  /** Commit a marker holding `content`. A `list` is written first as
    * parquet to its sidecar path (over any uncommitted leftover), so
    * the marker only ever names a complete list. The marker is written
    * to `<file>.tmp` and moved into place atomically: a torn marker
    * would replay a truncated id list. */
  def commit(file: String, content: String, list: Option[(String, DataFrame)] = None): Unit = {
    list.foreach { case (sidecar, df) =>
      FsLists.deleteTree(sidecar)
      df.write.parquet(sidecar)
    }
    val p = Paths.get(file)
    if (p.getParent != null) Files.createDirectories(p.getParent)
    val tmp = Paths.get(file + ".tmp")
    Files.writeString(tmp, content)
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Clear a pass: the marker, then its sidecar. */
  def clear(file: String, sidecar: String): Unit = {
    Files.deleteIfExists(Paths.get(file))
    FsLists.deleteTree(sidecar)
  }

  /** Recovery preamble: drop a `.tmp` marker (never committed, never
    * acknowledged). With no marker, drop the sidecar too (a list no
    * marker committed) and return None; otherwise return the marker's
    * content, trimmed. */
  def open(file: String, sidecar: String): Option[String] = {
    Files.deleteIfExists(Paths.get(file + ".tmp"))
    val p = Paths.get(file)
    if (Files.exists(p)) Some(Files.readString(p).trim)
    else { FsLists.deleteTree(sidecar); None }
  }
}
