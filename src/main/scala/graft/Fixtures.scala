package graft

import org.apache.spark.sql.SparkSession

import scala.collection.concurrent.TrieMap

/** The one cache behind every catalog fixture ([[EntryHelpers]]): the
  * stored tables, layouts, models and durable views that query lambdas
  * derive from a data dir, built once per `(name, data dir)` key.
  *
  * Callers of a key wait on its lock while it builds, so a racing caller
  * never builds a second copy (whose temp tree would leak). An entry's
  * `release` runs when a stale entry is evicted, and at process exit for
  * every live entry: entries live for the JVM (bench and verify reuse
  * them across reps and scale factors), and without the exit hook a run
  * would leave open dbs/logs and its temp trees behind. Three lifetimes:
  *
  *  - [[perSession]]: pinned to the `SparkSession` that built it (its
  *    frames, catalog tables or open logs belong to that session); a
  *    call from another session releases it and rebuilds.
  *  - [[shared]]: session-free values (lifecycle templates, stable dirs,
  *    the `events.ts` type probe), kept for the whole JVM.
  *  - [[tmpDir]]: a per-session temp dir, deleted on release.
  *
  * Templates and stable dirs are deleted at exit. The durable fingerprint
  * stores — the IVF index and the phash/afp/agram/fhash media tables —
  * are never deleted, only their handles close: they live under
  * `java.io.tmpdir` at a path keyed by the source table's content
  * fingerprint, persist ACROSS JVMs, and a later process mounting the
  * same source reopens them at parity instead of rebuilding.
  */
private[graft] object Fixtures {

  private final class Entry(val owner: AnyRef, val value: Any, val release: () => Unit)

  // the owner of every shared entry: no session ever matches a stale check
  private object Shared

  private val entries = TrieMap.empty[(String, String), Entry]
  private val locks = TrieMap.empty[(String, String), Object]

  Runtime.getRuntime.addShutdownHook(new Thread("graft-fixture-sweep") {
    // remove-then-release: an entry a racing eviction already claimed is
    // not released twice
    override def run(): Unit = entries.foreach { case (k, e) =>
      if (entries.remove(k, e)) scala.util.Try(e.release())
    }
  })

  private def cached[A](name: String, dir: String, owner: AnyRef)(build: => A)(release: A => Unit): A = {
    val key = (name, dir)
    locks.getOrElseUpdate(key, new Object).synchronized {
      entries.get(key) match {
        case Some(e) if e.owner eq owner => e.value.asInstanceOf[A]
        case stale =>
          stale.foreach(e => if (entries.remove(key, e)) scala.util.Try(e.release()))
          val v = build
          entries.put(key, new Entry(owner, v, () => release(v)))
          v
      }
    }
  }

  def perSession[A](name: String, dir: String, s: SparkSession)(build: => A)(release: A => Unit): A =
    cached(name, dir, s)(build)(release)

  def shared[A](name: String, dir: String)(build: => A)(release: A => Unit): A =
    cached(name, dir, Shared)(build)(release)

  def tmpDir(name: String, dir: String, s: SparkSession)(write: String => Unit): String =
    perSession(name, dir, s) {
      val tmp = java.nio.file.Files.createTempDirectory(name).toString
      write(tmp)
      tmp
    }(EntryHelpers.deleteTree)
}
