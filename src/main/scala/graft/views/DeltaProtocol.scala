package graft.views

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.StorageBridge
import org.apache.spark.sql.types.StructType

import java.nio.file.{Files, Path, Paths}

/** The ONE copy of the durable-view delta-store protocol shared by
  * every parquet-backed view (index, hashtable, IVF, signature table):
  *
  *  - each absorbed batch lands under `batch=<upto>/` (batch-atomic:
  *    Spark's directory commit);
  *  - `MANIFEST` holds `(version, since)` and is written AFTER the
  *    delta — an orphaned uncommitted batch directory is invisible to
  *    readers and pruned at open (it must not resurrect once a later
  *    absorb advances the cursor past its upto);
  *  - a stored version ≠ the mounted version wipes the state back to
  *    since = -1 at open — flume's version-bump rebuild rule
  *    (`/root/reference/README.md:26-29`).
  *
  * Views mix this in and keep only their data plane (what a delta
  * contains, how deltas merge at read). Crash-recovery fixes land here
  * once, for all views.
  */
private[views] trait DeltaProtocol {
  protected def spark: SparkSession
  /** Store directory (constructor parameter of the concrete view). */
  protected def dir: String
  /** Mounted view version (bump ⇒ destroy + rebuild at open). */
  protected def protocolVersion: Int

  protected lazy val root: Path = Paths.get(dir)
  private lazy val manifest: Path = root.resolve("MANIFEST")
  @volatile protected var sinceSeq: Long = -1L
  @volatile private var written: Option[StructType] = None

  def since: Long = sinceSeq

  /** Call once from the concrete view's constructor. */
  protected def openProtocol(): Unit = {
    Files.createDirectories(root)
    readManifest() match {
      case Some((v, s)) if v == protocolVersion => sinceSeq = s
      case Some(_)                              => destroy()
      case None                                 => ()
    }
    recoverRetract()
    pruneOrphans()
    recoverCompact()
  }

  protected def compactTmp: Path = root.resolve("compact.tmp")
  protected def compactMarker: Path = root.resolve("compact.cursor")
  protected def retractTmp: Path = root.resolve("retract.tmp")
  protected def retractMarker: Path = root.resolve("retract.cursor")

  /** All-or-nothing marker write: a torn marker must never read as a
    * valid commit (it names a directory to DELETE). */
  protected def writeAtomic(p: Path, content: String): Unit = {
    val tmp = p.resolveSibling(p.getFileName.toString + ".w")
    Files.writeString(tmp, content)
    Files.move(tmp, p, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Execute (or re-execute, from recovery) a committed per-delta cell
    * plan: delete tombstoned cell dirs, swap each staged rewrite in.
    * Idempotent — a cell whose staging dir is gone was already swapped. */
  protected def applyCellPlan(batchRel: String, rwNames: Seq[String], emptyNames: Seq[String]): Unit = {
    val batchDir = root.resolve(batchRel)
    emptyNames.foreach { n =>
      val unit = batchDir.resolve(n)
      FsLists.deleteTree(unit)
    }
    rwNames.foreach { n =>
      val src = retractTmp.resolve(n)
      if (Files.exists(src)) {
        val unit = batchDir.resolve(n)
        FsLists.deleteTree(unit)
        Files.move(src, unit)
      }
    }
  }

  /** Execute (or re-execute, from recovery) a committed MULTI-DELTA
    * plan — the cross-batch twin of [[applyCellPlan]], for takedowns
    * that rewrite several flat `batch=` deltas in ONE staged job
    * (staging tree holds `batch=<upto>` subdirs): delete tombstoned
    * delta dirs, swap each staged rewrite in. Idempotent — a delta
    * whose staging subdir is gone was already swapped. */
  protected def applyDeltaPlan(rwNames: Seq[String], emptyNames: Seq[String]): Unit = {
    emptyNames.foreach { n =>
      val unit = root.resolve(n)
      FsLists.deleteTree(unit)
    }
    rwNames.foreach { n =>
      val src = retractTmp.resolve(n)
      if (Files.exists(src)) {
        val unit = root.resolve(n)
        FsLists.deleteTree(unit)
        Files.move(src, unit)
      }
    }
  }

  /** Retraction crash recovery ([[CompactableDeltas.retractWhere]]'s
    * per-unit swap; no-op for views that never retract). The marker is
    * the commit point for the ONE in-flight rewrite unit (a `batch=`
    * delta dir, or a partition subdir inside one): marker with an
    * `EMPTY` outcome → delete the unit (idempotent tombstone); marker
    * plus a COMPLETE tmp (`_SUCCESS`) → delete the unit, adopt the tmp;
    * anything else is uncommitted — dropped, the unit's original files
    * intact. Units the takedown never reached are finished by the
    * family intent replay ([[Retraction.recover]]), which re-runs the
    * whole `retractWhere` idempotently. */
  protected def recoverRetract(): Unit = {
    if (Files.exists(retractMarker)) {
      val txt = scala.util.Try(Files.readString(retractMarker).trim).getOrElse("")
      txt.split(" ") match {
        case arr if arr.headOption.contains("MULTIB") && arr.length >= 2 =>
          // a committed per-delta cell plan (atomic write — never torn):
          // replay the tombstone deletes and the remaining staged swaps
          def names(prefix: String): Seq[String] = arr.toSeq
            .collectFirst { case t if t.startsWith(prefix) => t.stripPrefix(prefix) }
            .map(_.split(",").filter(_.nonEmpty).toSeq).getOrElse(Nil)
          applyCellPlan(arr(1), names("rw="), names("empty="))
        case arr if arr.headOption.contains("MULTID") =>
          // a committed multi-delta plan (the hashtable's fused purge):
          // replay the whole-delta tombstones and staged delta swaps
          def dnames(prefix: String): Seq[String] = arr.toSeq
            .collectFirst { case t if t.startsWith(prefix) => t.stripPrefix(prefix) }
            .map(_.split(",").filter(_.nonEmpty).toSeq).getOrElse(Nil)
          applyDeltaPlan(dnames("rw="), dnames("empty="))
        case Array(unit, "EMPTY") if unit.startsWith("batch=") =>
          FsLists.deleteTree(root.resolve(unit))
        case Array(unit) if unit.startsWith("batch=") &&
            Files.exists(retractTmp.resolve("_SUCCESS")) =>
          FsLists.deleteTree(root.resolve(unit))
          Files.move(retractTmp, root.resolve(unit))
        case _ => () // torn/uncommitted: the unit's old state is intact
      }
      Files.deleteIfExists(retractMarker)
    }
    FsLists.deleteTree(retractTmp)
    FsLists.deleteTree(retractTmp.resolveSibling(retractTmp.getFileName.toString + ".w"))
    FsLists.deleteTree(retractMarker.resolveSibling(retractMarker.getFileName.toString + ".w"))
  }

  /** Compaction crash recovery (no-op for views that never compact):
    * once the cursor marker exists, `compact.tmp` is the COMPLETE merge
    * of all committed deltas at the (unchanged) manifest cursor — the
    * delta deletes may have stopped anywhere, leaving a PARTIAL delta
    * set that would silently lose rows if read. Adopt the tmp in every
    * such interleaving: delete whatever deltas remain, move tmp in.
    * Without the marker (death mid-write of tmp, or a tmp whose cursor
    * has since moved on) tmp is garbage: leave the intact deltas and
    * let the next compact() clear it. Pure filesystem — shared by every
    * delta-store view regardless of its data plane. */
  private def recoverCompact(): Unit = {
    val markerCursor =
      if (Files.exists(compactMarker))
        scala.util.Try(Files.readString(compactMarker).trim.toLong).toOption
      else None
    if (sinceSeq >= 0 && markerCursor.contains(sinceSeq) &&
        Files.exists(compactTmp.resolve("_SUCCESS"))) {
      committedBatchDirs().foreach(p => FsLists.deleteTree(p))
      Files.move(compactTmp, batchPath(sinceSeq))
      Files.delete(compactMarker)
    } else if (markerCursor.isDefined) Files.delete(compactMarker)
  }

  protected def readManifest(): Option[(Int, Long)] =
    if (!Files.exists(manifest)) None
    else Files.readString(manifest).trim.split("\\s+") match {
      case Array(v, s) => Some((v.toInt, s.toLong))
      case _           => None
    }

  /** Commit the cursor; the delta must already be durable. */
  protected def writeManifest(): Unit =
    Files.writeString(manifest, s"$protocolVersion $sinceSeq")

  protected def batchPath(upto: Long): Path = root.resolve(s"batch=$upto")

  /** Land `df` as the delta `batch=<upto>/`. */
  protected def writeDelta(df: DataFrame, upto: Long): Unit = {
    df.write.mode("overwrite").parquet(batchPath(upto).toString)
    wrote(df)
  }

  /** `df`, just written as a delta, gives the stored schema. */
  protected def wrote(df: DataFrame): Unit = written = Some(StorageBridge.asRead(df.schema))

  /** The deltas' schema as Spark reads it back (every field nullable):
    * what this view last wrote, or after a reopen one footer of the
    * newest committed delta, read on the driver. None for an empty
    * store. A delta read given it runs no schema-inference job. */
  protected def storedSchema: Option[StructType] = written.orElse {
    written = committedBatchDirs().reverseIterator
      .flatMap(ParquetFooters.schema(spark, _)).nextOption()
    written
  }

  protected def batchUpto(p: Path): Long =
    p.getFileName.toString.stripPrefix("batch=").toLong

  protected def allBatchDirs(): Seq[Path] =
    FsLists.children(root)
      .filter(_.getFileName.toString.startsWith("batch="))
      .sortBy(batchUpto)

  /** Deltas visible to readers: committed (upto ≤ cursor), in order. */
  protected def committedBatchDirs(): Seq[Path] =
    allBatchDirs().filter(batchUpto(_) <= sinceSeq)

  private def pruneOrphans(): Unit =
    allBatchDirs().filter(batchUpto(_) > sinceSeq)
      .foreach(p => FsLists.deleteTree(p))

  def destroy(): Unit = {
    sinceSeq = -1L
    written = None
    if (Files.isDirectory(root)) {
      FsLists.walkDeepestFirst(root).filterNot(_ == root).foreach(Files.delete)
    }
  }
}

/** The feature-table face of the delta store: dedup artifacts
  * (signatures, hashes, grams, embedding sketches) opt in to db-level
  * retention as delta-chain truncation
  * ([[graft.core.FeatureExpirableView]] — kept by default, truncated
  * on request; see that trait for the keep-signatures rationale). */
private[views] trait FeatureTableDeltas extends CompactableDeltas
    with graft.core.FeatureExpirableView { self: graft.core.FlumeView =>
  def expireFeatureDeltas(throughSeq: Long): Int = expireDeltasThrough(throughSeq)
}

/** Shared compaction + snapshot reads for [[DeltaProtocol]] views whose
  * deltas are parquet directories. After thousands of absorbed batches
  * the delta chain is the classic small-files death at 100 TB — every
  * read lists and opens every `batch=` dir. [[compact]] collapses all
  * committed deltas into ONE base delta at the current cursor (the LSM
  * level-merge / compacted-changelog rewrite), crash-safe in every
  * window via the write-tmp → marker-commit → delete-deltas → move
  * protocol recovered by [[DeltaProtocol.openProtocol]]: readers always
  * see either the full delta chain or the full base, never a partial
  * set.
  *
  * [[frameAsOf]] is the dual: a snapshot read over the deltas that
  * existed at an earlier cursor — log-centric time travel at
  * absorbed-batch granularity. Compaction folds history into the base,
  * so the travel window is the uncompacted delta chain: the same trade
  * a compacted changelog topic makes. */
private[views] trait CompactableDeltas extends DeltaProtocol {
  /** Reader-visible fold of the unioned delta rows: identity for
    * append-only views (index postings, signature rows); overridden
    * where reads fold (hashtable's latest-per-key). */
  protected def mergeDeltas(union: DataFrame): DataFrame = union

  /** Read a set of delta dirs as one frame, with the stored schema (IVF
    * overrides to keep its partition-column discovery). */
  protected def readDeltas(dirs: Seq[Path]): DataFrame =
    storedSchema.fold(spark.read)(s => spark.read.schema(s)).parquet(dirs.map(_.toString): _*)

  /** Write the merged base delta (IVF overrides to keep its cell
    * partitioning). */
  protected def writeMerged(df: DataFrame, path: Path): Unit =
    df.write.parquet(path.toString)

  /** When > 0, absorb paths call [[maybeCompact]] after committing each
    * delta, collapsing the chain whenever the committed delta count
    * reaches this bound — the small-files ceiling enforced inline, with
    * no external compaction job to schedule (deployments that want a
    * separate job leave this 0 and call [[compact]] themselves). */
  protected def autoCompactEvery: Int = 0

  protected def maybeCompact(): Unit =
    if (autoCompactEvery > 0 && committedBatchDirs().size >= autoCompactEvery) compact()

  /** Snapshot read: the view content as of the absorbed batch whose
    * `upto ≤ seq`. */
  def frameAsOf(seq: Long): DataFrame = {
    val dirs = committedBatchDirs().filter(batchUpto(_) <= seq)
    if (dirs.isEmpty)
      throw new IllegalStateException(s"no committed batch at or before seq=$seq (compacted or empty)")
    mergeDeltas(readDeltas(dirs))
  }

  /** Collapse all committed deltas into one base delta at the current
    * cursor. The manifest cursor never moves; a death after the marker
    * lands is recovered at open by adopting the complete tmp, a death
    * before it leaves every delta intact. */
  def compact(): Unit = {
    val dirs = committedBatchDirs()
    if (dirs.size <= 1) return
    rewriteChain(mergeDeltas(readDeltas(dirs)), dirs)
  }

  /** Partition column whose `col=value/` subdirectories inside each
    * delta are independently rewritable units (IVF's `cell`); None =
    * the delta dir itself is the rewrite unit. Finer units mean a
    * takedown rewrites less: IVF rewrites only the matched cells. */
  protected def retractPartitionCol: Option[String] = None

  /** RETENTION on the delta chain, at absorbed-batch granularity:
    * every committed delta whose `upto ≤ throughSeq` is deleted WHOLE —
    * pure directory truncation, no data read (a delta's rows were all
    * absorbed from log seqs ≤ its upto by the build-loop contract).
    * The boundary batch straddling the horizon is KEPT: feature rows
    * carry no log seq, so splitting it would require a scan — retention
    * here conservatively keeps at most one absorbed batch extra.
    * Compaction folds the chain into one base delta at the cursor, so
    * a compacted chain expires nothing until the horizon passes the
    * cursor — the same granularity trade [[frameAsOf]] makes. The view
    * cursor is UNCHANGED (retention is not an absorb; retired seqs
    * never re-stamp). Each delete rides the retract-unit tombstone
    * protocol (a crash replays at open). Returns deltas deleted. */
  def expireDeltasThrough(throughSeq: Long): Int = {
    recoverRetract()
    val victims = committedBatchDirs().filter(batchUpto(_) <= throughSeq)
    victims.foreach { d =>
      writeAtomic(retractMarker, s"batch=${batchUpto(d)} EMPTY")
      FsLists.deleteTree(d)
      Files.delete(retractMarker)
    }
    victims.size
  }

  /** RETRACTION (takedown) across the delta chain: physically remove
    * every feature row matching `cond` — the view-side half of a corpus
    * takedown (the log side is [[graft.core.ParquetLog.retract]]). A
    * retracted document's signatures/hashes must actually leave
    * storage, or a later re-ingest of near-identical content would
    * still dedup against it.
    *
    * PRUNED to the matched storage units: one narrow match scan (only
    * `cond`'s columns plus the directory-derived `batch` — and
    * [[retractPartitionCol]] where the view has one — are read) yields
    * per-unit hit/total counts, then ONLY units containing matches are
    * rewritten, each under its own tmp → marker-commit → swap protocol
    * (recovered at open by [[DeltaProtocol.recoverRetract]]); a
    * fully-emptied unit is deleted under an `EMPTY` tombstone marker —
    * never written as an empty parquet dir, which could not carry a
    * readable schema. Untouched deltas keep their files byte-for-byte,
    * so at corpus scale a takedown costs ∝ its matches, not the chain —
    * and, unlike a filtered compaction, the chain SURVIVES:
    * [[frameAsOf]] history is preserved for everything except the
    * retracted rows, which leave every snapshot (exactly what a
    * takedown requires — no snapshot may resurrect them).
    *
    * `cond` is applied to RAW stored rows (it must reference stored
    * data columns, not partition columns): for folding views
    * (hashtable) every superseded version of a retracted key leaves
    * storage too. The ingest cursor is UNCHANGED — retraction is not an
    * absorb. A JVM death leaves each unit old or new, never partial;
    * units not yet reached are finished by the family intent replay
    * ([[Retraction.recover]] — callers outside that protocol must treat
    * a crashed `retractWhere` as incomplete and re-run it). NULL `cond`
    * rows are kept; retracting absent rows is an idempotent no-op. */
  def retractWhere(cond: org.apache.spark.sql.Column): Unit = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    retractMarked(df => df.withColumn(
      graft.core.ParquetLog.hitCol, coalesce(cond, lit(false))))
  }

  /** Takedown by ID LIST — the batch form: ids stay a DataFrame and
    * matches are marked by a count-fenced broadcast join (shuffle
    * fallback) against the distinct id set, so a 10⁶-id takedown plans
    * ONE join instead of a 10⁶-literal `In` expression. Same pruned
    * per-unit rewrite and crash protocol as [[retractWhere]]. */
  def retractIds(ids: DataFrame, idCol: String,
      maxBroadcastKeys: Long = 4L * 1000 * 1000): Unit =
    retractMarked(graft.core.ParquetLog.hitMarker(ids, idCol, maxBroadcastKeys))

  private def retractMarked(mark: DataFrame => DataFrame): Unit = {
    recoverRetract()
    val dirs = committedBatchDirs()
    if (dirs.isEmpty) return
    import org.apache.spark.sql.functions.{col, count, lit, sum, when}
    val hit = col(graft.core.ParquetLog.hitCol)
    // narrow match scan over the chain: (unit, hits, total). mergeSchema
    // tolerates upgrade-mixed chains; basePath surfaces `batch` (and any
    // partition subdir column) as directory-derived columns.
    val all = mark(spark.read.option("basePath", root.toString)
      .option("mergeSchema", "true").parquet(dirs.map(_.toString): _*))
    // partition-value inference types small batch ids as Integer — pin
    // to Long so the driver grouping below reads one type
    val unitCols = Seq("batch") ++ retractPartitionCol
    val groupCols = col("batch").cast("long").as("batch") +:
      retractPartitionCol.map(col).toSeq
    // FULL per-unit stats — no hits > 0 filter in the scan: the
    // whole-delta tombstone decision below needs the delta's TRUE row
    // total. Summing only the matched cells would tombstone a delta
    // whose unmatched cells still hold live rows (over-deletion: a
    // takedown emptying exactly one IVF cell must not delete the
    // batch's other cells).
    val stats = all.groupBy(groupCols: _*)
      .agg(sum(when(hit, lit(1L)).otherwise(lit(0L))).as("hits"),
        count(lit(1)).as("total"))
      .collect()
    val byBatch = stats.groupBy(_.getLong(0)).toSeq.sortBy(_._1)
    byBatch.foreach { case (b, rows) =>
      val batchRel = s"batch=$b"
      val batchHits = rows.map(_.getLong(unitCols.size)).sum
      val batchTotal = rows.map(_.getLong(unitCols.size + 1)).sum
      if (batchHits == 0L) () // untouched delta: byte-identical
      else if (batchHits == batchTotal) retractUnit(batchRel, None)
      else retractPartitionCol match {
        case None => retractUnit(batchRel, Some(mark))
        case Some(pc) =>
          // ONE job per matched delta: all its matched cells rewrite
          // together (per-cell jobs would pay scheduling latency × cells)
          val matched = rows.filter(_.getLong(2) > 0)
          val empties = matched.filter(r => r.getLong(2) == r.getLong(3)).map(_.get(1))
          val rewrites = matched.filter(r => r.getLong(2) < r.getLong(3)).map(_.get(1))
          retractBatchCells(batchRel, pc, rewrites.toSeq, empties.toSeq, mark)
      }
    }
  }

  /** Rewrite the matched `pc=` cells of ONE delta in a single job
    * (staging tree + atomic plan marker — the log side's shape), and
    * tombstone-delete its fully-emptied cells under the same plan. */
  private def retractBatchCells(batchRel: String, pc: String,
      rewrites: Seq[Any], empties: Seq[Any], mark: DataFrame => DataFrame): Unit = {
    import org.apache.spark.sql.functions.col
    val rwNames = rewrites.map(v => s"$pc=$v")
    val emptyNames = empties.map(v => s"$pc=$v")
    if (rewrites.nonEmpty) {
      FsLists.deleteTree(retractTmp)
      val batchDir = root.resolve(batchRel)
      // one-batch discovery (lists only this delta's cell dirs); the
      // isin prunes the scan to the matched cells
      val src = spark.read.option("basePath", batchDir.toString).parquet(batchDir.toString)
      mark(src).where(!col(graft.core.ParquetLog.hitCol))
        .where(col(pc).isin(rewrites: _*))
        .select(src.columns.toSeq.map(n => col(s"`$n`")): _*)
        .write.partitionBy(pc).parquet(retractTmp.toString)
    }
    writeAtomic(retractMarker,
      s"MULTIB $batchRel rw=${rwNames.mkString(",")} empty=${emptyNames.mkString(",")}")
    applyCellPlan(batchRel, rwNames, emptyNames)
    Files.delete(retractMarker)
    FsLists.deleteTree(retractTmp)
  }


  /** Replace ONE `batch=` delta's content wholesale under the retract
    * marker-commit protocol (write tmp → marker → delete unit → move
    * tmp in; recovered at open by [[DeltaProtocol.recoverRetract]]'s
    * adopt-the-complete-tmp arm). For views whose takedown REPAIRS a
    * delta rather than just filtering it — the hashtable lands its
    * recomputed affected keys this way. `content` must be computed
    * from frames that survive the swap (materialized, or reading other
    * dirs). */
  protected def swapUnit(rel: String, content: DataFrame): Unit = {
    if (content.isEmpty) {
      // Spark writes no part files for an empty frame — the unit would
      // become a schema-less dir no reader can infer. The protocol's
      // answer is the EMPTY tombstone: delete the unit outright
      // (recovered at open by the same marker arm).
      writeAtomic(retractMarker, s"$rel EMPTY")
      val unit = root.resolve(rel)
      FsLists.deleteTree(unit)
      Files.delete(retractMarker)
      return
    }
    FsLists.deleteTree(retractTmp)
    content.write.parquet(retractTmp.toString)
    writeAtomic(retractMarker, rel) // commit point (valid with tmp/_SUCCESS)
    val unit = root.resolve(rel)
    FsLists.deleteTree(unit)
    Files.move(retractTmp, unit)
    Files.delete(retractMarker)
  }

  /** Rewrite (keep = NOT marked) or tombstone-delete (`mark` = None) one
    * storage unit under the marker-commit protocol. */
  private def retractUnit(rel: String, mark: Option[DataFrame => DataFrame]): Unit = {
    val unit = root.resolve(rel)
    mark match {
      case None =>
        writeAtomic(retractMarker, s"$rel EMPTY")
        FsLists.deleteTree(unit)
        Files.delete(retractMarker)
      case Some(m) =>
        import org.apache.spark.sql.functions.col
        FsLists.deleteTree(retractTmp)
        // unit files hold the stored data columns (partition values are
        // directory-encoded): read the one directory with its own footer
        // schema, keep the misses, preserving the stored column order
        val raw = ParquetFooters.read(spark, unit)
        m(raw).where(!col(graft.core.ParquetLog.hitCol))
          .select(raw.columns.toSeq.map(n => col(s"`$n`")): _*)
          .write.parquet(retractTmp.toString)
        writeAtomic(retractMarker, rel) // commit point (valid with tmp/_SUCCESS)
        FsLists.deleteTree(unit)
        Files.move(retractTmp, unit)
        Files.delete(retractMarker)
    }
  }

  /** The shared tmp → marker → swap rewrite under the compaction crash
    * protocol: collapse `dirs` into one base delta holding `merged`. */
  private def rewriteChain(merged: DataFrame, dirs: Seq[Path]): Unit = {
    if (Files.exists(compactMarker)) Files.delete(compactMarker)
    FsLists.deleteTree(compactTmp)
    writeMerged(merged, compactTmp)
    wrote(merged)
    Files.writeString(compactMarker, sinceSeq.toString) // tmp is now the commit point
    dirs.foreach(p => FsLists.deleteTree(p))
    Files.move(compactTmp, batchPath(sinceSeq))
    Files.delete(compactMarker)
  }
}
