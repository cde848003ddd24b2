package graft.views

import graft.core.ParquetLog
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.StorageBridge

import java.nio.file.{Files, Paths}

/** Cross-artifact corpus retraction (takedown): remove documents from
  * the curated LOG ([[graft.core.ParquetLog.retract]] — the pruned
  * per-bucket rewrite) AND their feature rows from the modality tables
  * (`retractWhere`/`retractIds` — the pruned per-delta rewrite),
  * atomically enough for a pretraining pipeline: an INTENT is made
  * durable before either rewrite, so a crash in the window between them
  * (log rewritten, feature delete lost — the dangerous half-state, where
  * a re-ingested near-dup of the retracted doc would still be dropped
  * against ghost signatures) is closed by [[recover]] at the next open.
  * Both halves are idempotent (retracting absent rows rewrites nothing /
  * rewrites to the same state), so the replay is unconditional
  * re-execution — which also finishes any buckets/deltas a crash left
  * un-rewritten mid-takedown (each storage unit is individually
  * crash-safe; the intent replay provides whole-takedown completion).
  *
  * Two id-list forms share one intent protocol: a SMALL list travels
  * inline in the intent file (comma-joined); a BATCH list (rights-holder
  * requests of 10⁵–10⁶ ids) stays a DataFrame end to end — durably a
  * parquet directory beside the intent file, retracted via a
  * count-fenced broadcast anti-join instead of a million-literal `In`
  * expression that would blow up Catalyst and driver memory. The intent
  * file records which form is in flight (`@ids` = parquet), so one
  * [[recover]] replays either.
  *
  * This is the deletion story the reference's append-only model lacks
  * and a real corpus pipeline cannot ship without: rights-holder
  * takedowns and GDPR erasure must remove the BYTES — log rows, stored
  * signatures, and every snapshot that could resurrect them. */
object Retraction {

  /** Marker content of a batch (DataFrame) intent: the ids live in the
    * sibling `<intentFile>.ids` parquet directory. */
  private val BatchSentinel = "@ids"

  private def idsDir(intentFile: String): String = intentFile + ".ids"

  /** Take down `ids` (the log's `idCol` values) across the family.
    * Order: intent durable → log rewrite → feature rewrite → intent
    * cleared. Returns the number of log rows removed. Convenience form
    * for driver-scale lists — the intent travels inline (comma-joined)
    * instead of as a parquet sidecar — but the EXECUTION is the same
    * join path as the batch overload end to end: the feature callback
    * receives the ids as a DataFrame, so no caller ever builds an
    * `isin` literal that would stop scaling past driver-sized lists
    * (the r15 rule: id lists stay DataFrames in every takedown plan). */
  def retract(
      log: ParquetLog,
      idCol: String,
      ids: Seq[Long],
      retractFeatures: DataFrame => Unit,
      intentFile: String): Long = {
    writeIntent(intentFile, ids.mkString(","))
    val idsDf = seqToDf(log.spark, idCol, ids)
    val removed = log.retractIds(idsDf, idCol)
    retractFeatures(idsDf)
    Files.delete(Paths.get(intentFile))
    removed
  }

  /** Batch takedown: `ids` is a one-column DataFrame of `idCol` values
    * (any size — it is never collected). The intent is made durable as
    * a parquet id list plus an atomic marker naming it; the log and
    * feature rewrites run as count-fenced broadcast anti-joins. Returns
    * the number of log rows removed. */
  def retract(
      log: ParquetLog,
      idCol: String,
      ids: DataFrame,
      retractFeatures: DataFrame => Unit,
      intentFile: String): Long = {
    if (Files.exists(Paths.get(intentFile)))
      throw new IllegalStateException(
        s"an unrecovered takedown intent exists at $intentFile — run recover() first " +
          "(deleting its durable id list here would abandon an acknowledged erasure)")
    val dir = idsDir(intentFile)
    deleteDirIfExists(dir) // a stale UNCOMMITTED list from a prior crash
    val list = ids.select(col(idCol)).distinct()
    list.write.parquet(dir)
    // the parquet list is complete (_SUCCESS) — NOW commit the intent
    writeIntent(intentFile, BatchSentinel)
    val durable = log.spark.read.schema(StorageBridge.asRead(list.schema)).parquet(dir)
    val removed = log.retractIds(durable, idCol)
    retractFeatures(durable)
    Files.delete(Paths.get(intentFile))
    deleteDirIfExists(dir)
    removed
  }

  /** Close an interrupted takedown window: if an intent survives, both
    * halves re-run (idempotent) and the intent clears. Call at family
    * open, before serving reads. Returns the retracted ids (empty when
    * no window was open; `Seq(-1L)` for a batch-form window, whose ids
    * are never driver-enumerated). Like the retract arms, the feature
    * callback receives the id list as a DataFrame whichever form the
    * intent took — no replay path collects or builds an isin literal. */
  def recover(
      log: ParquetLog,
      idCol: String,
      retractFeatures: DataFrame => Unit,
      intentFile: String): Seq[Long] =
    recoverWith(log, idCol, intentFile,
      onSeq = ids => retractFeatures(seqToDf(log.spark, idCol, ids)),
      onBatch = retractFeatures)

  private def recoverWith(
      log: ParquetLog,
      idCol: String,
      intentFile: String,
      onSeq: Seq[Long] => Unit,
      onBatch: DataFrame => Unit): Seq[Long] = {
    val p = Paths.get(intentFile)
    // a leftover .tmp is a takedown that was never made durable (the
    // caller never got an acknowledgment) — discard it
    val tmp = Paths.get(intentFile + ".tmp")
    if (Files.exists(tmp)) Files.delete(tmp)
    if (!Files.exists(p)) {
      deleteDirIfExists(idsDir(intentFile)) // uncommitted parquet list
      return Seq.empty
    }
    val content = Files.readString(p).trim
    val replayed: Seq[Long] =
      if (content == BatchSentinel) {
        val durable = ParquetFooters.read(log.spark, Paths.get(idsDir(intentFile)))
        log.retractIds(durable, idCol)
        onBatch(durable)
        Seq(-1L) // batch form: ids are not driver-enumerated
      } else {
        val ids = content.split(",").filter(_.nonEmpty).map(_.toLong).toSeq
        if (ids.nonEmpty) {
          log.retractIds(seqToDf(log.spark, idCol, ids), idCol)
          onSeq(ids)
        }
        ids
      }
    Files.delete(p)
    deleteDirIfExists(idsDir(intentFile))
    replayed
  }

  private def seqToDf(spark: SparkSession, idCol: String, ids: Seq[Long]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(ids.map(org.apache.spark.sql.Row(_)), 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(idCol,
          org.apache.spark.sql.types.LongType, nullable = false))))

  /** The intent must be ALL-OR-NOTHING durable: a torn plain write would
    * make recover() execute a truncated id list (retracting a wrong
    * document, dropping the tail of the takedown) — write-then-atomic-
    * rename, the same commit protocol as every marker here. A SURVIVING
    * intent is a crashed takedown whose erasure was already acknowledged:
    * starting a new one would silently abandon it (and the batch form
    * would destroy its durable id list) — refuse until [[recover]] has
    * replayed it. */
  private def writeIntent(intentFile: String, content: String): Unit = {
    val p = Paths.get(intentFile)
    if (Files.exists(p))
      throw new IllegalStateException(
        s"an unrecovered takedown intent exists at $intentFile — run recover() " +
          "before starting a new takedown, or the crashed one's erasure is abandoned")
    if (p.getParent != null) Files.createDirectories(p.getParent)
    val tmp = Paths.get(intentFile + ".tmp")
    Files.writeString(tmp, content)
    Files.move(tmp, p, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  private def deleteDirIfExists(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) FsLists.walkDeepestFirst(p).foreach(Files.delete)
  }
}
