package graft.views

import graft.core.{FlumeView, ViewDef}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Durable flumeview-level index: posting lists `(key, seq)` stored via
  * the shared [[DeltaProtocol]] (batch-atomic parquet deltas + manifest
  * `(version, since)`).
  *
  * Implements flume's full view lifecycle contract:
  *  - incremental: each absorbed batch lands under `batch=<upto>/`, so
  *    restart resumes from the manifest cursor instead of replaying the
  *    log (`/root/reference/index.js:36-39`);
  *  - crash-safe: the manifest is written after the delta — an orphaned
  *    uncommitted batch directory is ignored by readers and overwritten
  *    on retry;
  *  - version-triggered rebuild: a mounted view whose stored version
  *    differs wipes its state and returns to since = -1, exactly the
  *    "version number changes ⇒ just rebuilds the view" rule
  *    (`/root/reference/README.md:26-29`).
  *
  * At cluster scale the same layout is a partitioned table on object
  * storage; the manifest is the tiny driver-side commit record.
  */
final class PersistentIndexView(
    protected val spark: SparkSession,
    protected val dir: String,
    protected val protocolVersion: Int,
    keys: Column,
    seqCol: String,
    val indexedColumn: Option[String] = None,
    val indexedColumns: Option[Seq[String]] = None,
    compactEvery: Int = 0)
    extends FlumeView with CompactableDeltas with graft.core.SeqRetractableView {

  override protected def autoCompactEvery: Int = compactEvery

  openProtocol()

  /** db-level takedown/retention ([[graft.core.SeqRetractableView]]):
    * postings are `(key, seq)` — append-only, never folded — so
    * seq-keyed in-place deletion is exactly the rebuild result, served
    * by the pruned per-delta rewrite (only deltas containing matches
    * are touched). */
  def retractLogSeqs(seqs: DataFrame, logSeqCol: String): Unit =
    retractIds(seqs.select(col(logSeqCol).as("seq")), "seq")
  def expireLogSeqs(throughSeq: Long): Unit =
    retractWhere(col("seq") <= throughSeq)

  def absorb(entries: DataFrame, upto: Long): Unit = {
    entries.select(explode(keys).as("key"), col(seqCol).as("seq"))
      .write.mode("overwrite").parquet(batchPath(upto).toString)
    sinceSeq = upto
    writeManifest() // delta is durable before the cursor moves
    maybeCompact()
  }

  def frame: DataFrame = {
    val dirs = committedBatchDirs().map(_.toString)
    if (dirs.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("key", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("seq", org.apache.spark.sql.types.LongType))))
    else spark.read.parquet(dirs: _*)
  }

  override def frameOption: Option[DataFrame] = Some(frame)

  def get(key: String): DataFrame =
    frame.where(col("key") === lit(key)).orderBy("seq")
}

object PersistentIndexView {
  def apply(dir: String, keys: Column, seqCol: String = "seq", version: Int = 1, compactEvery: Int = 0): ViewDef =
    ViewDef(version)((db, name) => new PersistentIndexView(
      db.log.spark, s"$dir/$name", version, keys, seqCol, compactEvery = compactEvery))

  /** Durable single-column equality index, eligible for [[Query]] index
    * selection (see [[IndexView.onColumn]]). */
  def onColumn(dir: String, column: String, seqCol: String = "seq", version: Int = 1, compactEvery: Int = 0): ViewDef =
    ViewDef(version)((db, name) => new PersistentIndexView(db.log.spark, s"$dir/$name", version,
      array(col(column).cast("string")), seqCol, Some(column), compactEvery = compactEvery))

  /** Durable composite equality index (see [[IndexView.onColumns]]). */
  def onColumns(dir: String, columns: Seq[String], seqCol: String = "seq",
      version: Int = 1, compactEvery: Int = 0): ViewDef = {
    require(columns.size >= 2, "composite index needs >= 2 columns; use onColumn")
    ViewDef(version)((db, name) => new PersistentIndexView(db.log.spark, s"$dir/$name", version,
      IndexView.compositeKeys(columns), seqCol,
      None, Some(columns.toList), compactEvery = compactEvery))
  }
}
