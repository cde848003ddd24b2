package graft.views

import graft.core.{FlumeView, ViewDef}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.StorageBridge
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

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
  *
  * `entrySchema` is the schema of the entries it absorbs, when the
  * mounting db knows it: an empty store's frame takes its schema from
  * it.
  */
final class PersistentIndexView private[views] (
    protected val spark: SparkSession,
    protected val dir: String,
    protected val protocolVersion: Int,
    keys: Column,
    seqCol: String,
    val indexedColumn: Option[String],
    val indexedColumns: Option[Seq[String]],
    compactEvery: Int,
    entrySchema: Option[() => StructType])
    extends FlumeView with CompactableDeltas with graft.core.SeqRetractableView {

  def this(spark: SparkSession, dir: String, protocolVersion: Int, keys: Column, seqCol: String,
      indexedColumn: Option[String] = None, indexedColumns: Option[Seq[String]] = None,
      compactEvery: Int = 0) =
    this(spark, dir, protocolVersion, keys, seqCol, indexedColumn, indexedColumns, compactEvery, None)

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

  private def postings(entries: DataFrame): DataFrame =
    entries.select(explode(keys).as("key"), col(seqCol).as("seq"))

  def absorb(entries: DataFrame, upto: Long): Unit = {
    writeDelta(postings(entries), upto)
    sinceSeq = upto
    writeManifest() // delta is durable before the cursor moves
    maybeCompact()
  }

  /** The postings, read with the stored schema. An empty store reads as
    * no rows of the schema its deltas have or will have: the stored one,
    * else that of the postings of `entrySchema`, else `(key string, seq
    * long)`. */
  def frame: DataFrame = {
    def empty(s: StructType) = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], s)
    val dirs = committedBatchDirs()
    if (dirs.nonEmpty) readDeltas(dirs)
    else empty(storedSchema
      .orElse(entrySchema.map(s => StorageBridge.asRead(postings(empty(s())).schema)))
      .getOrElse(PersistentIndexView.untyped))
  }

  override def frameOption: Option[DataFrame] = Some(frame)

  /** A key's postings in seq order: the global sort runs as three jobs
    * (range sample, shuffle, result), safe at any posting count. */
  def get(key: String): DataFrame =
    frame.where(col("key") === lit(key)).orderBy("seq")
}

object PersistentIndexView {
  private val untyped = StructType(Seq(StructField("key", StringType), StructField("seq", LongType)))

  private def mounted(db: graft.core.FlumeDb, dir: String, version: Int, keys: Column, seqCol: String,
      indexedColumn: Option[String], indexedColumns: Option[Seq[String]], compactEvery: Int) =
    new PersistentIndexView(db.log.spark, dir, version, keys, seqCol, indexedColumn, indexedColumns,
      compactEvery, Some(() => db.mapped.schema))

  def apply(dir: String, keys: Column, seqCol: String = "seq", version: Int = 1, compactEvery: Int = 0): ViewDef =
    ViewDef(version)((db, name) =>
      mounted(db, s"$dir/$name", version, keys, seqCol, None, None, compactEvery))

  /** Durable single-column equality index, eligible for [[Query]] index
    * selection (see [[IndexView.onColumn]]). */
  def onColumn(dir: String, column: String, seqCol: String = "seq", version: Int = 1, compactEvery: Int = 0): ViewDef =
    ViewDef(version)((db, name) => mounted(db, s"$dir/$name", version,
      array(col(column).cast("string")), seqCol, Some(column), None, compactEvery))

  /** Durable composite equality index (see [[IndexView.onColumns]]). */
  def onColumns(dir: String, columns: Seq[String], seqCol: String = "seq",
      version: Int = 1, compactEvery: Int = 0): ViewDef = {
    require(columns.size >= 2, "composite index needs >= 2 columns; use onColumn")
    ViewDef(version)((db, name) => mounted(db, s"$dir/$name", version,
      IndexView.compositeKeys(columns), seqCol, None, Some(columns.toList), compactEvery))
  }
}
