package graft.views

import graft.core.FlumeView
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The ONE stored feature table: the shared body of every dedup
  * artifact view (MinHash signatures, image/video dHashes, text and
  * audio grams, audio fingerprints, embedding sketches). Each absorbed
  * batch runs the view's extractor ([[features]]) ONCE, at ingest, and
  * lands the stored projection as a batch-atomic `batch=<upto>` delta
  * under the shared [[DeltaProtocol]] (manifest after delta ⇒
  * crash-safe; orphan pruning at open; version bump ⇒ wipe and
  * rebuild) with [[CompactableDeltas]] bounding the small-files chain,
  * so every subclass slots under
  * [[graft.streaming.StreamingViewRunner]] with exactly-once recovery.
  *
  * A subclass supplies only its log-to-state mapping — the extractor
  * and the stored columns — plus its modality reads. The streaming
  * curator featurizes and absorbs through the same pair
  * ([[graft.streaming.MediaDedupBinding]]), so the features a curated
  * batch stores are exactly the ones the view itself computes.
  *
  * `protocolVersion` is read by [[openProtocol]] in THIS constructor,
  * before any subclass body runs: a subclass that derives its stored
  * version must pass the derived value up here, never override it with
  * a body `val` (that still reads 0 at open and wipes the store). */
abstract class FeatureTableView(
    protected val spark: SparkSession,
    protected val dir: String,
    protected val protocolVersion: Int,
    compactEvery: Int,
    tableName: String) extends FlumeView with FeatureTableDeltas {

  override protected def autoCompactEvery: Int = compactEvery

  openProtocol()

  /** The extractor: log entries → feature rows, keyed by id. */
  def features(entries: DataFrame): DataFrame

  /** The stored columns of a feature frame. */
  protected def project(features: DataFrame): DataFrame

  def absorb(entries: DataFrame, upto: Long): Unit =
    absorbFeatures(features(entries), upto)

  /** Absorb PRECOMPUTED feature rows — for callers (the streaming
    * curator) that already paid the extractor for their own dedup
    * decision and must not pay it again. */
  def absorbFeatures(features: DataFrame, upto: Long): Unit = {
    writeDelta(project(features), upto)
    sinceSeq = upto
    writeManifest()
    maybeCompact()
  }

  /** The accumulated stored table, read with the stored schema. */
  def table: DataFrame = {
    val dirs = committedBatchDirs()
    require(dirs.nonEmpty, s"$tableName empty — absorb a batch first")
    readDeltas(dirs)
  }

  override def frameOption: Option[DataFrame] =
    if (committedBatchDirs().isEmpty) None else Some(table)
}
