package graft.views

import graft.core.ViewDef
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Durable, streaming-maintainable per-frame video-hash table — the
  * video twin of [[PhashTableView]], completing the modality ladder's
  * last rung (one-shot → stored → incremental): media rows append to
  * the log, each absorbed batch lands its `(media_id, frame_idx,
  * phash)` rows ([[graft.ops.Multimodal.videoFrameHashes]] — each
  * frame dHashed ONCE, at ingest) as a batch-atomic parquet delta, and
  * every new video batch near-dup checks against the whole stored
  * corpus via [[graft.ops.Multimodal.videoNearDupIncremental]] —
  * recurring cost ∝ batch, never corpus.
  *
  * Frame indexes are load-bearing (the frame-aligned match and the
  * full-frame-count gate need them), so deltas union raw and
  * compaction rewrites without a fold. Storage is the shared
  * [[FeatureTableView]] body. ~8 bytes per frame stays hot while
  * the video bytes stay cold. */
final class FrameHashTableView(
    spark: SparkSession,
    dir: String,
    protocolVersion: Int,
    hashW: Int = 8,
    hashH: Int = 8,
    compactEvery: Int = 0)
    extends FeatureTableView(spark, dir, protocolVersion, compactEvery, "frame-hash table") {

  /** Decode + per-frame dHash: `(media_id, frame_idx, phash)`. */
  def features(entries: DataFrame): DataFrame =
    graft.ops.Multimodal.videoFrameHashes(entries, hashW, hashH)

  protected def project(features: DataFrame): DataFrame =
    features.select("media_id", "frame_idx", "phash")

  def absorbHashes(hashes: DataFrame, upto: Long): Unit = absorbFeatures(hashes, upto)

  /** The accumulated per-frame hash table. */
  def hashes: DataFrame = table

  /** Corpus-SELF containment sweep over the stored table: every
    * shorter stored video that is a frame-run re-cut of any longer one
    * ([[graft.ops.Multimodal.videoContainmentSweep]] — the reupload
    * sweep, over frame hashes computed once at ingest). */
  def containmentSweep(maxHamming: Int = 7, maxBucket: Int = 256): DataFrame =
    graft.ops.Multimodal.videoContainmentSweep(hashes, maxHamming, maxBucket)

  /** Near-dup check of a new video batch against the stored corpus;
    * `dedupBatchHashes` when the batch's frame hashes are precomputed. */
  def dedupBatch(media: DataFrame, maxHamming: Int = 7, maxBucket: Int = 256): DataFrame =
    dedupBatchHashes(features(media), maxHamming, maxBucket)

  def dedupBatchHashes(newHashes: DataFrame, maxHamming: Int = 7,
      maxBucket: Int = 256): DataFrame =
    graft.ops.Multimodal.videoNearDupIncremental(
      newHashes, hashes, maxHamming, maxBucket)
}

object FrameHashTableView {
  def apply(dir: String, hashW: Int = 8, hashH: Int = 8,
      version: Int = 1, compactEvery: Int = 0): ViewDef =
    ViewDef(version)((db, name) =>
      new FrameHashTableView(db.log.spark, s"$dir/$name", version, hashW, hashH, compactEvery))
}
