package graft.views

import graft.core.ViewDef
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Durable, streaming-maintainable perceptual-hash table — the image
  * twin of [[SignatureTableView]], completing the multimodal dedup
  * ladder (one-shot → stored table → incremental): media rows append to
  * the log, each absorbed batch lands its `(media_id, phash)` rows
  * ([[graft.ops.Multimodal.perceptualHash]] — the dHash computed ONCE,
  * at ingest) as a batch-atomic parquet delta, and every new image
  * batch near-dup checks against the whole stored corpus via
  * [[graft.ops.Multimodal.perceptualNearDupIncremental]] — recurring
  * cost ∝ batch, never corpus.
  *
  * Storage is the shared [[FeatureTableView]] body. At cluster scale
  * this 8-bytes-per-image table is the stored artifact
  * image dedup pipelines keep hot while the image bytes stay cold.
  */
final class PhashTableView(
    spark: SparkSession,
    dir: String,
    protocolVersion: Int,
    hashW: Int = 8,
    hashH: Int = 8,
    compactEvery: Int = 0)
    extends FeatureTableView(spark, dir, protocolVersion, compactEvery, "phash table") {

  /** Decode + dHash (each image hashed exactly once, at ingest). */
  def features(entries: DataFrame): DataFrame =
    graft.ops.Multimodal.perceptualHash(entries, hashW, hashH)

  protected def project(features: DataFrame): DataFrame =
    features.select("media_id", "phash")

  def absorbHashes(hashes: DataFrame, upto: Long): Unit = absorbFeatures(hashes, upto)

  /** The accumulated `(media_id, phash)` table — feed to
    * [[graft.ops.Multimodal.perceptualNearDupIncremental]]. */
  def hashes: DataFrame = table

  /** Near-dup check of a new media batch against the stored corpus;
    * `dedupBatchHashes` when the batch's hashes are precomputed. */
  def dedupBatch(media: DataFrame, maxHamming: Int = 7, maxBucket: Int = 256): DataFrame =
    dedupBatchHashes(features(media), maxHamming, maxBucket)

  def dedupBatchHashes(newHashes: DataFrame, maxHamming: Int = 7,
      maxBucket: Int = 256): DataFrame =
    graft.ops.Multimodal.perceptualNearDupIncremental(
      newHashes, hashes, maxHamming, maxBucket)
}

object PhashTableView {
  def apply(dir: String, hashW: Int = 8, hashH: Int = 8,
      version: Int = 1, compactEvery: Int = 0): ViewDef =
    ViewDef(version)((db, name) =>
      new PhashTableView(db.log.spark, s"$dir/$name", version, hashW, hashH, compactEvery))
}
