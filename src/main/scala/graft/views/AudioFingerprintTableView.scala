package graft.views

import graft.core.ViewDef
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Durable, streaming-maintainable audio-fingerprint table — the audio
  * rung of the multimodal dedup ladder (one-shot → stored table →
  * incremental), mirroring [[PhashTableView]]: media rows append to the
  * log, each absorbed batch lands its `(media_id, afp)` rows
  * ([[graft.ops.Multimodal.audioFingerprint]] — the windowed-energy
  * difference hash computed ONCE, at ingest) as a batch-atomic parquet
  * delta, and every new audio batch near-dup checks against the whole
  * stored corpus via
  * [[graft.ops.Multimodal.audioNearDupIncremental]] — recurring cost ∝
  * batch, never corpus.
  *
  * Storage is the shared [[FeatureTableView]] body. At cluster scale
  * this 8-bytes-per-recording table is the hot artifact an
  * ASR-ingest dedup keeps while the waveforms stay cold.
  */
final class AudioFingerprintTableView(
    spark: SparkSession,
    dir: String,
    protocolVersion: Int,
    minWindowSamples: Int = 16,
    nBits: Int = 64,
    compactEvery: Int = 0)
    extends FeatureTableView(spark, dir, protocolVersion, compactEvery, "fingerprint table") {

  /** Decode + fingerprint (each recording hashed exactly once, at
    * ingest): `(media_id, n_windows, afp)` — the window count is stored
    * beside the fingerprint because
    * [[graft.ops.Multimodal.audioNearDup]]'s length gate needs it at
    * dedup time without re-touching the waveform. */
  def features(entries: DataFrame): DataFrame =
    graft.ops.Multimodal.audioFingerprint(entries, minWindowSamples, nBits)

  protected def project(features: DataFrame): DataFrame =
    features.select("media_id", "n_windows", "afp")

  def absorbFingerprints(fps: DataFrame, upto: Long): Unit = absorbFeatures(fps, upto)

  /** The accumulated `(media_id, n_windows, afp)` table — feed to
    * [[graft.ops.Multimodal.audioNearDupIncremental]]. */
  def fingerprints: DataFrame = table

  /** Near-dup check of a new media batch against the stored corpus;
    * `dedupBatchFingerprints` when the batch's prints are precomputed. */
  def dedupBatch(media: DataFrame, maxHamming: Int = 7, maxBucket: Int = 256): DataFrame =
    dedupBatchFingerprints(features(media), maxHamming, maxBucket)

  def dedupBatchFingerprints(newFps: DataFrame, maxHamming: Int = 7,
      maxBucket: Int = 256): DataFrame =
    graft.ops.Multimodal.audioNearDupIncremental(
      newFps, fingerprints, maxHamming, maxBucket)
}

object AudioFingerprintTableView {
  // default version 2: v2 added the n_windows column (the near-dup
  // length gate) and duration-proportional fingerprint windows — a v1
  // table reopened under v2 wipes and rebuilds per the protocol rule
  def apply(dir: String, minWindowSamples: Int = 16, nBits: Int = 64,
      version: Int = 2, compactEvery: Int = 0): ViewDef =
    ViewDef(version)((db, name) => new AudioFingerprintTableView(
      db.log.spark, s"$dir/$name", version, minWindowSamples, nBits, compactEvery))
}
