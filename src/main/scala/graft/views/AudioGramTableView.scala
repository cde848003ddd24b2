package graft.views

import graft.core.ViewDef
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Durable, streaming-maintainable positional audio-gram table — the
  * audio twin of [[GramTableView]], completing the containment rung's
  * ladder (one-shot → stored → incremental): media rows append to the
  * log, each absorbed batch lands its `(media_id, pos, gram)` rows
  * ([[graft.ops.Multimodal.audioGrams]] — energy-sign grams computed
  * ONCE, at ingest) as a batch-atomic parquet delta, and every new
  * clip batch containment-checks against the whole stored corpus via
  * [[graft.ops.Multimodal.audioClipContainmentFromGrams]] — recurring
  * cost ∝ batch, never corpus.
  *
  * Unlike the text gram table (distinct fingerprints), positions are
  * load-bearing here — the full-alignment count needs them — so
  * deltas union raw and compaction just rewrites them into one base
  * (no dedup fold). Storage is the shared [[FeatureTableView]] body. */
final class AudioGramTableView(
    spark: SparkSession,
    dir: String,
    protocolVersion: Int,
    windowSamples: Int = 16,
    gramWindows: Int = 24,
    compactEvery: Int = 0,
    hopSamples: Int = -1)
    extends FeatureTableView(spark, dir, protocolVersion, compactEvery, "gram table") {

  /** Decode + gram (each recording grammed exactly once, at ingest):
    * `(media_id, pos, gram)`. */
  def features(entries: DataFrame): DataFrame =
    graft.ops.Multimodal.audioGrams(entries, windowSamples, gramWindows, hopSamples)

  protected def project(features: DataFrame): DataFrame =
    features.select("media_id", "pos", "gram")

  def absorbGrams(grams: DataFrame, upto: Long): Unit = absorbFeatures(grams, upto)

  /** The accumulated positional gram table. */
  def grams: DataFrame = table

  /** Corpus-SELF containment sweep over the stored table: every
    * shorter stored recording that is a re-cut of any longer one
    * ([[graft.ops.Multimodal.audioContainmentSweepFromGrams]] — the
    * reupload sweep, run over grams computed once at ingest). */
  def containmentSweep(maxBucket: Int = 256): DataFrame =
    graft.ops.Multimodal.audioContainmentSweepFromGrams(grams, maxBucket)

  /** Containment check of a clip batch against the stored corpus;
    * `containsBatchGrams` when the batch's grams are precomputed. */
  def containsBatch(clips: DataFrame, maxBucket: Int = 256): DataFrame =
    containsBatchGrams(
      features(clips).select(col("media_id").as("clip_id"), col("pos").as("kpos"), col("gram")),
      maxBucket)

  def containsBatchGrams(clipGrams: DataFrame, maxBucket: Int = 256): DataFrame =
    graft.ops.Multimodal.audioClipContainmentFromGrams(
      clipGrams,
      grams.select(col("media_id").as("corpus_id"), col("pos").as("cpos"), col("gram")),
      maxBucket)
}

object AudioGramTableView {
  // hopSamples < windowSamples maintains an OVERLAPPING-hop gram table
  // (hop = ws/2 is the standard point): hop/ws × more rows, cuts at any
  // hop multiple detectable — pick per deployment and keep both sides
  // (ingest + clip probes) on the same hop. A changed hop is a changed
  // artifact: bump `version` so the protocol wipes and regrams.
  def apply(dir: String, windowSamples: Int = 16, gramWindows: Int = 24,
      version: Int = 1, compactEvery: Int = 0, hopSamples: Int = -1): ViewDef =
    ViewDef(version)((db, name) => new AudioGramTableView(
      db.log.spark, s"$dir/$name", version, windowSamples, gramWindows, compactEvery, hopSamples))
}
