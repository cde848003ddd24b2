package graft.views

import graft.core.{Fence, ViewDef}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{array, bit_count, broadcast, coalesce, col, lit, round, typedLit}

/** Durable, streaming-maintainable hyperplane-signature table — the
  * EMBEDDING rung of the stored-dedup ladder, completing the set
  * ([[SignatureTableView]] text, [[PhashTableView]] image,
  * [[AudioFingerprintTableView]] audio, [[FrameHashTableView]] video):
  * embedding rows append to the log, each absorbed batch lands its
  * `(vec_id, sig)` rows ([[graft.ops.Similarity.hyperplaneSignature]] —
  * the banded-LSH signature computed ONCE, at ingest, one codegen'd
  * pass) as a batch-atomic parquet delta, and every new embedding batch
  * near-dup checks against the whole stored corpus via
  * [[graft.ops.Dedup.embeddingNearDupIncrementalFromSigs]] — recurring
  * cost ∝ batch, never corpus. The table stores SIGNATURES only
  * (8 bytes per vector); the exact-cosine verify joins vectors by id
  * from the corpus the caller supplies, so the embeddings are never
  * duplicated into the artifact and move the wire only for candidates.
  *
  * Storage is the shared [[FeatureTableView]] body. */
final class EmbeddingSigTableView(
    spark: SparkSession,
    dir: String,
    protocolVersion: Int,
    val idCol: String = "vec_id",
    val vecCol: String = "embedding",
    val bands: Int = 4,
    val bitsPerBand: Int = 8,
    compactEvery: Int = 0)
    extends FeatureTableView(spark, dir, protocolVersion, compactEvery, "signature table") {

  /** Signature each vector (exactly once, at ingest): `(vec_id,
    * embedding, sig[, seq])` — the vector rides along for callers that
    * verify the batch, and is not stored. */
  def features(entries: DataFrame): DataFrame =
    entries.select(Seq(col(idCol), col(vecCol),
      graft.ops.Similarity.hyperplaneSignature(col(vecCol), bands * bitsPerBand).as("sig")) ++
      (if (entries.columns.contains("seq")) Seq(col("seq")) else Nil): _*)

  /** Stores `(vec_id, sig, seq)`. `seq` — the vector's seq in the
    * corpus LOG the verify side reads — is 8 more bytes/vector and is
    * what lets the incremental verify prune the seq-bucketed corpus
    * scan to candidate buckets
    * ([[graft.ops.Dedup.embeddingNearDupIncrementalPruned]]); batches
    * absorbed without one store -1 (= unknown, verify falls back to the
    * full corpus read for candidates in them). */
  protected def project(features: DataFrame): DataFrame = {
    val seqCol =
      if (features.columns.contains("seq")) col("seq").cast("long")
      else lit(-1L)
    features.select(col(idCol), col("sig"), seqCol.as("seq"))
  }

  /** Absorb a PRECOMPUTED `(vec_id, sig[, seq])` delta. */
  def absorbSigs(sigs: DataFrame, upto: Long): Unit = absorbFeatures(sigs, upto)

  /** The accumulated `(vec_id, sig, seq)` table. */
  def sigs: DataFrame = table

  /** Delta reads normalize the seq column across UPGRADE boundaries: a
    * chain mixing pre-seq `(vec_id, sig)` deltas with stamped ones is
    * read with schema merge and nulls backfilled to -1 (= unknown, the
    * pruned verify's fence falls back to the full corpus read for such
    * candidates) — without this, parquet would surface whichever
    * schema it sampled first: null seqs crashing the bucket collect,
    * or no seq column at all, which a compaction would then bake in,
    * permanently stripping the stamped rows' pruning metadata. */
  override protected def readDeltas(dirs: Seq[java.nio.file.Path]): DataFrame = {
    val df = spark.read.option("mergeSchema", "true").parquet(dirs.map(_.toString): _*)
    if (df.columns.contains("seq"))
      df.withColumn("seq", coalesce(col("seq"), lit(-1L)))
    else df.withColumn("seq", lit(-1L))
  }

  /** Near-dup check of a new embedding batch against the stored
    * corpus; `storedVectors` supplies the verify join's embeddings
    * (the corpus table the signatures were built from). */
  def dedupBatch(newEmbeddings: DataFrame, storedVectors: DataFrame,
      threshold: Double = 0.95, maxBucket: Int = 1024): DataFrame =
    graft.ops.Dedup.embeddingNearDupIncrementalFromSigs(
      newEmbeddings, sigs, storedVectors, idCol, vecCol,
      bands, bitsPerBand, threshold, maxBucket)

  /** ANN search served from the SAME stored signature artifact the
    * dedup path uses — ingest maintains ONE `(vec_id, sig)` table for
    * both near-dup checks ([[dedupBatch]]) and similarity serving.
    * Filter-then-refine: the hamming prefilter scans only the 8-byte
    * `sig` column (the whole point of the stored artifact — no
    * nBits × dim recompute per query, vectors stay cold); survivor ids
    * join the corpus vectors for the exact-cosine top-k, count-fenced
    * broadcast with a shuffle fallback exactly like the incremental
    * dedup stages (a degenerate corpus where most signatures land
    * within `maxHamming` must not pin a driver-sized broadcast). */
  def annSearch(
      queryVec: Seq[Float],
      storedVectors: DataFrame,
      k: Int,
      maxHamming: Int = 12,
      excludeId: Option[Long] = None,
      maxBroadcastKeys: Long = 4L * 1000 * 1000): DataFrame = {
    val nBits = bands * bitsPerBand
    val qSig = spark.range(1)
      .select(graft.ops.Similarity.hyperplaneSignature(
        typedLit(queryVec).cast("array<float>"), nBits).as("qsig"))
      .head().getLong(0)
    val base = excludeId.fold(sigs)(i => sigs.where(col(idCol) =!= i))
    val cand = base
      .where(bit_count(col("sig").bitwiseXOR(lit(qSig))) <= maxHamming)
      .select(idCol)
    storedVectors.select(col(idCol), col(vecCol))
      .join(if (Fence.broadcastable(cand, maxBroadcastKeys)) broadcast(cand) else cand, Seq(idCol))
      .select(col(idCol),
        round(graft.ops.Similarity.cosine(col(vecCol),
          array(queryVec.map(v => lit(v)): _*)), 4).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }
}

object EmbeddingSigTableView {
  def apply(dir: String, idCol: String = "vec_id", vecCol: String = "embedding",
      bands: Int = 4, bitsPerBand: Int = 8,
      version: Int = 1, compactEvery: Int = 0): ViewDef =
    ViewDef(version)((db, name) => new EmbeddingSigTableView(db.log.spark, s"$dir/$name",
      version, idCol, vecCol, bands, bitsPerBand, compactEvery))
}
