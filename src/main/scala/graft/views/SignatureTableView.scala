package graft.views

import graft.core.ViewDef
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}

/** Durable, streaming-maintained MinHash signature table — the
  * continuous-curation bridge between the flume view machinery and the
  * dedup stack: documents append to the log, each absorbed batch lands
  * its `(id, hs, sig)` rows ([[graft.ops.Dedup.signatureTable]]) as a
  * batch-atomic parquet delta, and every new batch can be near-dup
  * checked against the WHOLE corpus so far via
  * [[graft.ops.Dedup.minhashLshIncrementalStored]] — recurring cost
  * ∝ batch, never corpus, with the signature pass itself incremental
  * (each document's shingles are hashed exactly once, at ingest).
  *
  * Storage is the shared [[FeatureTableView]] body. At cluster scale
  * this is the stored signature artifact every production dedup
  * pipeline keeps — here it is also a first-class flume view with a
  * cursor and the rebuild contract.
  */
final class SignatureTableView(
    spark: SparkSession,
    dir: String,
    protocolVersion: Int,
    val idCol: String,
    val textCol: String,
    val perms: Int = 64,
    compactEvery: Int = 0)
    extends FeatureTableView(spark, dir, protocolVersion, compactEvery, "signature table") {

  def features(entries: DataFrame): DataFrame =
    graft.ops.Dedup.signatureTable(entries, idCol, textCol, perms)

  protected def project(features: DataFrame): DataFrame =
    features.select(col("id").cast("long").as("id"), col("hs"), col("sig"))

  /** Absorb a PRECOMPUTED `(id, hs, sig)` delta. */
  def absorbSigs(sigTable: DataFrame, upto: Long): Unit = absorbFeatures(sigTable, upto)

  /** The accumulated `(id, hs, sig)` table — feed to
    * [[graft.ops.Dedup.minhashLshIncrementalStored]]. */
  def sigs: DataFrame = table
}

object SignatureTableView {
  /** The stored `(id, hs, sig)` schema, as parquet reads it back. */
  val schema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("hs", ArrayType(LongType)),
    StructField("sig", ArrayType(LongType))))

  def apply(dir: String, idCol: String = "doc_id", textCol: String = "text",
      perms: Int = 64, version: Int = 1, compactEvery: Int = 0): ViewDef =
    ViewDef(version)((db, name) =>
      new SignatureTableView(db.log.spark, s"$dir/$name", version, idCol, textCol, perms, compactEvery))
}
