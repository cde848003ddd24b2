package graft.views

import graft.core.{FlumeDb, FlumeView, ViewDef}
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
  * Storage is the shared [[DeltaProtocol]] (manifest after delta ⇒
  * crash-safe; orphan pruning at open; version bump ⇒ wipe and
  * rebuild), so it slots under [[graft.streaming.StreamingViewRunner]]
  * with exactly-once recovery. At cluster scale this is the stored
  * signature artifact every production dedup pipeline keeps — here it
  * is also a first-class flume view with a cursor and the rebuild
  * contract.
  */
final class SignatureTableView(
    protected val spark: SparkSession,
    protected val dir: String,
    protected val protocolVersion: Int,
    idCol: String,
    textCol: String,
    perms: Int = 64,
    compactEvery: Int = 0) extends FlumeView with FeatureTableDeltas {

  override protected def autoCompactEvery: Int = compactEvery

  openProtocol()

  def absorb(entries: DataFrame, upto: Long): Unit =
    absorbSigs(graft.ops.Dedup.signatureTable(entries, idCol, textCol, perms), upto)

  /** Absorb a PRECOMPUTED `(id, hs, sig)` delta — for callers (the
    * streaming curator) that already paid the signature pass for their
    * dedup decision and must not pay it again. */
  def absorbSigs(sigTable: DataFrame, upto: Long): Unit = {
    sigTable.select(col("id").cast("long").as("id"), col("hs"), col("sig"))
      .write.mode("overwrite").parquet(batchPath(upto).toString)
    sinceSeq = upto
    writeManifest()
    maybeCompact()
  }

  /** The accumulated `(id, hs, sig)` table — feed to
    * [[graft.ops.Dedup.minhashLshIncrementalStored]]. */
  def sigs: DataFrame = {
    val dirs = committedBatchDirs().map(_.toString)
    require(dirs.nonEmpty, "signature table empty — absorb a batch first")
    // the written schema, given: no footer-inference job per read
    spark.read.schema(SignatureTableView.schema).parquet(dirs: _*)
  }

  override def frameOption: Option[DataFrame] =
    if (committedBatchDirs().isEmpty) None else Some(sigs)
}

object SignatureTableView {
  /** The stored `(id, hs, sig)` schema, as parquet reads it back. */
  val schema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("hs", ArrayType(LongType)),
    StructField("sig", ArrayType(LongType))))

  def apply(dir: String, idCol: String = "doc_id", textCol: String = "text",
      perms: Int = 64, version: Int = 1, compactEvery: Int = 0): ViewDef = {
    val v = version
    new ViewDef {
      def version: Int = v
      def create(db: FlumeDb, name: String) =
        new SignatureTableView(db.log.spark, s"$dir/$name", v, idCol, textCol, perms, compactEvery)
    }
  }
}
