package graft.views

import graft.core.ViewDef
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Durable, streaming-maintainable k-gram fingerprint table — the
  * substring-dedup family's stored artifact as a flume view,
  * completing the view triad next to [[SignatureTableView]] (minhash)
  * and [[PhashTableView]] (images): documents append to the log, each
  * absorbed batch lands its DISTINCT 15-gram fingerprints
  * ([[graft.ops.Dedup.gramTable]] — tokenize + gram-hash paid once, at
  * ingest) as a batch-atomic parquet delta, and every new crawl batch
  * span-checks against the whole stored corpus via
  * [[graft.ops.Dedup.substringSpansIncremental]] — recurring cost ∝
  * batch, never corpus.
  *
  * Deltas may repeat grams across batches (each stores its own
  * distinct set); [[grams]] re-distincts at read, and compaction
  * collapses the chain into one deduplicated base — at 8 bytes per
  * distinct gram the artifact is a small fraction of the text.
  * Storage is the shared [[FeatureTableView]] body.
  */
final class GramTableView(
    spark: SparkSession,
    dir: String,
    mountedVersion: Int,
    idCol: String,
    textCol: String,
    k: Int = 15,
    compactEvery: Int = 0)
    extends FeatureTableView(spark, dir, GramTableView.epoch + mountedVersion, compactEvery,
      "gram table") {

  /** Postings are stored DOC-ATTRIBUTED `(doc_id, g)` — per-doc
    * distinct — so a takedown can remove ONE document's fingerprints
    * (`retractWhere`/`retractIds`) without them surviving as anonymous
    * grams a re-ingested copy would still match. Span consumers project
    * `g` and stay duplicate-safe, so the attribution costs nothing at
    * read. */
  def features(entries: DataFrame): DataFrame =
    graft.ops.Dedup.docGramTable(entries, k, idCol, textCol)

  protected def project(features: DataFrame): DataFrame = features.select("doc_id", "g")

  /** The stored doc-attributed postings `(doc_id, g)` — the retraction
    * unit and the provenance read ("which docs share this gram"). The
    * raw delta union: grams may repeat across deltas until compaction
    * folds them, which every semi-join/membership consumer tolerates
    * ([[graft.ops.Dedup.substringSpansIncremental]] is duplicate-safe
    * by construction) without the corpus-wide distinct [[grams]] pays. */
  def postings: DataFrame = table

  /** The accumulated DISTINCT gram table. This dedups at read (one
    * shuffle of the whole table) — use it for counts/inspection;
    * membership consumers should take the duplicate-safe path
    * ([[spansForBatch]] does, via the raw delta union). Compaction
    * makes the two equivalent until the next absorb. */
  def grams: DataFrame = distinctGrams(table)

  private def distinctGrams(postings: DataFrame): DataFrame = postings.select("g").distinct()

  /** Spans of a new batch already present in the stored corpus — reads
    * the RAW delta union (no corpus-wide distinct: the span operator
    * semi-joins and dedups its batch-sized matched set instead). */
  def spansForBatch(newDocs: DataFrame, maxBroadcastKeys: Long = 4L * 1000 * 1000): DataFrame =
    graft.ops.Dedup.substringSpansIncremental(newDocs, table, k, maxBroadcastKeys, idCol, textCol)

  /** Compaction dedups the union — the chain collapses to one
    * distinct base delta. */
  override protected def writeMerged(df: DataFrame, path: java.nio.file.Path): Unit =
    df.distinct().write.parquet(path.toString)

  override def frameOption: Option[DataFrame] = super.frameOption.map(distinctGrams)
}

object GramTableView {
  /** The stored version carries a SCHEMA EPOCH beside the caller's
    * version: epoch 1 = doc-attributed `(doc_id, g)` postings. A store
    * from the anonymous-`(g)` era mismatches and rebuilds at open —
    * without this, a takedown over an old chain would keep its
    * unattributable ghost grams (doc_id reads NULL → the null-safe
    * predicate KEEPS them) and a re-ingested copy of retracted text
    * would still match. */
  private val epoch = 1000000

  def apply(dir: String, idCol: String = "doc_id", textCol: String = "text",
      k: Int = 15, version: Int = 1, compactEvery: Int = 0): ViewDef =
    ViewDef(version)((db, name) =>
      new GramTableView(db.log.spark, s"$dir/$name", version, idCol, textCol, k, compactEvery))
}
