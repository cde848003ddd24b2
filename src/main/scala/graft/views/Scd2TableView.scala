package graft.views

import graft.core.{FlumeView, ViewDef}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Durable SCD-2 dimension — [[Scd2]]'s build/asOf/advance functions
  * joined to the shared [[DeltaProtocol]] ladder every other stored
  * table (`SignatureTable` … `FrameHashTable`) already rides: log rows
  * append, each absorbed batch lands its own windowed version rows as a
  * batch-atomic parquet delta, and the dimension read closes intervals
  * ACROSS deltas with the same per-key `lead` window [[Scd2.dimension]]
  * uses — the read-side-fold discipline of
  * [[PersistentHashtableView]]'s latest-per-key merge.
  *
  * Why the fold lives at read rather than at absorb: folding with
  * [[Scd2.advance]] at absorb time would rewrite the whole stored
  * dimension per batch (every open interval is a candidate closure) —
  * O(corpus) recurring cost, the exact shape the delta ladder exists to
  * avoid. Storing each batch pre-windowed keeps absorb O(batch);
  * the read's one key-partitioned window is the same cost class as the
  * hashtable's latest-per-key read; and [[CompactableDeltas.compact]]
  * FOLDS CLOSED INTERVALS into the base (the merged frame is written
  * with its `to_seq` endpoints materialized), so a compacted dimension
  * re-derives only what the uncompacted tail leaves open. The merge is
  * [[Scd2.dimension]] itself re-run over `(key, from_seq, values…)` —
  * per-batch `advance` folds and the global window provably agree
  * (`Scd2Spec` pins advance == rebuild; `PersistenceSpec` pins stored
  * == rebuild at every split).
  *
  * Reference: the log IS the version history
  * (`/root/reference/README.md:13-17`); this view materializes it with
  * interval endpoints so an as-of read is a filter, not a replay —
  * durable now, so the filter also survives restarts and slots under
  * [[graft.streaming.StreamingViewRunner]] with exactly-once recovery
  * like every other durable view.
  */
final class Scd2TableView(
    protected val spark: SparkSession,
    protected val dir: String,
    protected val protocolVersion: Int,
    keyCol: String,
    seqCol: String,
    valueCols: Seq[String],
    compactEvery: Int = 0) extends FlumeView with CompactableDeltas
    with graft.core.SeqRetractableView {

  override protected def autoCompactEvery: Int = compactEvery

  openProtocol()

  /** Absorb one ordered log batch: window the batch ON ITS OWN
    * ([[Scd2.dimension]] over just these rows — intra-batch closures
    * materialize here, cross-batch closures at read/compaction) and
    * land it as the delta. O(batch) — the stored chain is never
    * touched. */
  def absorb(entries: DataFrame, upto: Long): Unit = {
    writeDelta(Scd2.dimension(entries, keyCol, seqCol, valueCols), upto)
    sinceSeq = upto
    writeManifest()
    maybeCompact()
  }

  /** Close intervals across deltas: each stored row is exactly one log
    * record's version, so re-running the per-key window over
    * `(key, from_seq, values…)` rebuilds [[Scd2.dimension]] of the
    * whole absorbed log — stale `to_seq` endpoints from the per-batch
    * windows are re-derived, already-correct ones are unchanged
    * (idempotent, so compaction output re-merges safely). */
  override protected def mergeDeltas(union: DataFrame): DataFrame =
    Scd2.dimension(
      union.select((keyCol +: "from_seq" +: valueCols).map(col).toIndexedSeq: _*),
      keyCol, "from_seq", valueCols)

  /** The dimension: `(key, from_seq, to_seq, is_current, values…)`. */
  def dimension: DataFrame = {
    val dirs = committedBatchDirs()
    require(dirs.nonEmpty, "dimension empty — absorb a batch first")
    mergeDeltas(readDeltas(dirs))
  }

  /** Record-granular point-in-time read ([[Scd2.asOf]]). */
  def asOf(atSeq: Long): DataFrame = Scd2.asOf(dimension, atSeq)

  override def frameOption: Option[DataFrame] =
    if (committedBatchDirs().isEmpty) None else Some(dimension)

  /** Db-level takedown IN PLACE (∝ matches): each stored row is exactly
    * one log record's version (`from_seq` = that record's log seq), and
    * the read/compaction fold re-derives every `to_seq` endpoint from
    * `(key, from_seq, values)` alone — so deleting the rows whose
    * `from_seq` was removed is EXACTLY a rebuild from the retracted
    * log: the neighbors' intervals re-close over the gap at the next
    * read. The delete is the pruned per-delta rewrite. */
  def retractLogSeqs(seqs: DataFrame, seqColName: String): Unit =
    retractIds(seqs.select(col(seqColName).cast("long").as("from_seq")), "from_seq")

  /** Retention IN PLACE: the versions that began before the horizon
    * leave storage (their bytes age out with the log rows they mirror);
    * surviving versions' intervals re-derive at read. Matches a rebuild
    * from the surviving log suffix row-for-row. */
  def expireLogSeqs(throughSeq: Long): Unit =
    retractWhere(col("from_seq") <= org.apache.spark.sql.functions.lit(throughSeq))
}

object Scd2TableView {
  def apply(dir: String, keyCol: String, seqCol: String, valueCols: Seq[String],
      version: Int = 1, compactEvery: Int = 0): ViewDef =
    ViewDef(version)((db, name) => new Scd2TableView(db.log.spark, s"$dir/$name", version,
      keyCol, seqCol, valueCols, compactEvery))
}
