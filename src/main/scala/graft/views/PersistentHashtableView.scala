package graft.views

import graft.core.{FlumeView, ViewDef}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Durable flumeview-hashtable: latest-record-per-key as a
  * log-structured parquet table — the "compacted changelog" shape.
  *
  * Writes are the shared [[DeltaProtocol]] (each absorbed batch's
  * per-key latest lands under `batch=<upto>/`, manifest commits after
  * the delta, orphans pruned at open, version bump wipes). Reads merge
  * the deltas with one `max_by(seq)` aggregate — the LSM read path;
  * [[compact]] collapses all committed deltas into a single base delta
  * so read cost stays O(keys), the same rewrite a compacted topic or an
  * LSM level merge performs. At cluster scale the deltas are
  * partitioned tables and compaction is a per-bucket rewrite job; the
  * manifest stays the tiny driver-side commit record. */
final class PersistentHashtableView(
    protected val spark: SparkSession,
    protected val dir: String,
    protected val protocolVersion: Int,
    keyCol: String,
    seqCol: String,
    compactEvery: Int = 0) extends FlumeView with CompactableDeltas
    with graft.core.KeyRetractableView {

  override protected def autoCompactEvery: Int = compactEvery

  openProtocol() // includes compact crash recovery (see DeltaProtocol)

  private def latest(df: DataFrame): DataFrame = {
    val payload = struct(df.columns.filter(_ != keyCol).map(col).toIndexedSeq: _*)
    df.groupBy(col(keyCol))
      .agg(max_by(payload, col(seqCol)).as("__v"))
      .select(col(keyCol), col("__v.*"))
  }

  /** Reads fold to latest-per-key, so the compacted base does too. */
  override protected def mergeDeltas(union: DataFrame): DataFrame = latest(union)

  def absorb(entries: DataFrame, upto: Long): Unit = {
    writeDelta(latest(entries), upto)
    sinceSeq = upto
    writeManifest() // delta durable before the cursor moves
    maybeCompact()
  }

  private def deltas: DataFrame = {
    val dirs = committedBatchDirs()
    if (dirs.isEmpty) throw new IllegalStateException("hashtable empty")
    readDeltas(dirs)
  }

  /** Merged view of all committed deltas (the LSM read path). */
  def frame: DataFrame = latest(deltas)

  override def frameOption: Option[DataFrame] =
    if (committedBatchDirs().isEmpty) None else Some(frame)

  /** One key's latest row, the rows of `frame.where(key === k)`: each
    * delta holds at most one row per key, stored `(key, payload…)` as
    * `frame` returns it, so the key's newest seq is its latest. A top-1
    * sort over the key's rows runs as one job, where `frame`'s
    * all-keys aggregate needs an exchange. */
  def get(key: Any): DataFrame =
    deltas.where(col(keyCol) === lit(key)).orderBy(col(seqCol).desc).limit(1)

  /** Db-level takedown IN PLACE (∝ affected keys, not ∝ log): the store
    * keeps per-batch latests only, so a pure row delete could surface a
    * stale stored version as a key's new latest while the log still
    * holds a newer superseded one (dropped by within-batch compaction).
    * Instead: (1) ONE narrow scan of the delta chain (key + seq + the
    * directory-derived `batch`) checkpoints the HIT rows — ∝ matches —
    * from which every later step derives: the AFFECTED key set, the
    * per-delta purge plan, and the anti-join seq list (the pre-fused
    * shape rescanned the chain once for detection and once for the
    * purge, and its per-delta rewrites each paid a job — at toy scale
    * ~10 small Spark jobs of pure scheduling latency, the r16 probe's
    * fixed wall); (2) recompute the affected keys' latest from a
    * key-pruned semi-join scan of the POST-takedown log and swap them
    * into the newest delta (replacing that delta's rows for those keys
    * — one unit rewrite under the retract marker protocol); (3) purge
    * removed-seq rows from the older hit deltas in ONE staged job:
    * footer row counts (driver metadata, no job) split fully-emptied
    * deltas (tombstoned) from partial ones, which rewrite together
    * under a `MULTID` plan marker ([[DeltaProtocol.applyDeltaPlan]] —
    * replayed at open after a crash). Replay-idempotent in every crash
    * window: the db's durable intent re-runs the whole call; until
    * step 3 finishes, older deltas still hold removed seqs, so the
    * affected keys are re-detected and steps 2-3 re-run to the same
    * state; after step 3 nothing matches and the call is a no-op. */
  def retractLogSeqsRecompute(seqs: DataFrame, seqColName: String, postLog: DataFrame): Unit = {
    recoverRetract() // a crashed MULTID purge replays before new planning
    val dirs = committedBatchDirs()
    if (dirs.isEmpty) return
    val removed = seqs.select(col(seqColName).cast("long").as(seqCol))
    val hit = col(graft.core.ParquetLog.hitCol)
    // (1) the one chain scan: hit rows, ∝ matches, checkpointed
    val chain = spark.read.option("basePath", root.toString)
      .option("mergeSchema", "true").parquet(dirs.map(_.toString): _*)
    val hits = graft.core.ParquetLog.hitMarker(removed, seqCol, 4L * 1000 * 1000)(chain)
      .where(hit)
      .select(col("batch").cast("long").as("__b"), col(keyCol), col(seqCol))
      .localCheckpoint(true)
    val perBatch = hits.groupBy(col("__b")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    if (perBatch.isEmpty) return // nothing stored was built from a removed row
    val affected = hits.select(keyCol).distinct()
    val hitSeqs = hits.select(seqCol)
    // (2) recomputed latests from the post-takedown log (broadcast
    // semi-join on the affected keys: narrow scan, tiny aggregation)
    val recomputed = latest(postLog.join(affected, Seq(keyCol), "left_semi"))
      .localCheckpoint(true)
    val lastDir = dirs.last
    val keptLast = readDeltas(Seq(lastDir))
      .join(hitSeqs, Seq(seqCol), "left_anti") // ≡ NOT hit, from the checkpoint
      .join(affected, Seq(keyCol), "left_anti") // recomputed rows replace them
    swapUnit(s"batch=${batchUpto(lastDir)}", keptLast.unionByName(recomputed))
    // (3) purge removed-seq rows still stored in OLDER hit deltas —
    // one staged job for all of them
    val olderHit = dirs.init.filter(d => perBatch.contains(batchUpto(d)))
    if (olderHit.nonEmpty) {
      val (emptied, partial) = olderHit.partition(d =>
        perBatch(batchUpto(d)) >= ParquetFooters.rowCount(spark, d))
      val emptyNames = emptied.map(d => s"batch=${batchUpto(d)}")
      val rwNames = partial.map(d => s"batch=${batchUpto(d)}")
      FsLists.deleteTree(retractTmp)
      if (partial.nonEmpty) {
        val src = spark.read.option("basePath", root.toString)
          .option("mergeSchema", "true").parquet(partial.map(_.toString): _*)
        val dataCols = src.columns.filter(_ != "batch").toSeq
        src.join(hitSeqs, Seq(seqCol), "left_anti")
          .withColumn("batch", col("batch").cast("long"))
          .select((dataCols :+ "batch").map(n => col(s"`$n`")): _*)
          .write.partitionBy("batch").parquet(retractTmp.toString)
      }
      writeAtomic(retractMarker,
        s"MULTID rw=${rwNames.mkString(",")} empty=${emptyNames.mkString(",")}")
      applyDeltaPlan(rwNames, emptyNames)
      java.nio.file.Files.delete(retractMarker)
      FsLists.deleteTree(retractTmp)
    }
  }

  /** Retention IN PLACE: a pure predicate delete — every surviving
    * key's latest is by definition newer than the horizon (all its
    * rows ≤ horizon are superseded versions whose bytes leave here),
    * and a key whose every version aged out leaves entirely. Equals a
    * rebuild from the surviving log suffix row-for-row. */
  def expireLogSeqs(throughSeq: Long): Unit =
    retractWhere(col(seqCol) <= lit(throughSeq))
}

object PersistentHashtableView {
  def apply(dir: String, keyCol: String, seqCol: String = "seq", version: Int = 1, compactEvery: Int = 0): ViewDef =
    ViewDef(version)((db, name) => new PersistentHashtableView(
      db.log.spark, s"$dir/$name", version, keyCol, seqCol, compactEvery))
}
