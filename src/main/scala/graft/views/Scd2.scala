package graft.views

import graft.core.Fence
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Slowly-changing-dimension (type 2) build from the append-only log —
  * the read every warehouse pipeline runs over CDC output: one row per
  * VERSION of each key, carrying a validity interval `[from_seq,
  * to_seq)` in log-sequence time, `to_seq` null (and `is_current` true)
  * for the key's live version. The reference's log IS the version
  * history (`/root/reference/README.md:13-17` — views are replays of
  * it); SCD-2 is that history materialized with interval endpoints, so
  * any as-of read becomes a filter instead of a replay. Composes with
  * [[Changelog.changesBetween]]: the changelog answers "what changed in
  * a window", the dimension answers "what was true at a point" — the
  * two CDC reads, from one log.
  *
  * Shape: ONE shuffle on the key (the `lead` window that pairs each
  * version with its successor); no join, no self-aggregation. At 100 TB
  * the window's sort rides the shuffle's per-key grouping, and the
  * dimension inherits the log's seq-bucketed pruning on `from_seq`.
  * [[advance]] is the incremental dual: the stored dimension never
  * re-shuffles — only the (small) new-version batch is windowed, and
  * the open intervals it closes are found with one key join against the
  * batch's first-seq table (broadcast below [[AdvanceBroadcastMax]],
  * shuffle fallback above — the repo-wide fence discipline).
  */
object Scd2 {

  /** Build the full dimension: `(key, from_seq, to_seq, is_current,
    * values…)`, one row per log record, `to_seq` = the key's next
    * version's seq (exclusive bound), null while current. */
  def dimension(
      log: DataFrame,
      keyCol: String,
      seqCol: String,
      valueCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(seqCol))
    log.select((keyCol +: seqCol +: valueCols).map(col).toIndexedSeq: _*)
      .withColumn("__to", lead(col(seqCol), 1).over(w))
      .select(col(keyCol) +: col(seqCol).as("from_seq") +: col("__to").as("to_seq") +:
        col("__to").isNull.as("is_current") +: valueCols.map(col).toIndexedSeq: _*)
  }

  /** Point-in-time read: the version of each key valid AT `atSeq`
    * (`from_seq <= atSeq < to_seq`, open current intervals included) —
    * record-granular time travel, where the delta-protocol
    * [[CompactableDeltas.frameAsOf]] is batch-granular. A key first seen
    * after `atSeq` is absent, exactly as the replayed view would be. */
  def asOf(dimension: DataFrame, atSeq: Long): DataFrame =
    dimension.where(col("from_seq") <= atSeq &&
      (col("to_seq").isNull || col("to_seq") > atSeq))

  /** Broadcast fence for [[advance]]'s closing join: below this many
    * touched keys the batch's first-seq table broadcasts; above it the
    * join shuffles (still keyed, never a scan of anything but the
    * dimension's current rows). */
  val AdvanceBroadcastMax: Long = 1L << 20

  /** Incremental maintenance: fold the log rows in `(sinceSeq, toSeq]`
    * (`delta`) into a stored dimension built through `sinceSeq`. The
    * batch is windowed on its own (new intervals, open at each key's
    * last new version); each touched key's previously-open interval is
    * closed at the key's FIRST new seq. Exactly equal to rebuilding
    * [[dimension]] over the whole log — pinned by `Scd2Spec`. */
  def advance(
      dimension: DataFrame,
      delta: DataFrame,
      keyCol: String,
      seqCol: String,
      valueCols: Seq[String]): DataFrame = {
    val newDim = Scd2.dimension(delta, keyCol, seqCol, valueCols)
    val firstNew0 = delta.groupBy(col(keyCol)).agg(min(col(seqCol)).as("__first_new"))
    val firstNew =
      if (Fence.broadcastable(firstNew0, AdvanceBroadcastMax)) broadcast(firstNew0) else firstNew0
    dimension.join(firstNew, Seq(keyCol), "left")
      .withColumn("to_seq",
        when(col("is_current") && col("__first_new").isNotNull, col("__first_new"))
          .otherwise(col("to_seq")))
      .withColumn("is_current", col("to_seq").isNull)
      .drop("__first_new")
      .unionByName(newDim)
  }
}
