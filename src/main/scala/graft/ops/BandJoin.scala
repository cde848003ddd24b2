package graft.ops

import graft.core.Fence
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.collection.mutable.Buffer

/** The banded candidate stage of every incremental near-dup operator: a
  * NEW batch meets a STORED table on equal bucket keys — MinHash band
  * keys, pigeonhole hash segments (with gate columns), hyperplane band
  * keys. Each modality keeps only its key extraction and its verify.
  * This is the filter-on-a-partitioned-key-then-verify shape, run once
  * per batch against the standing table, so the recurring cost scales
  * with the batch and its matched buckets, never the corpus. */
private[graft] object BandJoin {

  /** Band-duplicated candidates `(id_a, carryA…, id_b, carryB…)`, one
    * row per key a batch row shares with a stored row.
    *
    *  1. `newKeyed` (`id_a`, `keyCols…`, `carryA…`; one row per batch row
    *     and key) groups to `(keyCols…, ids_a)`, and keys with more than
    *     `maxBucket` batch rows drop. The key table is persisted into
    *     `persisted`, and it broadcasts under the [[Fence]]. A batch
    *     whose key table is past the fence is corpus-sized, and the
    *     probe falls back to a symmetric shuffle join.
    *  2. `storedKeyed` (`id_b`, `keyCols…`, `carryB…`) is scanned once
    *     and probes the key table. A window count over the matched rows
    *     drops keys with more than `maxBucket` stored rows: for every
    *     matched key that count is its full stored bucket.
    *  3. The batch rows explode back out of `ids_a`. With `carryA` they
    *     ride in the list, so a batch id may carry several rows (video
    *     frames) without a re-join by id. Without it the list holds bare
    *     ids, the smaller shuffle the text path keeps. */
  def candidates(
      newKeyed: DataFrame,
      storedKeyed: DataFrame,
      keyCols: Seq[String],
      carryA: Seq[String],
      carryB: Seq[String],
      maxBucket: Int,
      maxBroadcastKeys: Long,
      persisted: Buffer[DataFrame]): DataFrame = {
    val batchRow = if (carryA.isEmpty) col("id_a") else struct(("id_a" +: carryA).map(col): _*)
    val newKeys = newKeyed.groupBy(keyCols.map(col): _*)
      .agg(collect_list(batchRow).as("ids_a"))
      .where(size(col("ids_a")) <= maxBucket)
      .persist()
    persisted += newKeys
    val keys = if (Fence.broadcastable(newKeys, maxBroadcastKeys)) broadcast(newKeys) else newKeys
    val batchSide = if (carryA.isEmpty) explode(col("ids_a")).as("id_a") else inline(col("ids_a"))
    storedKeyed.join(keys, keyCols)
      .withColumn("n_b", count(lit(1)).over(Window.partitionBy(keyCols.map(col): _*)))
      .where(col("n_b") <= maxBucket)
      .select(batchSide +: ("id_b" +: carryB).map(col): _*)
  }
}
