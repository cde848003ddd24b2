package graft.core

import org.apache.spark.sql.DataFrame

/** The broadcast fence: a caller-sized frame broadcasts only when it is
  * known to be small, and past the fence its join falls back to a
  * symmetric shuffle. */
object Fence {

  /** Whether `keys` holds at most `max` rows: few enough to broadcast
    * (or, for a driver-side trainer, to collect). The check counts at most
    * `max + 1` rows (a limit-bounded job, never a full count); the bound
    * is clamped to `Int.MaxValue`, because `limit` takes an `Int` and a
    * wrapped bound is negative, which Spark rejects. */
  def broadcastable(keys: DataFrame, max: Long): Boolean =
    keys.limit(math.min(math.max(max, 0L), Int.MaxValue - 1L).toInt + 1).count() <= max
}
