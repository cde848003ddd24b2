package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Market-basket affinity over the event log: for every pair of event
  * types, how many keys did both, and the support / lift of the pair
  * over the key population — "users who do X also do Y", the
  * association-rule read that rounds out [[Funnel]] (fixed order),
  * [[Paths]] (discovered order) and [[Retention]] (return behavior).
  *
  * Shape: one (key, type) distinct (the only table-sized shuffle), a
  * self-equi-join on the 8-byte key bounded by the type-set size per
  * key (≤ |type vocabulary|, not event count), and two tiny aggregates.
  * The key population is one count. Support and lift are emitted as
  * floored parts-per-million from exact integer counts with the
  * `1e-9` nudge — the domain-mix convention that keeps a ratio landing
  * exactly on an integer from straddling the floor cross-engine. */
object Affinity {

  def typeAffinity(
      events: DataFrame,
      key: String,
      typeCol: Column): DataFrame = Stage.checkpointed { persisted =>
    val base = events.select(col(key).as("k"), typeCol.as("t")).distinct().persist()
    persisted += base
    val u = base.select("k").distinct().count().toDouble
    val per = base.groupBy("t").agg(count(lit(1)).as("n"))
    val pairs = base.select(col("k"), col("t").as("type_a"))
      .join(base.select(col("k"), col("t").as("type_b")), Seq("k"))
      .where(col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b").agg(count(lit(1)).as("n_xy"))
    pairs
      .join(per.select(col("t").as("type_a"), col("n").as("n_a")), Seq("type_a"))
      .join(per.select(col("t").as("type_b"), col("n").as("n_b")), Seq("type_b"))
      .select(col("type_a"), col("type_b"), col("n_xy"),
        floor(col("n_xy") * 1000000.0 / u + 1e-9).cast("long").as("support_ppm"),
        floor(col("n_xy") * u * 1000000.0 / (col("n_a") * col("n_b")) + 1e-9)
          .cast("long").as("lift_ppm"))
  }
}
