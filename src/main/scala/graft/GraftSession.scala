package graft

import org.apache.spark.sql.SparkSession

/** The ONE local SparkSession recipe shared by Bench, Verify, the tools
  * and the test suite, so a profile runs the session the bench runs:
  * `local[cpus]` with as many shuffle partitions, UTC session time,
  * `events.ts` TIMESTAMP(NANOS) read as a raw long, no UI, WARN logs. */
object GraftSession {
  /** `cpus` is a core count, or "*" for every core of the box. */
  def local(cpus: String): SparkSession = {
    // local[*] is a valid master spec but not a partition count — resolve
    // "*" to the box's core count so shuffle.partitions always gets a number.
    val shufflePartitions =
      if (cpus == "*") Runtime.getRuntime.availableProcessors().toString else cpus
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
