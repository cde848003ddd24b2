package graft.tools


/** Scratch harness: dump one named SparkEntry query's result to parquet at
  * a given SF dir, for ad-hoc DuckDB comparison (args: name sfDir outDir). */
object DumpOne {
  def main(args: Array[String]): Unit = {
    val Array(name, dir, out) = args.take(3)
    val spark = graft.GraftSession.local(sys.env.getOrElse("TCPUS", "8"))
    graft.SparkEntry.queries(name)(spark, dir)
      .coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
    spark.stop()
  }
}
