package graft.tools


/** Calm-envelope capture: time every SparkEntry query whose name starts
  * with a prefix, median-of-N with Bench's session hygiene, under the
  * Bench session shape (local[32], shuffle=32) so readings are directly
  * comparable to driver BENCH lines. Emits one JSON line per query with
  * min/median plus the loadavg bracket — the raw material for the
  * PLANS.md calm-envelope table that makes bench adjudication a lookup.
  * Usage: `runMain graft.tools.TimeMany q_stream_ /root/testdata/sf0.1 3` */
object TimeMany {
  def main(args: Array[String]): Unit = {
    val prefix = args.headOption.getOrElse("q_stream_")
    val dir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(2).map(_.toInt).getOrElse(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.local(cpus)
    def loadavg: Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    def exec(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def hygiene(): Unit = { scala.util.Try(spark.catalog.clearCache()); System.gc() }
    val names = graft.SparkEntry.queries.keys.filter(_.startsWith(prefix)).toSeq.sorted
    // warm-up at the smallest SF (JIT + codegen)
    names.foreach { n =>
      try exec(graft.SparkEntry.queries(n)(spark, "/root/testdata/sf0.001"))
      catch { case _: Throwable => () }
    }
    names.foreach { n =>
      val ts = (1 to reps).map { _ =>
        hygiene()
        val t0 = System.nanoTime()
        exec(graft.SparkEntry.queries(n)(spark, dir))
        (System.nanoTime() - t0) / 1e9
      }.sorted
      println(f"""[timemany] {"query":"$n","min_s":${ts.head}%.2f,"median_s":${ts(
        ts.size / 2)}%.2f,"max_s":${ts.last}%.2f,"loadavg":$loadavg%.2f}""")
    }
    spark.stop()
  }
}
