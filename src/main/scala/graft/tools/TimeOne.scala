package graft.tools
/** Scratch timing harness: time one named SparkEntry query at a given SF. */
object TimeOne {
  def main(args: Array[String]): Unit = {
    val name = args(0); val dir = args(1)
    val spark = graft.GraftSession.local(sys.env.getOrElse("TCPUS", "8"))
    def exec() = graft.SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
    // Bench's per-query session hygiene, applied between reps: lifecycle
    // queries (curators, takedowns) leave persisted micro-batch frames
    // behind that only free on GC — without this, rep N pays rep N-1's
    // memory pressure and solo adjudication reads 2-10x noise
    def hygiene(): Unit = {
      scala.util.Try(spark.catalog.clearCache())
      System.gc()
    }
    // warm-up on sf0.001
    try graft.SparkEntry.queries(name)(spark, "/root/testdata/sf0.001").write.format("noop").mode("overwrite").save() catch { case _: Throwable => () }
    (1 to args.lift(2).map(_.toInt).getOrElse(2)).foreach { i =>
      hygiene()
      val t0 = System.nanoTime()
      exec()
      println(f"[timeone] $name run$i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
