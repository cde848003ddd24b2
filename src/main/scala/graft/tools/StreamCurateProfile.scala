package graft.tools

import org.apache.spark.sql.functions._

/** Stage timing for q_stream_curate (args: sfDir). */
object StreamCurateProfile {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = graft.GraftSession.local("32")
    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[scprof] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }
    (1 to 2).foreach { rep =>
      println(s"=== rep $rep ===")
      def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
      val docSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
      val srcLog = new graft.core.ParquetLog(spark, tmp("scp-src"), docSchema)
      val curLog = new graft.core.ParquetLog(spark, tmp("scp-dst"), docSchema)
      val sigView = new graft.views.SignatureTableView(spark, s"${tmp("scp-sig")}/s", 1, "doc_id", "text")
      val commit = java.nio.file.Paths.get(tmp("scp-c"), "_mark").toString
      val docs = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
      time("append batch1")(srcLog.append(docs))
      val cur = time("curator start")(
        new graft.streaming.StreamingCurator(srcLog, curLog, sigView, commit))
      try {
        time("parity batch1")(cur.awaitParity())
        time("append batch2")(srcLog.append(docs.select((col("doc_id") + 10000).as("doc_id"),
          regexp_replace(col("text"), "^\\S+\\s+", "").as("text"))))
        time("parity batch2")(cur.awaitParity())
      } finally time("stop")(cur.stop())
      time("summary agg")(curLog.read.agg(count(lit(1))).collect())
    }
    spark.stop()
  }
}
