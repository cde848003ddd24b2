package graft.tools

import org.apache.spark.sql.functions._

/** Isolated decode cost of the seq-offset live tail (args: sfDir
  * [reps]): builds a MEDIA log once (binary payload + struct meta, the
  * curator's hot shape) and an EMBEDDING log (array payload), then times
  * catch-up tails over each — full-row decode and a pruned `max(seq)`
  * control pass — with the vectorized path on and off. This is the
  * reader A/B the curator queries cannot give (their fixture build and
  * dedup pipeline dominate the timing). */
object TailDecodeProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val spark = graft.GraftSession.local("32")
    spark.sparkContext.setLogLevel("ERROR")
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString

    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val mediaDir = tmp("tdp-media")
    val mediaLog = new graft.core.ParquetLog(spark, mediaDir,
      graft.ops.Multimodal.mediaSchema)
    mediaLog.append(graft.ops.Multimodal.syntheticWavMedia(docs, textured = true))
    val embDir = tmp("tdp-emb")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet").select("vec_id", "embedding")
    val embLog = new graft.core.ParquetLog(spark, embDir, emb.schema)
    embLog.append(emb)

    def tail(log: graft.core.ParquetLog, proj: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
        label: String): Unit = {
      (1 to reps).foreach { i =>
        scala.util.Try(spark.catalog.clearCache()); System.gc()
        val t0 = System.nanoTime()
        val q = proj(log.readStream).writeStream.format("noop").start()
        try q.processAllAvailable() finally q.stop()
        println(f"[tdp] $label run$i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    }
    Seq(true, false).foreach { vec =>
      spark.conf.set("spark.sql.parquet.enableVectorizedReader", vec.toString)
      val mode = if (vec) "columnar" else "row"
      tail(mediaLog, df => df, s"media full $mode")
      tail(mediaLog, _.select("seq"), s"media seq-only $mode")
      tail(embLog, df => df, s"embed full $mode")
    }
    graft.views.FsLists.deleteTree(mediaDir)
    graft.views.FsLists.deleteTree(embDir)
    spark.stop()
  }
}
