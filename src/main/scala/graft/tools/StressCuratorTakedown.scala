package graft.tools

import graft.core.ParquetLog
import graft.ops.Multimodal
import graft.streaming.{MediaDedupBinding, MediaStreamingCurator}
import graft.views.{PhashTableView, Retraction}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Stress loop for the one unreproduced r15 flake: the live-curator
  * media-takedown test (`StreamingSpec` "media takedown through the
  * live curator") failed ONCE with both re-uploads dropped — as if the
  * pre-retraction store was consulted, or the micro-batch was silently
  * skipped. This main replays the exact test body N times inside ONE
  * SparkSession (matching the full-suite environment where the failure
  * occurred: shared session, accumulating file-status caches, GC
  * pressure), printing the planted diagnostics on any recurrence.
  * Usage: `sbt "runMain graft.tools.StressCuratorTakedown [iters]"`. */
object StressCuratorTakedown {
  def main(args: Array[String]): Unit = {
    val iters = args.headOption.map(_.toInt).getOrElse(50)
    val spark = graft.GraftSession.local("4")
    var failures = 0
    (1 to iters).foreach { i =>
      val t0 = System.nanoTime()
      try {
        runOnce(spark, i)
        println(f"[stress] iter $i/$iters PASS ${(System.nanoTime() - t0) / 1e9}%.1f s")
      } catch {
        case e: Throwable =>
          failures += 1
          println(s"[stress] iter $i/$iters FAIL: ${e.getMessage}")
          e.printStackTrace()
      }
      // vary GC pressure across iterations (one failure theory is a
      // timing/GC-sensitive window): gc on some iterations, not others
      if (i % 3 == 0) System.gc()
    }
    println(s"[stress] done: $failures/$iters failures")
    spark.stop()
    if (failures > 0) sys.exit(1)
  }

  /** The test body, verbatim semantics (StreamingSpec's media-takedown
    * test): curate, take down image 3, re-upload a copy of retracted 3
    * (must survive) and a copy of kept 6 (must drop). */
  private def runOnce(spark: SparkSession, iter: Int): Unit = {
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val roots = scala.collection.mutable.ArrayBuffer[String]()
    def t(p: String) = { val d = tmp(p); roots += d; d }
    val srcLog = new ParquetLog(spark, t("stress-mret-src"), Multimodal.mediaSchema)
    val curLog = new ParquetLog(spark, t("stress-mret-dst"), Multimodal.mediaSchema)
    val phView = new PhashTableView(spark, s"${t("stress-mret-ph")}/ph", 1)
    val commit = java.nio.file.Paths.get(t("stress-mret-c"), "_mark").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .where(col("doc_id") < 30)
    srcLog.append(Multimodal.syntheticTexturePngMedia(docs))
    val cur = new MediaStreamingCurator(srcLog, curLog, MediaDedupBinding.image(phView), commit)
    try {
      cur.awaitParity()
      require(curLog.read.where(col("media_id") === 3L).count() == 1L, "3 not curated")
      Retraction.retract(curLog, "media_id", Seq(3L),
        (ids: org.apache.spark.sql.DataFrame) => phView.retractIds(ids, "media_id"),
        java.nio.file.Paths.get(t("stress-mret-i"), "_intent").toString)
      require(curLog.read.where(col("media_id") === 3L).count() == 0L, "3 still in log")
      require(phView.hashes.where(col("media_id") === 3L).count() == 0L, "3 still in store")
      srcLog.append(
        Multimodal.syntheticTexturePngMedia(docs.where(col("doc_id") === 3), idOffset = 1000L)
          .unionByName(Multimodal.syntheticTexturePngMedia(
            docs.where(col("doc_id") === 6), idOffset = 1000L)))
      cur.awaitParity()
      val kept = curLog.read.select("media_id").collect().map(_.getLong(0)).toSet
      def stored = phView.hashes.collect().map(_.getLong(0)).sorted.mkString(",")
      // discriminator: if the SAME bytes hash fine when re-attempted at
      // failure time, the batch-time decode failure was transient
      def rehash = graft.ops.Multimodal.perceptualHash(
        srcLog.read.where(col("media_id") >= 1000L)).count()
      def diag = s"stored media_ids: $stored; view.since=${phView.since}; " +
        s"mark='${java.nio.file.Files.readString(java.nio.file.Paths.get(commit)).trim}'; " +
        s"srcLog.since=${srcLog.since}; rehash_now=$rehash/2"
      if (!kept.contains(1003L))
        throw new AssertionError(s"iter $iter: retracted content dropped, got $kept ($diag)")
      if (kept.contains(1006L))
        throw new AssertionError(s"iter $iter: kept content not deduped, got $kept ($diag)")
    } finally {
      cur.stop()
      roots.foreach { d =>
        val p = java.nio.file.Paths.get(d)
        if (java.nio.file.Files.exists(p))
          graft.views.FsLists.walkDeepestFirst(p).foreach(java.nio.file.Files.delete)
      }
    }
  }
}
