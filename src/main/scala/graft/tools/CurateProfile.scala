package graft.tools

import org.apache.spark.sql.functions._

/** Stage-level timing of the q_pipeline_curate composition at a given SF
  * dir — replays Curate.curate's stages one action at a time so the
  * regression hunt can name a stage instead of guessing (args: sfDir
  * [reps]). */
object CurateProfile {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val spark = graft.GraftSession.local("32")

    def docs = {
      val d = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
      d.unionByName(d.select((col("doc_id") + 10000).as("doc_id"),
        regexp_replace(col("text"), "^\\S+\\s+", "").as("text")))
    }

    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[curateprof] $label: ${(System.nanoTime() - t0) / 1e9}%.3f s"); r
    }

    (1 to reps).foreach { rep =>
      println(s"=== rep $rep ===")
      val base = docs
      val feats = base.select(
          col("doc_id"),
          graft.ops.TextAnalysis.qualityCol(col("text")).as("quality"),
          xxhash64(col("text")).as("content_hash"),
          graft.ops.Dedup.hashedShinglesCol(col("text")).as("hs"))
        .persist()
      time("feats (fused text pass, persist+count)")(feats.count())
      val qualified = feats.where(col("quality") >= 0.2)
      val exactKeep = qualified.groupBy("content_hash").agg(min(col("doc_id")).as("doc_id")).select("doc_id")
      val exactKept = qualified.join(exactKeep, Seq("doc_id"), "left_semi")
      time("exact dedup (agg + semi)")(exactKept.count())
      val hashed = exactKept.select(col("doc_id").as("id"), col("hs")).where(size(col("hs")) > 0)
      val sigs = hashed.select(col("id"),
        graft.functions.MinhashOph.minhash_oph(col("hs"), 64).as("sig")).persist()
      val nSigs = time("sigs (minhash, persist+count)")(sigs.count())
      println(s"[curateprof] nSigs=$nSigs")
      val cand = graft.ops.Dedup.lshCandidatesPublic(sigs, 64, 32, 1000)
      time("lsh candidates (band shuffle + pairs + distinct)")(cand.count())
      val candRaw = cand // distinct already applied in public path
      val joined = candRaw
        .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
        .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
        .where(graft.ops.Dedup.sigMatchesPublic(col("sig_a"), col("sig_b")).cast("double") >= lit((0.6 - 0.25) * 64))
        .select("id_a", "id_b").distinct()
      time("sig prefilter joins")(joined.count())
      val verified = joined
        .join(hashed.select(col("id").as("id_a"), col("hs").as("hs_a")), Seq("id_a"))
        .join(hashed.select(col("id").as("id_b"), col("hs").as("hs_b")), Seq("id_b"))
        .withColumn("est_jaccard", round(graft.ops.Dedup.jaccardSortedPublic(col("hs_a"), col("hs_b")), 4))
        .where(col("est_jaccard") >= 0.6)
      time("exact verify")(verified.count())
      val full = graft.ops.Curate.curate(docs, minQuality = 0.2, nearThreshold = 0.6,
        verifyExact = true, bands = 32, maxBucket = 1000)
      time("FULL curate end-to-end")(
        full.agg(count(lit(1)), min("doc_id"), max("doc_id")).collect())
      sigs.unpersist(blocking = false)
      feats.unpersist(blocking = false)
    }
    spark.stop()
  }
}
