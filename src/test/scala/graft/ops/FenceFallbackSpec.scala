package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The broadcast-fence FALLBACK arm, executed.
  *
  * Every incremental stage count-fences its batch key set: under
  * `maxBroadcastKeys` the keys broadcast into the stored side
  * (recurring-cost shape); past the fence the stage falls back to the
  * symmetric shuffle — the arm that runs when a "batch" is
  * corpus-sized, i.e. precisely the branch a 100 TB deployment
  * exercises. The fallback is answer-identical by construction (same
  * join minus the hint), but until this spec no test ever EXECUTED it.
  * Each case here runs the same inputs through both arms
  * (`maxBroadcastKeys` default vs `0`) and asserts set-equal, nonempty
  * results; the plan-shape twin (no broadcast hint in the fallback
  * plan) lives in PlanSpec. */
class FenceFallbackSpec extends SparkSpec {

  lazy val dir = "/root/testdata/sf0.001"
  lazy val docs = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
  lazy val emb = spark.read.parquet(s"$dir/embeddings.parquet").select("vec_id", "embedding")

  /** Collected rows with doubles rounded (both arms compute identical
    * expressions, but keep the comparison robust to plan-order float
    * reassociation anyway). */
  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq.map {
      case d: Double => BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP)
      case x => x
    }).toSet

  private def assertParity(bcastArm: DataFrame, shuffleArm: DataFrame, what: String): Unit = {
    val a = rows(bcastArm)
    val b = rows(shuffleArm)
    assert(a.nonEmpty, s"$what: parity fixture must produce rows (vacuous otherwise)")
    assert(a === b,
      s"$what: the symmetric-shuffle arm must equal the broadcast arm; " +
        s"bcast=${a.size} shuffle=${b.size}, diff=${(a diff b).take(3)} / ${(b diff a).take(3)}")
  }

  test("minhash incremental: fence fallback == broadcast arm") {
    val base = docs
    val batch = docs.select((col("doc_id") + 10000).as("doc_id"),
      regexp_replace(col("text"), "^\\S+\\s+", "").as("text"))
    assertParity(
      Dedup.minhashLshIncremental(batch, base, bands = 32, threshold = 0.5,
        maxBucket = 1000, verifyExact = true),
      Dedup.minhashLshIncremental(batch, base, bands = 32, threshold = 0.5,
        maxBucket = 1000, verifyExact = true, maxBroadcastKeys = 0L),
      "minhash")
  }

  test("line dedup incremental: fence fallback == broadcast arm") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "boiler\nalpha"), (2L, "boiler\nbeta"), (3L, "boiler\ngamma"))
      .toDF("doc_id", "text")
    val freq = TextAnalysis.lineFrequencyTable(corpus)
    val batch = Seq((100L, "boiler\nnovel\nalpha\nnovel\nnovel")).toDF("doc_id", "text")
    assertParity(
      TextAnalysis.lineDedupIncremental(batch, freq, minDocs = 3),
      TextAnalysis.lineDedupIncremental(batch, freq, minDocs = 3, maxBroadcastKeys = 0L),
      "lineDedup")
  }

  test("containment incremental: fence fallback == broadcast arm") {
    val batch = docs.where(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 40000).as("doc_id"),
        concat_ws(" ", slice(TextAnalysis.tokens(col("text")), 1, 25)).as("text"))
    val sigs = Dedup.signatureTable(docs).persist()
    try assertParity(
      Dedup.containmentIncremental(batch, sigs, threshold = 0.8, maxDocFreq = 100000),
      Dedup.containmentIncremental(batch, sigs, threshold = 0.8, maxDocFreq = 100000,
        maxBroadcastKeys = 0L),
      "containment")
    finally sigs.unpersist(blocking = false)
  }

  test("substring spans incremental: fence fallback == broadcast arm") {
    import spark.implicits._
    val corpus = Seq(
      (1L, (1 to 30).map(i => s"alpha$i").mkString(" ")),
      (2L, (1 to 30).map(i => s"beta$i").mkString(" "))).toDF("doc_id", "text")
    val stored = Dedup.gramTable(corpus, k = 15)
    val batch = Seq(
      (100L, ((1 to 20).map(i => s"alpha$i") ++ Seq("zz1", "zz2")).mkString(" "))).toDF("doc_id", "text")
    assertParity(
      Dedup.substringSpansIncremental(batch, stored, k = 15),
      Dedup.substringSpansIncremental(batch, stored, k = 15, maxBroadcastKeys = 0L),
      "substringSpans")
  }

  test("embedding incremental: fence fallback == broadcast arm") {
    val batch = emb.where(col("vec_id") < 50)
      .select((col("vec_id") + 10000).as("vec_id"),
        transform(col("embedding"), x => (x * lit(1.001)).cast("float")).as("embedding"))
    assertParity(
      Dedup.embeddingNearDupIncremental(batch, emb),
      Dedup.embeddingNearDupIncremental(batch, emb, maxBroadcastKeys = 0L),
      "embeddingNearDup")
  }

  test("image phash incremental: fence fallback == broadcast arm") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val storedRows = (0L until 200L).map(i => (i, rnd.nextLong()))
    val stored = storedRows.toDF("media_id", "phash")
    // batch: 10 exact re-uploads (hamming 0 planted pairs) + 5 novel
    val batch = (storedRows.take(10).map { case (i, h) => (1000L + i, h) } ++
      (0L until 5L).map(i => (2000L + i, rnd.nextLong()))).toDF("media_id", "phash")
    assertParity(
      Multimodal.perceptualNearDupIncremental(batch, stored),
      Multimodal.perceptualNearDupIncremental(batch, stored, maxBroadcastKeys = 0L),
      "perceptualNearDup")
  }

  test("audio fingerprint incremental: fence fallback == broadcast arm") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val storedRows = (0L until 200L).map(i => (i, 50L + i % 4, rnd.nextLong()))
    val stored = storedRows.toDF("media_id", "n_windows", "afp")
    val batch = (storedRows.take(10).map { case (i, nw, h) => (1000L + i, nw, h) } ++
      (0L until 5L).map(i => (2000L + i, 50L + i % 4, rnd.nextLong())))
      .toDF("media_id", "n_windows", "afp")
    assertParity(
      Multimodal.audioNearDupIncremental(batch, stored),
      Multimodal.audioNearDupIncremental(batch, stored, maxBroadcastKeys = 0L),
      "audioNearDup")
  }

  test("video frame-hash incremental: fence fallback == broadcast arm") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    // 40 stored videos x 4 frames; batch re-uploads 6 of them exactly
    val storedRows = for (v <- 0L until 40L; f <- 0L until 4L)
      yield (v, f, rnd.nextLong())
    val stored = storedRows.toDF("media_id", "frame_idx", "phash")
    val batch = storedRows.filter(_._1 < 6L)
      .map { case (v, f, h) => (1000L + v, f, h) }
      .toDF("media_id", "frame_idx", "phash")
    assertParity(
      Multimodal.videoNearDupIncremental(batch, stored),
      Multimodal.videoNearDupIncremental(batch, stored, maxBroadcastKeys = 0L),
      "videoNearDup")
  }

  test("audio clip containment: fence fallback == broadcast arm") {
    import spark.implicits._
    val rnd = new scala.util.Random(19)
    // corpus: 20 recordings x 30 grams; clips: grams [8, 16) of the
    // first 5 recordings (window-aligned re-cuts -> full-run matches)
    val corpusRows = for (m <- 0L until 20L; p <- 0L until 30L)
      yield (m, p, rnd.nextLong())
    val corpus = corpusRows.toDF("corpus_id", "cpos", "gram")
    val clips = corpusRows.filter { case (m, p, _) => m < 5L && p >= 8L && p < 16L }
      .map { case (m, p, g) => (9000L + m, p - 8L, g) }
      .toDF("clip_id", "kpos", "gram")
    assertParity(
      Multimodal.audioClipContainmentFromGrams(clips, corpus),
      Multimodal.audioClipContainmentFromGrams(clips, corpus, maxBroadcastKeys = 0L),
      "audioClipContainment")
  }

  test("a fence at Int.MaxValue keys takes the broadcast arm: lookup join and clip containment") {
    import spark.implicits._
    import graft.core.{FlumeDb, MemoryLog}
    import graft.views.{IndexView, Query}
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // the fence counts at most max + 1 keys; at max = Int.MaxValue that
    // bound must not wrap to a negative limit
    val fence = Int.MaxValue.toLong
    val schema = StructType(Seq(StructField("foo", LongType), StructField("tag", StringType)))
    val db = new FlumeDb(new MemoryLog(spark, schema))
    db.use("tagIdx", IndexView.onColumn("tag", "seq"))
    db.append(spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(1L, "a"), Row(2L, "b"), Row(3L, "a"), Row(4L, "c"))), schema))
    val probe = Seq(("a", 10L), ("c", 30L), ("zz", 99L)).toDF("tag", "w")
    def lookup(max: Long) =
      Query.lookupJoin(db, probe, "tag", maxBroadcastKeys = max).select("seq", "tag", "w", "foo")
    assertParity(lookup(1L << 20), lookup(fence), "lookupJoin")
    val rnd = new scala.util.Random(23)
    val corpusRows = for (m <- 0L until 10L; p <- 0L until 20L) yield (m, p, rnd.nextLong())
    val corpus = corpusRows.toDF("corpus_id", "cpos", "gram")
    val clips = corpusRows.filter { case (m, p, _) => m < 3L && p >= 4L && p < 12L }
      .map { case (m, p, g) => (9000L + m, p - 4L, g) }
      .toDF("clip_id", "kpos", "gram")
    assertParity(
      Multimodal.audioClipContainmentFromGrams(clips, corpus),
      Multimodal.audioClipContainmentFromGrams(clips, corpus, maxBroadcastKeys = fence),
      "audioClipContainment")
  }
}
