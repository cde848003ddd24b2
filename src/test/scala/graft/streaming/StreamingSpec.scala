package graft.streaming

import graft.SparkSpec
import graft.core._
import graft.views.{MergeableReduceView, Stats, StatsReduceView}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types._

/** Streaming behavior: live tail via the seq-offset custom source
  * (mirrors the reference's `{live: true}` append-after-start visibility),
  * streaming view maintenance, and watermarked event-time windows. */
class StreamingSpec extends SparkSpec {

  val schema: StructType = StructType(Seq(StructField("foo", LongType)))

  test("custom source: live tail sees existing entries then new appends") {
    val log = new MemoryLog(spark, schema)
    log.appendRows(Seq(Row(10L), Row(20L)))
    val q = log.readStream.writeStream
      .format("memory").queryName("tail_test").outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      assert(spark.sql("SELECT seq FROM tail_test ORDER BY seq").collect().map(_.getLong(0)).toSeq
        === Seq(0L, 1L))
      log.appendRows(Seq(Row(30L), Row(40L))) // append AFTER the stream started
      q.processAllAvailable()
      assert(spark.sql("SELECT seq, foo FROM tail_test ORDER BY seq").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
        === Seq((0L, 10L), (1L, 20L), (2L, 30L), (3L, 40L)))
    } finally q.stop()
  }

  test("custom source offsets are seq-granular (one batch per delta)") {
    val log = new MemoryLog(spark, schema)
    log.appendRows(Seq(Row(1L)))
    val stream = new LogMicroBatchStream(
      LogStreamRegistry.register(log), log.read.schema)
    assert(stream.initialOffset() === SeqOffset(-1L))
    assert(stream.latestOffset() === SeqOffset(0L))
    log.appendRows(Seq(Row(2L), Row(3L)))
    assert(stream.latestOffset() === SeqOffset(2L))
    val parts = stream.planInputPartitions(SeqOffset(0L), SeqOffset(2L))
    assert(parts.map(_.asInstanceOf[LogInputPartition].rows.length).sum === 2)
    assert(stream.deserializeOffset("7") === SeqOffset(7L))
  }

  test("durable log live tail is record-granular: seq offsets, post-start appends visible") {
    val logDir = java.nio.file.Files.createTempDirectory("graft-ptail").toString
    val plog = new ParquetLog(spark, logDir, schema)
    plog.appendRows(Seq(Row(10L), Row(20L)))
    val q = plog.readStream.writeStream
      .format("memory").queryName("ptail_test").outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      assert(spark.sql("SELECT seq FROM ptail_test ORDER BY seq").collect().map(_.getLong(0)).toSeq
        === Seq(0L, 1L))
      // offsets ARE seqs — the stream's end offset is the log cursor, not
      // a file index (record-granular checkpoint recovery)
      assert(q.lastProgress.sources(0).endOffset === "1")
      plog.appendRows(Seq(Row(30L))) // append AFTER the stream started
      q.processAllAvailable()
      assert(spark.sql("SELECT seq, foo FROM ptail_test ORDER BY seq").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
        === Seq((0L, 10L), (1L, 20L), (2L, 30L)))
      assert(q.lastProgress.sources(0).endOffset === "2")
    } finally q.stop()
  }

  test("durable live tail plans partitioned file readers with bucket pruning, no collect") {
    val logDir = java.nio.file.Files.createTempDirectory("graft-pplan").toString
    val plog = new ParquetLog(spark, logDir, schema, bucketSize = 10L)
    plog.appendRows((1L to 25L).map(Row(_)))  // seqs 0..24 → buckets 0, 1, 2
    val stream = new ParquetLogMicroBatchStream(
      LogStreamRegistry.register(plog), plog, plog.read.schema)
    assert(stream.latestOffset() === SeqOffset(24L))
    // batch (14, 24]: bucket 0 (seqs 0-9) must be pruned at plan time
    val parts = stream.planInputPartitions(SeqOffset(14L), SeqOffset(24L))
    assert(parts.nonEmpty)
    assert(parts.forall(_.isInstanceOf[ParquetSlicePartition]),
      "partitions must be file slices, not collected rows")
    val files = parts.map(_.asInstanceOf[ParquetSlicePartition].file)
    assert(files.forall(f => f.contains("seq_bucket=1") || f.contains("seq_bucket=2")),
      s"bucket 0 must be pruned from the plan, got:\n${files.mkString("\n")}")
    // per-file intervals are clipped to footer bounds, pairwise disjoint,
    // and chain to cover exactly (14, 24] — the invariant that makes the
    // compaction fallback duplicate-free
    val ranges = parts.map(_.asInstanceOf[ParquetSlicePartition]).sortBy(_.gt)
    assert(ranges.forall(p => p.gt >= 14L && p.lte <= 24L))
    val covered = ranges.foldLeft(14L) { (cursor, p) =>
      assert(p.gt === cursor, s"intervals must chain without gap/overlap at $cursor"); p.lte
    }
    assert(covered === 24L, "clipped intervals must cover the whole batch")
    // empty interval plans nothing
    assert(stream.planInputPartitions(SeqOffset(24L), SeqOffset(24L)).isEmpty)
  }

  test("planner NEVER silently skips a committed file: an unreadable footer fails the batch loudly") {
    // the r15→r17 curator-takedown flake's true root cause: a transient
    // footer-read failure made the planner SKIP a committed file, so its
    // rows fell out of the committed offset interval forever (a
    // re-upload vanished with a clean store and an advanced cursor).
    // The contract now: retry briefly, then THROW — record loss is
    // never silent, a failed batch replans.
    val logDir = java.nio.file.Files.createTempDirectory("graft-pskip").toString
    val plog = new ParquetLog(spark, logDir, schema, bucketSize = 10L)
    plog.appendRows((1L to 5L).map(Row(_))) // seqs 0..4, bucket 0
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(logDir, "seq_bucket=0", "part-garbage.parquet"),
      "not parquet")
    val stream = new ParquetLogMicroBatchStream(
      LogStreamRegistry.register(plog), plog, plog.read.schema)
    val e = intercept[java.io.IOException](
      stream.planInputPartitions(SeqOffset(-1L), SeqOffset(4L)))
    assert(e.getMessage.contains("unreadable"), e.getMessage)
  }

  test("live tail and compact() coexist: every seq delivered exactly once across rewrites") {
    val logDir = java.nio.file.Files.createTempDirectory("graft-ctail").toString
    val plog = new ParquetLog(spark, logDir, schema)
    plog.appendRows(Seq(Row(10L), Row(11L), Row(12L)))
    val q = plog.readStream.writeStream
      .format("memory").queryName("compact_tail").outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      plog.compact(1024L * 1024) // seq-offset tail running: must NOT throw
      plog.appendRows(Seq(Row(13L), Row(14L)))
      q.processAllAvailable()
      plog.compact(1024L * 1024) // and again between later batches
      plog.appendRows(Seq(Row(15L)))
      q.processAllAvailable()
      val seqs = spark.sql("SELECT seq FROM compact_tail ORDER BY seq")
        .collect().map(_.getLong(0)).toSeq
      assert(seqs === (0L to 5L), s"exactly-once across compactions, got $seqs")
    } finally q.stop()
  }

  test("planned file rewritten by compact: reader re-resolves its interval (no dupes/loss)") {
    val logDir = java.nio.file.Files.createTempDirectory("graft-cfall").toString
    val plog = new ParquetLog(spark, logDir, schema)
    plog.appendRows(Seq(Row(10L), Row(11L)))
    plog.appendRows(Seq(Row(12L), Row(13L)))
    val stream = new ParquetLogMicroBatchStream(
      LogStreamRegistry.register(plog), plog, plog.read.schema)
    // plan against the pre-compact layout...
    val parts = stream.planInputPartitions(SeqOffset(-1L), SeqOffset(3L))
      .map(_.asInstanceOf[ParquetSlicePartition])
    assert(parts.length >= 2)
    // ...then compaction rewrites the directory before the tasks run
    plog.compact()
    assert(parts.exists(p => !new java.io.File(p.file).exists()),
      "compact must have replaced the planned files for this test to bite")
    val kvs = ParquetSliceReader.captureConf(spark)
    val got = parts.flatMap { p =>
      val r = new ParquetSliceRowReader(p, plog.read.schema, "seq", kvs)
      try {
        val buf = scala.collection.mutable.Buffer[Long]()
        while (r.next()) buf += r.get().getLong(0)
        buf
      } finally r.close()
    }
    assert(got.sorted.toSeq === Seq(0L, 1L, 2L, 3L),
      s"fallback must re-read each partition's exact interval, got ${got.sorted.toSeq}")
    // the COLUMNAR reader takes the same fallback: re-resolved files may
    // merge ranges beyond a partition's share, so straddling batches
    // copy only their in-range rows — the union must still tile exactly
    val gotCol = parts.flatMap { p =>
      val r = new ParquetSliceColumnarReader(p, plog.read.schema, "seq", kvs)
      try {
        val buf = scala.collection.mutable.Buffer[Long]()
        while (r.next()) {
          val b = r.get()
          val it = b.rowIterator()
          while (it.hasNext) buf += it.next().getLong(0)
        }
        buf
      } finally r.close()
    }
    assert(gotCol.sorted.toSeq === Seq(0L, 1L, 2L, 3L),
      s"columnar fallback must re-read each partition's exact interval, got ${gotCol.sorted.toSeq}")
  }

  test("durable tail restart from checkpoint is record-precise (delta only)") {
    val logDir = java.nio.file.Files.createTempDirectory("graft-prestart").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-prestart-ck").toString
    val plog = new ParquetLog(spark, logDir, schema)
    plog.appendRows(Seq(Row(1L), Row(2L)))
    // foreachBatch sink: the recovery-capable sink shape views use
    val got = java.util.Collections.synchronizedList(new java.util.ArrayList[Long]())
    def start() = plog.readStream.writeStream
      .option("checkpointLocation", ckpt).outputMode(OutputMode.Append())
      .foreachBatch { (b: org.apache.spark.sql.Dataset[Row], _: Long) =>
        b.collect().foreach(r => got.add(r.getLong(0)))
      }.start()
    val q1 = start()
    try { q1.processAllAvailable() } finally q1.stop()
    assert(got.toArray.toSeq === Seq(0L, 1L))

    plog.appendRows(Seq(Row(3L))) // append while no query is running
    got.clear()
    // new query, same checkpoint: only the (1, 2] delta arrives
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(got.toArray.toSeq === Seq(2L),
        s"restart must deliver exactly the (1, 2] delta, got ${got.toArray.toSeq}")
    } finally q2.stop()
  }

  test("streaming runner maintains the durable LSM hashtable (streaming upserts)") {
    import graft.views.PersistentHashtableView
    val kvSchema = StructType(Seq(StructField("k", LongType), StructField("v", StringType)))
    val logDir = java.nio.file.Files.createTempDirectory("graft-shlog").toString
    val viewDir = java.nio.file.Files.createTempDirectory("graft-shview").toString
    val log = new ParquetLog(spark, logDir, kvSchema)
    log.appendRows(Seq(Row(1L, "a"), Row(2L, "b")))
    val db = new FlumeDb(log)
    db.use("ht", PersistentHashtableView(viewDir, "k"))
    val view = db.view("ht").view.asInstanceOf[PersistentHashtableView]
    val r = new StreamingViewRunner(log, view)
    try {
      r.awaitParity()
      log.appendRows(Seq(Row(1L, "a2"))) // live upsert through the stream
      r.awaitParity()
      assert(view.since === 2L)
      assert(view.get(1L).head().getString(2) === "a2")
      assert(view.get(2L).head().getString(2) === "b")
      assert(view.frame.count() === 2L)
    } finally r.stop()
  }

  test("retention under a live tail: expiring the consumed prefix disturbs nothing") {
    import graft.views.PersistentHashtableView
    val kvSchema = StructType(Seq(StructField("k", LongType), StructField("v", StringType)))
    val logDir = java.nio.file.Files.createTempDirectory("graft-sexp-log").toString
    val viewDir = java.nio.file.Files.createTempDirectory("graft-sexp-view").toString
    val log = new ParquetLog(spark, logDir, kvSchema, bucketSize = 2L)
    log.appendRows(Seq(Row(1L, "a"), Row(2L, "b"), Row(3L, "c"), Row(4L, "d"))) // seqs 0..3
    val db = new FlumeDb(log)
    db.use("ht", PersistentHashtableView(viewDir, "k"))
    val view = db.view("ht").view.asInstanceOf[graft.views.PersistentHashtableView]
    val r = new StreamingViewRunner(log, view)
    try {
      r.awaitParity()
      // the operational combo: a retention pass runs at a parity boundary
      // UNDER the live tail (the DSv2 fence only refuses mid-batch) —
      // whole bucket seq_bucket=0 truncates, the tail's offsets are
      // untouched (cursor never regresses), and the view keeps its own
      // state: log retention is not view retention (FlumeDb.expire is)
      assert(log.expire(1L) === 2L)
      log.appendRows(Seq(Row(5L, "e")))
      r.awaitParity()
      assert(view.since === 4L, "the tail advanced past the expired prefix untouched")
      assert(view.frame.count() === 5L,
        "no redelivery and no view truncation: all five keys, exactly once each")
      assert(view.get(1L).head().getString(2) === "a",
        "expired-era state survives in the view (its artifact, its lifecycle)")
      assert(log.read.select("seq").collect().map(_.getLong(0)).sorted.toSeq === Seq(2L, 3L, 4L))
    } finally r.stop()
  }

  test("streaming runner maintains the durable SCD-2 dimension (live version history)") {
    import graft.views.{Scd2, Scd2TableView}
    val kvSchema = StructType(Seq(StructField("k", LongType), StructField("v", StringType)))
    val logDir = java.nio.file.Files.createTempDirectory("graft-scdlog").toString
    val viewDir = java.nio.file.Files.createTempDirectory("graft-scdview").toString
    val log = new ParquetLog(spark, logDir, kvSchema)
    log.appendRows(Seq(Row(1L, "a"), Row(2L, "b")))
    val db = new FlumeDb(log)
    db.use("scd2", Scd2TableView(viewDir, "k", log.seqCol, Seq("v")))
    val view = db.view("scd2").view.asInstanceOf[Scd2TableView]
    val r = new StreamingViewRunner(log, view)
    try {
      r.awaitParity()
      log.appendRows(Seq(Row(1L, "a2"))) // a live new version for key 1
      r.awaitParity()
      assert(view.since === 2L)
      val dim = view.dimension.collect()
        .map(rr => (rr.getLong(0), rr.getLong(1), Option(rr.get(2)),
          rr.getBoolean(3), rr.getString(4))).toSet
      // key 1: [0, 2) closed by the live version, [2, null) current
      assert(dim === Set(
        (1L, 0L, Some(2L), false, "a"),
        (2L, 1L, None, true, "b"),
        (1L, 2L, None, true, "a2")),
        s"streamed dimension must carry the closed + open intervals, got $dim")
      // and it equals the batch rebuild over the whole log
      val direct = Scd2.dimension(log.read, "k", log.seqCol, Seq("v")).collect()
        .map(rr => (rr.getLong(0), rr.getLong(1), Option(rr.get(2)),
          rr.getBoolean(3), rr.getString(4))).toSet
      assert(dim === direct)
    } finally r.stop()
  }

  test("streaming runner maintains the embedding signature table; live dedup at total recall") {
    import graft.views.EmbeddingSigTableView
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")
    val logDir = java.nio.file.Files.createTempDirectory("graft-seslog").toString
    val viewDir = java.nio.file.Files.createTempDirectory("graft-sesview").toString
    val log = new ParquetLog(spark, logDir, emb.schema)
    log.append(emb.where(col("vec_id") < 200))
    val db = new FlumeDb(log)
    db.use("es", EmbeddingSigTableView(viewDir))
    val view = db.view("es").view.asInstanceOf[EmbeddingSigTableView]
    val r = new StreamingViewRunner(log, view)
    try {
      r.awaitParity()
      log.append(emb.where(col("vec_id") >= 200)) // live ingest
      r.awaitParity()
      assert(view.since === log.since)
      val n = emb.count()
      assert(view.sigs.count() === n)
      // a batch of re-encoded copies dedups against the LIVE corpus
      val batch = emb.select((col("vec_id") + 10000).as("vec_id"),
        transform(col("embedding"), x => (x * lit(1.001)).cast("float")).as("embedding"))
      val pairs = view.dedupBatch(batch, log.read.select("vec_id", "embedding"))
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2))).toSet
      assert(pairs.size === n && pairs.forall { case (a, b, c) => a == b + 10000L && c == 1.0 },
        s"live embedding dedup at total recall, got ${pairs.size}/$n")
    } finally r.stop()
  }

  test("streaming runner maintains the IVF ANN index incrementally, auto-compacted") {
    import graft.views.IVFIndexView
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")
    val embSchema = emb.schema
    val logDir = java.nio.file.Files.createTempDirectory("graft-sivflog").toString
    val viewDir = java.nio.file.Files.createTempDirectory("graft-sivfview").toString
    val log = new ParquetLog(spark, logDir, embSchema)
    log.append(emb.where(col("vec_id") < 200))
    val db = new FlumeDb(log)
    db.use("ivf", IVFIndexView(viewDir, nCentroids = 8, compactEvery = 2))
    val view = db.view("ivf").view.asInstanceOf[IVFIndexView]
    val r = new StreamingViewRunner(log, view)
    try {
      r.awaitParity()
      // vectors arriving through the live tail extend the index
      log.append(emb.where(col("vec_id") >= 200 && col("vec_id") < 350))
      r.awaitParity()
      log.append(emb.where(col("vec_id") >= 350))
      r.awaitParity()
      assert(view.since === log.since)
      // auto-compaction kept the delta chain bounded
      val dirs = new java.io.File(s"$viewDir/ivf").listFiles().map(_.getName)
        .count(_.startsWith("batch="))
      assert(dirs <= 2, s"compactEvery=2 must bound the chain, got $dirs dirs")
      // full probe + the streamed index == brute-force exact top-k (the
      // quantizer was seeded from batch 1, so assignment is deterministic)
      val query = emb.where(col("vec_id") === 0L).head()
        .getAs[scala.collection.Seq[Float]]("embedding").toSeq
      val got = view.search(query, 10, nProbe = 8, excludeId = Some(0L))
        .collect().map(_.getLong(0)).toSeq
      val exact = graft.ops.Similarity.knnForVector(emb, query, 10, excludeId = Some(0L))
        .collect().map(_.getLong(0)).toSeq
      assert(got === exact, s"streamed+compacted IVF at full probe must equal exact kNN")
    } finally r.stop()
  }

  test("streaming runner maintains the durable phash table; image dedup vs the live corpus") {
    import graft.views.PhashTableView
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val media = graft.ops.Multimodal.syntheticTexturePngMedia(docs)
    val logDir = java.nio.file.Files.createTempDirectory("graft-sphlog").toString
    val viewDir = java.nio.file.Files.createTempDirectory("graft-sphview").toString
    val log = new ParquetLog(spark, logDir, media.schema)
    log.append(media.where(col("media_id") < 200))
    val db = new FlumeDb(log)
    db.use("ph", PhashTableView(viewDir, compactEvery = 2))
    val view = db.view("ph").view.asInstanceOf[PhashTableView]
    val r = new StreamingViewRunner(log, view)
    try {
      r.awaitParity()
      // images arriving through the live tail extend the stored table
      log.append(media.where(col("media_id") >= 200))
      r.awaitParity()
      assert(view.since === log.since)
      assert(view.hashes.count() === media.count(),
        "every ingested image hashed exactly once")
      val dirs = new java.io.File(s"$viewDir/ph").listFiles().map(_.getName)
        .count(_.startsWith("batch="))
      assert(dirs <= 2, s"compactEvery=2 must bound the chain, got $dirs dirs")
      // a brightness-shifted batch dedups against the STREAMED corpus
      val batch = graft.ops.Multimodal.syntheticTexturePngMedia(
        docs, shift = 5, idOffset = 30000L)
      val pairs = view.dedupBatch(batch)
        .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
      val n = media.count()
      val recalled = pairs.count { case (a, b) => a == b + 30000L }
      assert(recalled >= (n * 9) / 10, s"planted recall $recalled/$n vs streamed table")
    } finally r.stop()
  }

  test("streaming runner maintains the audio fingerprint table; audio dedup vs the live corpus") {
    import graft.views.AudioFingerprintTableView
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val media = graft.ops.Multimodal.syntheticWavMedia(docs, textured = true)
    val logDir = java.nio.file.Files.createTempDirectory("graft-saflog").toString
    val viewDir = java.nio.file.Files.createTempDirectory("graft-safview").toString
    val log = new ParquetLog(spark, logDir, media.schema)
    log.append(media.where(col("media_id") < 200))
    val db = new FlumeDb(log)
    db.use("af", AudioFingerprintTableView(viewDir, compactEvery = 2))
    val view = db.view("af").view.asInstanceOf[AudioFingerprintTableView]
    val r = new StreamingViewRunner(log, view)
    try {
      r.awaitParity()
      // recordings arriving through the live tail extend the stored table
      log.append(media.where(col("media_id") >= 200))
      r.awaitParity()
      assert(view.since === log.since)
      assert(view.fingerprints.count() === media.count(),
        "every ingested recording fingerprinted exactly once")
      val dirs = new java.io.File(s"$viewDir/af").listFiles().map(_.getName)
        .count(_.startsWith("batch="))
      assert(dirs <= 2, s"compactEvery=2 must bound the chain, got $dirs dirs")
      // a gain-scaled, silence-padded re-encode batch dedups against the
      // STREAMED corpus — total recall (the fingerprint is invariant)
      val batch = graft.ops.Multimodal.syntheticWavMedia(
        docs, gain = 3, padSamples = 24, idOffset = 60000L, textured = true)
      val pairs = view.dedupBatch(batch)
        .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
      val n = media.count()
      val recalled = pairs.count { case (a, b) => a == b + 60000L }
      assert(recalled === n, s"planted recall $recalled/$n vs streamed table")
    } finally r.stop()
  }

  test("streaming runner maintains the audio gram table; clip containment vs the live corpus") {
    import graft.views.AudioGramTableView
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val media = graft.ops.Multimodal.syntheticWavMedia(docs, textured = true)
    val logDir = java.nio.file.Files.createTempDirectory("graft-saglog").toString
    val viewDir = java.nio.file.Files.createTempDirectory("graft-sagview").toString
    val log = new ParquetLog(spark, logDir, media.schema)
    log.append(media.where(col("media_id") < 200))
    val db = new FlumeDb(log)
    db.use("ag", AudioGramTableView(viewDir, compactEvery = 2))
    val view = db.view("ag").view.asInstanceOf[AudioGramTableView]
    val r = new StreamingViewRunner(log, view)
    try {
      r.awaitParity()
      log.append(media.where(col("media_id") >= 200))
      r.awaitParity()
      assert(view.since === log.since)
      // clip reuploads containment-check against the STREAMED corpus
      val clips = graft.ops.Multimodal.syntheticWavClip(docs, gain = 2)
      val hits = view.containsBatch(clips)
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
      val n = media.count()
      assert(hits.count { case (c, p, off) => p == c - 90000L && off == 8L } === n,
        s"planted containment vs streamed table: ${hits.size}/$n")
      // and once re-cuts land IN the log, the corpus-self sweep over
      // the runner-maintained table finds every (re-cut, parent) pair
      log.append(clips)
      r.awaitParity()
      val sweep = view.containmentSweep()
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
      assert(sweep.count { case (s, l, off) => l == s - 90000L && off == 8L } === n,
        s"planted sweep recall vs streamed table: ${sweep.size}/$n")
      assert(sweep.size === n, s"no extra sweep pairs, got ${sweep.size}")
    } finally r.stop()
  }

  test("streaming runner maintains the frame-hash table; video dedup vs the live corpus") {
    import graft.views.FrameHashTableView
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val media = graft.ops.Multimodal.syntheticTextureGifMedia(docs)
    val logDir = java.nio.file.Files.createTempDirectory("graft-sfhlog").toString
    val viewDir = java.nio.file.Files.createTempDirectory("graft-sfhview").toString
    val log = new ParquetLog(spark, logDir, media.schema)
    log.append(media.where(col("media_id") < 200))
    val db = new FlumeDb(log)
    db.use("fh", FrameHashTableView(viewDir, compactEvery = 2))
    val view = db.view("fh").view.asInstanceOf[FrameHashTableView]
    val r = new StreamingViewRunner(log, view)
    try {
      r.awaitParity()
      log.append(media.where(col("media_id") >= 200))
      r.awaitParity()
      assert(view.since === log.since)
      // exact re-encodes dedup against the STREAMED corpus at hamming 0
      val batch = graft.ops.Multimodal.syntheticTextureGifMedia(docs, idOffset = 120000L)
      val hits = view.dedupBatch(batch)
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(3))).toSet
      val n = media.count()
      assert(hits.count { case (a, b, mh) => a == b + 120000L && mh == 0L } === n,
        s"video dedup vs streamed table: ${hits.size}/$n")
    } finally r.stop()
  }

  test("streaming runner maintains the gram table; span check vs the live corpus") {
    import graft.views.GramTableView
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val logDir = java.nio.file.Files.createTempDirectory("graft-sgrlog").toString
    val viewDir = java.nio.file.Files.createTempDirectory("graft-sgrview").toString
    val log = new ParquetLog(spark, logDir, docSchema)
    log.appendRows(Seq(Row(1L, (1 to 30).map(i => s"alpha$i").mkString(" "))))
    val db = new FlumeDb(log)
    db.use("gr", GramTableView(viewDir, compactEvery = 2))
    val view = db.view("gr").view.asInstanceOf[GramTableView]
    val r = new StreamingViewRunner(log, view)
    try {
      r.awaitParity()
      // a second corpus doc arrives through the live tail
      log.appendRows(Seq(Row(2L, (1 to 30).map(i => s"beta$i").mkString(" "))))
      r.awaitParity()
      assert(view.since === log.since)
      assert(view.grams.count() === 32L) // 2 vocabularies x 16 positions
      // a new batch quoting the STREAMED doc 2 is span-flagged
      import spark.implicits._
      val batch = Seq((100L, ((1 to 20).map(i => s"beta$i") ++ Seq("zz")).mkString(" ")))
        .toDF("doc_id", "text")
      val spans = view.spansForBatch(batch)
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
      assert(spans.toSeq === Seq((100L, 1L, 20L)), s"got ${spans.toSeq}")
    } finally r.stop()
  }

  test("durable view reattaches WITHOUT a checkpoint: resumes from its own cursor, no replay") {
    import graft.views.PersistentIndexView
    import org.apache.spark.sql.functions.{array, col}
    val logDir = java.nio.file.Files.createTempDirectory("graft-reat-log").toString
    val viewDir = java.nio.file.Files.createTempDirectory("graft-reat-view").toString
    val tagSchema = StructType(Seq(StructField("tag", StringType)))
    val log1 = new ParquetLog(spark, logDir, tagSchema)
    log1.appendRows(Seq(Row("a"), Row("b")))
    val view1 = new PersistentIndexView(spark, s"$viewDir/idx", 1, array(col("tag")), "seq")
    val r1 = new StreamingViewRunner(log1, view1) // no checkpoint at all
    try { r1.awaitParity(); assert(view1.since === 1L) } finally r1.stop()

    // reattach with a brand-new runner and STILL no checkpoint: the view
    // manifest cursor alone must position the stream — only the delta is
    // absorbed, nothing is re-delivered
    val log2 = new ParquetLog(spark, logDir, tagSchema)
    log2.appendRows(Seq(Row("a")))
    val view2 = new PersistentIndexView(spark, s"$viewDir/idx", 1, array(col("tag")), "seq")
    assert(view2.since === 1L)
    val r2 = new StreamingViewRunner(log2, view2)
    try {
      r2.awaitParity()
      assert(view2.since === 2L)
      assert(view2.get("a").collect().map(_.getLong(1)).toSeq === Seq(0L, 2L),
        "seqs for 'a' must appear exactly once each — no replay duplication")
    } finally r2.stop()
  }

  test("live tail with gt is a SEEK: the skipped prefix is never read by the source") {
    val logDir = java.nio.file.Files.createTempDirectory("graft-pseek").toString
    val plog = new ParquetLog(spark, logDir, schema)
    plog.appendRows((1L to 50L).map(Row(_)))   // seqs 0..49
    val live = plog.stream(LogRange(gt = Some(44L), live = true))
    val q = live.writeStream.format("memory").queryName("pseek_test")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      assert(spark.sql("SELECT seq FROM pseek_test ORDER BY seq").collect().map(_.getLong(0)).toSeq
        === (45L to 49L))
      // the source's first batch spans (44, 49] — 5 input rows, not 50:
      // the prefix was skipped at the source, not filtered after reading
      val p = q.recentProgress.find(_.numInputRows > 0).get
      assert(p.numInputRows === 5, s"expected a 5-row seek batch, got ${p.numInputRows}")
      // batch 0 reports a null startOffset; the end offset is the cursor
      assert(p.sources(0).endOffset === "49")
    } finally q.stop()
  }

  test("slice reader round-trips primitive payload types including timestamps") {
    val logDir = java.nio.file.Files.createTempDirectory("graft-ptypes").toString
    val tySchema = StructType(Seq(
      StructField("s", StringType), StructField("d", DoubleType),
      StructField("i", IntegerType), StructField("ts", TimestampType),
      StructField("b", BinaryType), StructField("fl", BooleanType)))
    val plog = new ParquetLog(spark, logDir, tySchema)
    val t0 = java.sql.Timestamp.valueOf("2024-05-06 07:08:09.123456")
    plog.appendRows(Seq(Row("hey", 1.5, 7, t0, Array[Byte](1, 2, 3), true), Row(null, null, null, null, null, null)))
    val q = plog.readStream.writeStream
      .format("memory").queryName("ptypes_test").outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM ptypes_test ORDER BY seq").collect()
      assert(rows.length === 2)
      assert(rows(0).getString(1) === "hey" && rows(0).getDouble(2) === 1.5 && rows(0).getInt(3) === 7)
      assert(rows(0).getTimestamp(4) === t0)
      assert(rows(0).getAs[Array[Byte]](5).toSeq === Seq[Byte](1, 2, 3))
      assert(rows(0).getBoolean(6) === true)
      assert((1 to 6).forall(rows(1).isNullAt))
    } finally q.stop()
  }

  test("slice reader round-trips STRUCT and ARRAY payloads (media/embedding schemas ride the ordered source)") {
    // load-bearing (the r15→r17 flake): a schema this reader cannot
    // decode silently fell back to the file source, whose batches can
    // split an append out of seq order under a racing tail
    val logDir = java.nio.file.Files.createTempDirectory("graft-ntypes").toString
    val metaT = StructType(Seq(
      StructField("w", IntegerType), StructField("h", IntegerType),
      StructField("mime", StringType), StructField("taken", TimestampType)))
    val spanT = StructType(Seq(
      StructField("s", IntegerType), StructField("e", IntegerType)))
    // every nested shape a payload can carry — structs (with a nested
    // INT96 timestamp), arrays of primitives, MAPS, and ARRAYS OF
    // STRUCTS all ride the ordered seq-offset source now (the pre-r18
    // slice reader rejected the last two and silently fell back to the
    // file source — the r15→r17 record-loss mode)
    val nSchema = StructType(Seq(
      StructField("content", BinaryType), StructField("meta", metaT),
      StructField("emb", ArrayType(FloatType)),
      StructField("tags", MapType(StringType, IntegerType)),
      StructField("spans", ArrayType(spanT))))
    val t0 = new java.sql.Timestamp(1700000000000L)
    val plog = new ParquetLog(spark, logDir, nSchema)
    plog.appendRows(Seq(
      Row(Array[Byte](9, 8), Row(4, 3, "image/png", t0), Seq(1.5f, -2.25f),
        Map("a" -> 1, "b" -> 2), Seq(Row(0, 4), Row(7, 9))),
      Row(null, Row(1, 2, null, null), Seq.empty[Float], Map.empty[String, Int],
        Seq.empty[Row]),
      Row(Array[Byte](7), null, null, null, null)))
    val q = plog.readStream.writeStream
      .format("memory").queryName("ntypes_test").outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM ntypes_test ORDER BY seq").collect()
      assert(rows.length === 3)
      assert(rows(0).getAs[Array[Byte]]("content").toSeq === Seq[Byte](9, 8))
      assert(rows(0).getStruct(2) === Row(4, 3, "image/png", t0))
      assert(rows(0).getSeq[Float](3) === Seq(1.5f, -2.25f))
      assert(rows(0).getMap[String, Int](4) === Map("a" -> 1, "b" -> 2))
      assert(rows(0).getSeq[Row](5) === Seq(Row(0, 4), Row(7, 9)))
      assert(rows(1).isNullAt(1) && rows(1).getStruct(2) === Row(1, 2, null, null))
      assert(rows(1).getSeq[Float](3) === Seq.empty[Float])
      assert(rows(1).getMap[String, Int](4) === Map.empty[String, Int])
      assert(rows(1).getSeq[Row](5) === Seq.empty[Row])
      assert(rows(2).isNullAt(2) && rows(2).isNullAt(3) &&
        rows(2).isNullAt(4) && rows(2).isNullAt(5))
    } finally q.stop()
  }

  test("live tail null-fills columns added after old files were written (schema evolution)") {
    // batch reads null-fill absent columns via spark.read.schema(full);
    // the tail must match — a log whose schema gained a column across a
    // reopen used to THROW in the slice reader's projection when the
    // stream crossed a pre-upgrade file
    val logDir = java.nio.file.Files.createTempDirectory("graft-sevol").toString
    val v1 = StructType(Seq(StructField("body", StringType)))
    val log1 = new ParquetLog(spark, logDir, v1)
    log1.appendRows(Seq(Row("old-a"), Row("old-b")))
    // reopen with an ADDED column (and a nested added struct) — the old
    // files on disk lack both
    val v2 = StructType(Seq(
      StructField("body", StringType), StructField("lang", StringType),
      StructField("meta", StructType(Seq(StructField("score", DoubleType))))))
    val log2 = new ParquetLog(spark, logDir, v2)
    log2.appendRows(Seq(Row("new-c", "en", Row(0.5))))
    assert(log2.read.count() === 3L, "precondition: batch read spans both file vintages")
    val q = log2.readStream.writeStream
      .format("memory").queryName("sevol_test").outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      // one more append AFTER the tail started: old and new vintages
      // flow through the live path, not just the initial catch-up
      log2.appendRows(Seq(Row("new-d", "fr", Row(1.5))))
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM sevol_test ORDER BY seq").collect()
      assert(rows.length === 4)
      assert(rows(0).getString(1) === "old-a" && rows(0).isNullAt(2) && rows(0).isNullAt(3))
      assert(rows(1).getString(1) === "old-b" && rows(1).isNullAt(2) && rows(1).isNullAt(3))
      assert(rows(2).getString(1) === "new-c" && rows(2).getString(2) === "en" &&
        rows(2).getStruct(3) === Row(0.5))
      assert(rows(3).getString(1) === "new-d" && rows(3).getString(2) === "fr" &&
        rows(3).getStruct(3) === Row(1.5))
    } finally q.stop()
  }

  test("streaming view maintenance reaches parity incrementally") {
    val log = new MemoryLog(spark, schema)
    log.appendRows(Seq(Row(1L)))
    val view = StatsReduceView("foo").create(null, "stats").asInstanceOf[MergeableReduceView[Stats]]
    val runner = new StreamingViewRunner(log, view)
    try {
      runner.awaitParity()
      assert(view.since === 0L)
      assert(view.value.get.mean === 1.0)
      log.appendRows(Seq(Row(3L)))
      runner.awaitParity()
      assert(view.since === 1L)
      val st = view.value.get
      assert(st.n === 2 && st.mean === 2.0 && math.abs(st.stdevPop - 1.0) < 1e-12)
    } finally runner.stop()
  }

  test("watermarked tumbling window drops late data, emits closed windows") {
    val tsSchema = StructType(Seq(StructField("ts", TimestampType), StructField("value", DoubleType)))
    val log = new MemoryLog(spark, tsSchema)
    def ts(min: Int): java.sql.Timestamp = new java.sql.Timestamp(min * 60000L)
    log.appendRows(Seq(Row(ts(1), 1.0), Row(ts(2), 2.0)))
    val agg = StreamingViews.tumblingCounts(log.readStream, "ts", "10 minutes", "5 minutes")
    val q = agg.writeStream.format("memory").queryName("tumbling_test")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      // watermark is still at 0; nothing closed yet
      log.appendRows(Seq(Row(ts(30), 3.0))) // advances watermark to min 25 => closes [0,10)
      q.processAllAvailable()
      log.appendRows(Seq(Row(ts(3), 99.0))) // late beyond watermark: dropped
      log.appendRows(Seq(Row(ts(50), 4.0))) // advances watermark further
      q.processAllAvailable()
      val rows = spark.sql("SELECT window_start, cnt, sum_v FROM tumbling_test ORDER BY window_start")
        .collect().map(r => (r.getTimestamp(0).getTime / 60000, r.getLong(1), r.getDouble(2)))
      assert(rows.contains((0L, 2L, 3.0)), s"first window should have the 2 on-time rows only, got ${rows.toSeq}")
      assert(!rows.exists(_._3 == 99.0), "late row must be dropped by the watermark")
    } finally q.stop()
  }

  test("checkpointed restart resumes a durable view without replaying the log") {
    import graft.views.PersistentIndexView
    import org.apache.spark.sql.functions.{array, col}
    val logDir = java.nio.file.Files.createTempDirectory("graft-slog").toString
    val viewDir = java.nio.file.Files.createTempDirectory("graft-sview").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val tagSchema = StructType(Seq(StructField("tag", StringType)))

    val log1 = new ParquetLog(spark, logDir, tagSchema)
    log1.appendRows(Seq(Row("a"), Row("b")))
    val view1 = new PersistentIndexView(spark, s"$viewDir/idx", 1, array(col("tag")), "seq")
    val r1 = new StreamingViewRunner(log1, view1, checkpointDir = Some(ckpt))
    try {
      r1.awaitParity()
      assert(view1.since === 1L)
    } finally r1.stop()

    // restart: new log handle, new view object, same checkpoint + manifest
    val log2 = new ParquetLog(spark, logDir, tagSchema)
    log2.appendRows(Seq(Row("a")))
    val view2 = new PersistentIndexView(spark, s"$viewDir/idx", 1, array(col("tag")), "seq")
    assert(view2.since === 1L, "manifest cursor must be recovered before the stream starts")
    val r2 = new StreamingViewRunner(log2, view2, checkpointDir = Some(ckpt))
    try {
      r2.awaitParity()
      assert(view2.since === 2L)
      assert(view2.get("a").collect().map(_.getLong(1)).toSeq === Seq(0L, 2L))
      // only the new delta was absorbed after restart: batches 1 and 2
      val batchDirs = new java.io.File(s"$viewDir/idx").listFiles()
        .filter(_.getName.startsWith("batch=")).map(_.getName).sorted
      assert(batchDirs.toSeq === Seq("batch=1", "batch=2"),
        s"restart must not replay the first batch, got ${batchDirs.toSeq}")
    } finally r2.stop()
  }

  test("replayed micro-batch after crash-before-commit is absorbed exactly once") {
    import graft.views.PersistentReduceView
    val logDir = java.nio.file.Files.createTempDirectory("graft-rlog").toString
    val viewDir = java.nio.file.Files.createTempDirectory("graft-rview").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-rckpt").toString
    def mkView() = new PersistentReduceView[Long](s"$viewDir/sum", 1,
      df => df.agg(sum("foo")).head().getLong(0), _ + _, _.toString, _.toLong)

    val log1 = new ParquetLog(spark, logDir, schema)
    log1.appendRows(Seq(Row(10L), Row(20L)))
    val view1 = mkView()
    val r1 = new StreamingViewRunner(log1, view1, checkpointDir = Some(ckpt))
    try { r1.awaitParity(); assert(view1.value === Some(30L)) } finally r1.stop()

    // crash window: the absorb durably committed (VALUE file written)
    // but the checkpoint commit was lost — foreachBatch will REPLAY the
    // same seq interval on restart, and a merge-style absorb would
    // double-count it without the upto ≤ since guard
    val commits = new java.io.File(s"$ckpt/v1/commits").listFiles()
      .filter(_.getName.forall(_.isDigit))
    assert(commits.nonEmpty)
    val latest = commits.maxBy(_.getName.toInt)
    // also drop the local-FS checksum sidecar, or the replayed commit's
    // atomic rename trips over it
    new java.io.File(latest.getParent, s".${latest.getName}.crc").delete()
    assert(latest.delete())

    val log2 = new ParquetLog(spark, logDir, schema)
    val view2 = mkView()
    assert(view2.value === Some(30L), "durable state must survive the crash")
    val r2 = new StreamingViewRunner(log2, view2, checkpointDir = Some(ckpt))
    try {
      r2.awaitParity()
      assert(view2.value === Some(30L), "replayed batch must not double-count")
      log2.appendRows(Seq(Row(5L))) // genuinely new data still flows
      r2.awaitParity()
      assert(view2.value === Some(35L))
    } finally r2.stop()
  }

  test("version bump with a reused checkpoint dir rebuilds from the wiped cursor") {
    import graft.views.PersistentReduceView
    val logDir = java.nio.file.Files.createTempDirectory("graft-vlog").toString
    val viewDir = java.nio.file.Files.createTempDirectory("graft-vview").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-vckpt").toString
    def mkView(version: Int) = new PersistentReduceView[Long](s"$viewDir/sum", version,
      df => df.agg(sum("foo")).head().getLong(0), _ + _, _.toString, _.toLong)

    val log1 = new ParquetLog(spark, logDir, schema)
    log1.appendRows(Seq(Row(1L), Row(2L)))
    val v1 = mkView(1)
    val r1 = new StreamingViewRunner(log1, v1, checkpointDir = Some(ckpt), viewVersion = 1)
    try { r1.awaitParity(); assert(v1.value === Some(3L)) } finally r1.stop()

    // version bump wipes the view to since = -1; with an UN-namespaced
    // checkpoint the old committed offset would pin the stream past the
    // regressed cursor and the rebuild would silently miss every seq
    val v2 = mkView(2)
    assert(v2.since === -1L, "version bump must wipe the durable view")
    val log2 = new ParquetLog(spark, logDir, schema)
    val r2 = new StreamingViewRunner(log2, v2, checkpointDir = Some(ckpt), viewVersion = 2)
    try {
      r2.awaitParity()
      assert(v2.value === Some(3L), "rebuild must re-deliver every seq from the wiped cursor")
      assert(v2.since === 1L)
    } finally r2.stop()
  }

  test("stream(live=true) routes through the streaming source with range bounds") {
    val log = new MemoryLog(spark, schema)
    log.appendRows(Seq(Row(1L), Row(2L), Row(3L)))
    val live = log.stream(LogRange(gt = Some(0L), live = true))
    assert(live.isStreaming)
    val q = live.writeStream.format("memory").queryName("live_range_test")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      log.appendRows(Seq(Row(4L)))
      q.processAllAvailable()
      val seqs = spark.sql("SELECT seq FROM live_range_test ORDER BY seq").collect().map(_.getLong(0))
      assert(seqs.toSeq === Seq(1L, 2L, 3L), s"gt=0 bound must hold on the live stream, got ${seqs.toSeq}")
    } finally q.stop()
  }

  test("db-level live stream applies the mapper and sees post-start appends") {
    // regression: FlumeDb.stream(live = true) used to silently return a
    // static batch snapshot; the reference applies the mapper to live
    // streams (/root/reference/index.js:96-113)
    val log = new MemoryLog(spark, schema)
    log.appendRows(Seq(Row(1L)))
    val db = new FlumeDb(log, mapper = Some(df => df.withColumn("bar", col("foo") * 10)))
    val live = db.stream(LogRange(live = true))
    assert(live.isStreaming, "live db stream must be a streaming frame, not a snapshot")
    val q = live.writeStream.format("memory").queryName("db_live_test")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      log.appendRows(Seq(Row(2L))) // append AFTER the stream started
      db.append(spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row(3L))), schema))
      q.processAllAvailable()
      val rows = spark.sql("SELECT seq, foo, bar FROM db_live_test ORDER BY seq").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(rows.toSeq === Seq((0L, 1L, 10L), (1L, 2L, 20L), (2L, 3L, 30L)),
        s"live stream must carry mapped columns and post-start appends, got ${rows.toSeq}")
    } finally q.stop()
  }

  test("db-level live stream honors projection flags (values-only drops seq)") {
    val log = new MemoryLog(spark, schema)
    log.appendRows(Seq(Row(7L)))
    val db = new FlumeDb(log, mapper = Some(df => df.withColumn("bar", col("foo") + 1)))
    val live = db.stream(LogRange(live = true, seqs = false))
    assert(live.isStreaming)
    assert(!live.columns.contains("seq") && live.columns.contains("bar"))
    val seqsOnly = db.stream(LogRange(live = true, values = false))
    assert(seqsOnly.isStreaming)
    assert(seqsOnly.columns.toSeq === Seq("seq"), "seqs-only live stream skips the mapper")
  }

  test("db-level live stream over a durable ParquetLog (file source) with mapper") {
    val logDir = java.nio.file.Files.createTempDirectory("graft-plive").toString
    val plog = new ParquetLog(spark, logDir, schema)
    plog.appendRows(Seq(Row(1L)))
    val db = new FlumeDb(plog, mapper = Some(df => df.withColumn("bar", col("foo") * 100)))
    val live = db.stream(LogRange(live = true))
    assert(live.isStreaming)
    val q = live.writeStream.format("memory").queryName("plive_test")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      db.append(spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row(2L))), schema))
      q.processAllAvailable()
      val rows = spark.sql("SELECT seq, bar FROM plive_test ORDER BY seq").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(rows.toSeq === Seq((0L, 100L), (1L, 200L)),
        s"durable-log live tail must see post-start appends through the mapper, got ${rows.toSeq}")
    } finally q.stop()
  }

  test("live stream limit caps total records across batches; reverse throws") {
    val log = new MemoryLog(spark, schema)
    log.appendRows(Seq(Row(1L), Row(2L)))
    intercept[UnsupportedOperationException] {
      log.stream(LogRange(live = true, reverse = true))
    }
    val live = log.stream(LogRange(live = true, limit = Some(3)))
    assert(live.isStreaming)
    val q = live.writeStream.format("memory").queryName("live_limit_test")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      log.appendRows(Seq(Row(3L), Row(4L), Row(5L))) // would exceed the cap
      q.processAllAvailable()
      val seqs = spark.sql("SELECT seq FROM live_limit_test ORDER BY seq").collect().map(_.getLong(0))
      assert(seqs.toSeq === Seq(0L, 1L, 2L),
        s"limit must cap TOTAL records across micro-batches, got ${seqs.toSeq}")
    } finally q.stop()
  }

  test("TableLog has no streaming source (guards the driver-collect scale trap)") {
    import org.apache.spark.sql.functions.lit
    val table = spark.range(5).toDF("event_id").withColumn("v", lit(1.0))
    val tlog = new TableLog(spark, table, "event_id")
    intercept[UnsupportedOperationException] { tlog.readStream }
    intercept[UnsupportedOperationException] { tlog.stream(LogRange(live = true)) }
    // and the collect planner itself refuses non-memory logs
    intercept[IllegalArgumentException] {
      LogBatch.plan(tlog, table.schema, None, None)
    }
  }

  test("streaming session windows group gap-separated activity per key") {
    val evSchema = StructType(Seq(
      StructField("user", LongType), StructField("ts", TimestampType)))
    val log = new MemoryLog(spark, evSchema)
    def ts(min: Int) = new java.sql.Timestamp(min * 60000L)
    log.appendRows(Seq(Row(1L, ts(1)), Row(1L, ts(2)), Row(1L, ts(30)), Row(2L, ts(5))))
    val sess = StreamingViews.sessionCounts(log.readStream, "user", "ts", gap = "10 minutes", watermark = "5 minutes")
    val q = sess.writeStream.format("memory").queryName("sess_test")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      log.appendRows(Seq(Row(1L, ts(120)))) // push the watermark far forward
      q.processAllAvailable()
      val rows = spark.sql("SELECT user, session_start, cnt FROM sess_test ORDER BY user, session_start")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime / 60000, r.getLong(2)))
      assert(rows.contains((1L, 1L, 2L)), s"user 1 minutes 1-2 should be one closed session of 2, got ${rows.toSeq}")
      assert(rows.contains((1L, 30L, 1L)), s"user 1 minute 30 is its own session, got ${rows.toSeq}")
      assert(rows.contains((2L, 5L, 1L)), s"user 2 has one session, got ${rows.toSeq}")
    } finally q.stop()
  }

  test("streaming dedup drops repeats across batches") {
    val kvSchema = StructType(Seq(StructField("k", LongType), StructField("v", DoubleType)))
    val log = new MemoryLog(spark, kvSchema)
    log.appendRows(Seq(Row(1L, 1.0), Row(2L, 2.0), Row(1L, 99.0)))
    val dedup = StreamingViews.dedupStream(log.readStream.select("k", "v"), Seq("k"))
    val q = dedup.writeStream.format("memory").queryName("dedup_test")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      log.appendRows(Seq(Row(2L, 98.0), Row(3L, 3.0))) // 2 repeats across the batch boundary
      q.processAllAvailable()
      val rows = spark.sql("SELECT k, v FROM dedup_test ORDER BY k")
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(rows.toSeq === Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)),
        s"only first occurrence per key should survive, got ${rows.toSeq}")
    } finally q.stop()
  }

  test("watermarked streaming dedup drops repeats within the watermark with BOUNDED state") {
    // the 24/7-pipeline path: dropDuplicatesWithinWatermark retires key
    // state once the watermark passes, unlike the unbounded default
    val kvSchema = StructType(Seq(
      StructField("k", LongType), StructField("v", DoubleType),
      StructField("ts", TimestampType)))
    val log = new MemoryLog(spark, kvSchema)
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    log.appendRows(Seq(Row(1L, 1.0, ts(0)), Row(1L, 99.0, ts(1)), Row(2L, 2.0, ts(1))))
    val dedup = StreamingViews.dedupStream(
      log.readStream.select("k", "v", "ts"), Seq("k"), tsCol = Some("ts"), watermark = "10 minutes")
    val q = dedup.writeStream.format("memory").queryName("dedup_wm_test")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      log.appendRows(Seq(Row(2L, 98.0, ts(2)), Row(3L, 3.0, ts(3)))) // repeat within watermark
      q.processAllAvailable()
      val rows = spark.sql("SELECT k, v FROM dedup_wm_test ORDER BY k")
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(rows.toSeq === Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)),
        s"repeats within the watermark must be dropped, got ${rows.toSeq}")
      // state retires: the engine tracks numRowsDroppedByWatermark /
      // removed state via the operator; assert the query reports a
      // stateful dedup operator with a finite watermark configured
      assert(q.lastProgress.stateOperators.nonEmpty &&
        q.lastProgress.stateOperators.exists(_.operatorName.contains("dedupeWithinWatermark")),
        s"expected the within-watermark dedup operator, got " +
          q.lastProgress.stateOperators.map(_.operatorName).mkString(","))
    } finally q.stop()
  }

  test("mapGroupsWithState: running per-key stats across batches") {
    val kvSchema = StructType(Seq(StructField("k", LongType), StructField("v", DoubleType)))
    val log = new MemoryLog(spark, kvSchema)
    log.appendRows(Seq(Row(1L, 1.0), Row(1L, 3.0), Row(2L, 10.0)))
    val stats = StreamingViews.runningStatsPerKey(log.readStream.select("k", "v"), "k", "v")
    val q = stats.toDF("key", "stats").writeStream
      .format("memory").queryName("mgws_test").outputMode(OutputMode.Update()).start()
    try {
      q.processAllAvailable()
      log.appendRows(Seq(Row(2L, 20.0)))
      q.processAllAvailable()
      val latest = spark.sql("SELECT key, stats.n, stats.mean FROM mgws_test")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .groupBy(_._1).map { case (k, rs) => k -> rs.maxBy(_._2) }
      assert(latest(1L) === (1L, 2L, 2.0))   // mean of 1,3
      assert(latest(2L) === (2L, 2L, 15.0))  // mean of 10,20 across two batches
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER interval join emits null rows for closable unmatched lefts") {
    val sch = StructType(Seq(StructField("k", LongType),
      StructField("id", LongType), StructField("ts", TimestampType)))
    def ts(min: Int): java.sql.Timestamp = new java.sql.Timestamp(min * 60000L)
    val left = new MemoryLog(spark, sch)
    val right = new MemoryLog(spark, sch)
    // matched pair (k=1), unmatched left (k=2), and a late sentinel on
    // BOTH sides that pushes the watermark far past every join window
    left.appendRows(Seq(Row(1L, 100L, ts(10)), Row(2L, 200L, ts(12))))
    right.appendRows(Seq(Row(1L, 900L, ts(8))))
    val l = left.readStream.select(col("k"), col("id").as("lid"), col("ts").as("lts"))
      .withWatermark("lts", "5 minutes")
    val r = right.readStream.select(col("k").as("rk"), col("id").as("rid"), col("ts").as("rts"))
      .withWatermark("rts", "5 minutes")
    val joined = l.join(r,
      col("k") === col("rk") &&
        col("rts") >= col("lts") - org.apache.spark.sql.functions.expr("INTERVAL 5 MINUTES") &&
        col("rts") <= col("lts"),
      "left_outer")
      .select(col("k"), col("lid"), col("rid"))
    val q = joined.writeStream.format("memory").queryName("louter_test")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      left.appendRows(Seq(Row(9L, 999L, ts(120))))
      right.appendRows(Seq(Row(9L, 998L, ts(120))))
      q.processAllAvailable()
      val rows = spark.sql("SELECT k, lid, rid FROM louter_test").collect()
        .map(r => (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
      assert(rows.contains((1L, 100L, 900L)), s"matched pair must join: $rows")
      assert(rows.contains((2L, 200L, -1L)),
        s"unmatched left must emit with null right once its window closes: $rows")
    } finally q.stop()
  }

  test("TWS state TTL: expired key restarts silently; unexpired TTL matches no-TTL") {
    val kvSchema = StructType(Seq(StructField("k", LongType), StructField("v", DoubleType)))
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      def run(name: String, ttl: java.time.Duration, idleMs: Long): Set[(Long, Long, Double)] = {
        val log = new MemoryLog(spark, kvSchema)
        log.appendRows(Seq(Row(1L, 1.0)))
        val q = StreamingViews.runningStatsPerKeyTws(
            log.readStream.select("k", "v"), "k", "v", stateTtl = Some(ttl))
          .toDF("key", "stats")
          .writeStream.format("memory").queryName(name)
          .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"))
          .outputMode(OutputMode.Update()).start()
        try {
          def rows = spark.sql(s"SELECT key, stats.n, stats.mean FROM $name")
            .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
          pollUntil(s"$name: first observation")(rows.contains((1L, 1L, 1.0)))
          Thread.sleep(idleMs)
          log.appendRows(Seq(Row(1L, 5.0)))
          pollUntil(s"$name: second observation")(
            rows.exists(r => r._1 == 1L && r._3 != 1.0))
          rows
        } finally q.stop()
      }
      // TTL expired during the idle window: the value state reads empty
      // on the next touch and the key restarts SILENTLY — n=1, mean=5
      val expired = run("tws_ttl_fast", java.time.Duration.ofMillis(100), idleMs = 500)
      assert(expired.contains((1L, 1L, 5.0)),
        s"expired key must restart from zero, got $expired")
      assert(!expired.exists(r => r._1 == 1L && r._2 == 2L),
        s"no merge across an expiry, got $expired")
      // TTL armed but unexpired: identical to the no-TTL twin's merge
      val armed = run("tws_ttl_slow", java.time.Duration.ofHours(1), idleMs = 100)
      assert(armed.contains((1L, 2L, 3.0)),
        s"unexpired TTL must merge like no-TTL (n=2, mean=3), got $armed")
    } finally prev match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("TWS evictAfter: an event-time timer evicts with a final re-emit — no wall-clock sleep") {
    val kvSchema = StructType(Seq(
      StructField("k", LongType), StructField("ts", LongType), StructField("v", DoubleType)))
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val log = new MemoryLog(spark, kvSchema)
      log.appendRows(Seq(Row(1L, 1000L, 1.0), Row(1L, 1100L, 3.0)))
      val q = StreamingViews.runningStatsPerKeyTws(
          log.readStream.select("k", "ts", "v"), "k", "v",
          evictAfter = Some("2 seconds"), tsCol = Some("ts"))
        .toDF("key", "stats")
        .writeStream.format("memory").queryName("tws_eta")
        .outputMode(OutputMode.Update()).start()
      try {
        def rows = spark.sql("SELECT key, stats.n, stats.mean FROM tws_eta")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        q.processAllAvailable()
        assert(rows.contains((1L, 2L, 2.0)), s"batch-1 merge, got $rows")
        // another key's events advance the watermark past key 1's
        // deadline (1100 + 2000); the timer fires on the NEXT batch and
        // the final snapshot re-emits (the evictAfter semantic — unlike
        // stateTtl's silent expiry). No wall-clock sleep anywhere.
        log.appendRows(Seq(Row(7L, 60000L, 9.0)))
        q.processAllAvailable()
        log.appendRows(Seq(Row(7L, 61000L, 9.0)))
        q.processAllAvailable()
        // reactivation: the key restarts from zero
        log.appendRows(Seq(Row(1L, 62000L, 5.0)))
        q.processAllAvailable()
        assert(rows.contains((1L, 1L, 5.0)),
          s"an evicted key must restart from zero, got $rows")
        assert(!rows.exists(r => r._1 == 1L && r._2 == 3L),
          s"no merge across an event-time eviction, got $rows")
      } finally q.stop()
    } finally prev match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("transformWithState twin reaches the same per-key state across batches") {
    val kvSchema = StructType(Seq(StructField("k", LongType), StructField("v", DoubleType)))
    val log = new MemoryLog(spark, kvSchema)
    log.appendRows(Seq(Row(1L, 1.0), Row(1L, 3.0), Row(2L, 10.0)))
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stats = StreamingViews.runningStatsPerKeyTws(log.readStream.select("k", "v"), "k", "v")
      val q = stats.toDF("key", "stats").writeStream
        .format("memory").queryName("tws_test").outputMode(OutputMode.Update()).start()
      try {
        q.processAllAvailable()
        log.appendRows(Seq(Row(2L, 20.0)))
        q.processAllAvailable()
        val latest = spark.sql("SELECT key, stats.n, stats.mean FROM tws_test")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
          .groupBy(_._1).map { case (k, rs) => k -> rs.maxBy(_._2) }
        // identical state transitions to the mapGroupsWithState twin
        assert(latest(1L) === (1L, 2L, 2.0))
        assert(latest(2L) === (2L, 2L, 15.0))
        // the query really runs the TWS operator
        assert(q.lastProgress.stateOperators.exists(
          _.operatorName.toLowerCase.contains("transformwithstate")),
          s"expected a transformWithState operator, got " +
            q.lastProgress.stateOperators.map(_.operatorName).mkString(","))
      } finally q.stop()
    } finally prev match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("streaming signature table: ingest-time sigs equal batch recompute; incremental dedup parity") {
    import graft.views.SignatureTableView
    import graft.ops.Dedup
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val logDir = java.nio.file.Files.createTempDirectory("graft-siglog").toString
    val viewDir = java.nio.file.Files.createTempDirectory("graft-sigview").toString
    def doc(i: Long) =
      Row(i, s"the quick brown fox number $i jumps over the lazy dog near gate $i")
    val log = new ParquetLog(spark, logDir, docSchema)
    log.appendRows((1L to 20L).map(doc))
    val db = new FlumeDb(log)
    db.use("sigs", SignatureTableView(viewDir))
    val view = db.view("sigs").view.asInstanceOf[graft.views.SignatureTableView]
    val r = new StreamingViewRunner(log, view)
    try {
      r.awaitParity()
      log.appendRows((21L to 30L).map(doc)) // second batch through the live tail
      r.awaitParity()
      assert(view.since === log.since)

      // stored signatures == batch recompute over the same corpus
      val stored = view.sigs.select("id", "sig")
        .collect().map(x => (x.getLong(0), x.getSeq[Long](1).toList)).toMap
      val batch = Dedup.signatureTable(log.read.select("doc_id", "text"))
        .select("id", "sig")
        .collect().map(x => (x.getLong(0), x.getSeq[Long](1).toList)).toMap
      assert(stored === batch)

      // a new batch dedups against the STORED table with the same answer
      // as recomputing the whole corpus from scratch
      import spark.implicits._
      val newDocs = Seq(doc(5L), doc(99L)).map(r0 => (r0.getLong(0) + 1000, r0.getString(1)))
        .toDF("doc_id", "text") // 1005 duplicates doc 5's text
      def pairs(df: org.apache.spark.sql.DataFrame) =
        df.select("id_a", "id_b").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
      val viaStored = pairs(Dedup.minhashLshIncrementalStored(
        newDocs, view.sigs, threshold = 0.9, verifyExact = true))
      val scratch = pairs(Dedup.minhashLshIncremental(
        newDocs, log.read.select("doc_id", "text"), threshold = 0.9, verifyExact = true))
      assert(viaStored === scratch)
      assert(viaStored.contains((1005L, 5L)) || viaStored.contains((5L, 1005L)),
        "the planted duplicate must be found against the stored corpus")
    } finally r.stop()
  }

  test("log sink: stream-to-log ingestion is exactly-once across epoch replays") {
    val logDirA = java.nio.file.Files.createTempDirectory("graft-sink-src").toString
    val logDirB = java.nio.file.Files.createTempDirectory("graft-sink-dst").toString
    val commit = java.nio.file.Files.createTempDirectory("graft-sink-c").resolve("_sink_commit").toString
    val src = new ParquetLog(spark, logDirA, schema)
    val dst = new ParquetLog(spark, logDirB, schema)
    src.appendRows(Seq(Row(10L), Row(20L)))
    // e2e: source log tail → sink log; payload flows, seqs re-stamped
    val q = LogSink.start(src.readStream.select("foo"), dst, commit)
    try {
      q.processAllAvailable()
      src.appendRows(Seq(Row(30L)))
      q.processAllAvailable()
      assert(dst.read.orderBy("seq").collect().map(_.getLong(1)).toSeq === Seq(10L, 20L, 30L))
      assert(dst.since === 2L)
    } finally q.stop()

    // replay simulation: foreachBatch re-delivers an epoch after a crash
    // between append and checkpoint commit — the committer must skip it
    val committer = new LogSink.BatchCommitter(dst, commit)
    import spark.implicits._
    val epoch = Seq(40L).toDF("foo")
    committer.addBatch(epoch, 2L) // fresh epoch: appends
    assert(dst.read.count() === 4L)
    committer.addBatch(epoch, 2L) // replayed epoch: must be a no-op
    committer.addBatch(epoch, 1L) // stale epoch: must be a no-op
    assert(dst.read.count() === 4L, "replayed epochs must not double-append")
    committer.addBatch(Seq(50L).toDF("foo"), 3L)
    assert(dst.read.orderBy("seq").collect().map(_.getLong(1)).toSeq
      === Seq(10L, 20L, 30L, 40L, 50L))
  }

  test("streaming curator: quality + exact + near dedup per batch, incremental vs stored corpus, exactly-once restart") {
    import graft.views.SignatureTableView
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val srcLog = new ParquetLog(spark, tmp("graft-cur-src"), docSchema)
    val curLog = new ParquetLog(spark, tmp("graft-cur-dst"), docSchema)
    val sigView = new graft.views.SignatureTableView(spark, s"${tmp("graft-cur-sig")}/s", 1, "doc_id", "text")
    val commit = java.nio.file.Paths.get(tmp("graft-cur-c"), "_curate_commit").toString
    def doc(i: Long, body: String) = Row(i, body)
    val base = "the quick brown fox jumps over the lazy dog and it is a fine day for running in the field"
    // batch A: 1-2 distinct, 3 = exact dup of 1, 4 = near dup of 2, 5 = garbage quality
    srcLog.appendRows(Seq(
      doc(1L, base + " alpha"),
      doc(2L, "it was the best of times and it was the worst of times for all of the people in the town"),
      doc(3L, base + " alpha"),
      doc(4L, "it was the best of times and it was the worst of times for all of the people in a town"),
      doc(5L, "@@@ ### $$$ %%% ^^^ &&& *** ((( )))")))
    val cur = new StreamingCurator(srcLog, curLog, sigView, commit)
    try {
      cur.awaitParity()
      val kept1 = curLog.read.select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept1 === Set(1L, 2L), s"exact dup (3), near dup (4) and garbage (5) must drop, got $kept1")
      assert(sigView.since === srcLog.since)
      // signature table holds exactly the curated survivors
      assert(sigView.sigs.select("id").collect().map(_.getLong(0)).toSet === Set(1L, 2L))

      // batch B through the live tail: 6 = near dup of STORED doc 2
      // (caught only via the stored signature table), 7 = fresh
      srcLog.appendRows(Seq(
        doc(6L, "it was the best of times and it was the worst of times for all of the people in every town"),
        doc(7L, "a completely different story about ships and the sea where the wind was cold and the night was long")))
      cur.awaitParity()
      val kept2 = curLog.read.select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept2 === Set(1L, 2L, 7L), s"6 must drop against the stored corpus, got $kept2")
      assert(sigView.sigs.select("id").collect().map(_.getLong(0)).toSet === Set(1L, 2L, 7L))
    } finally cur.stop()

    // restart with NO checkpoint: the stream re-seeks to the signature
    // cursor, so the already-curated interval is never re-delivered and
    // the curated log does not double up
    val cur2 = new StreamingCurator(srcLog, curLog, sigView, commit)
    try {
      cur2.awaitParity()
      assert(curLog.read.count() === 3L, "restart must not re-append curated docs")
      // new work after restart still flows
      srcLog.appendRows(Seq(doc(8L,
        "deep in the forest the old bear slept through the winter and the snow fell on the tall pines")))
      cur2.awaitParity()
      assert(curLog.read.select("doc_id").collect().map(_.getLong(0)).toSet === Set(1L, 2L, 7L, 8L))
      assert(sigView.since === srcLog.since)
    } finally cur2.stop()

    // crash window: append committed (mark written) but absorb lost —
    // replaying the same interval must skip the append and only absorb
    val (survivors, _, rel9) = cur2.surviveBatch(
      spark.createDataFrame(spark.sparkContext.parallelize(Seq(doc(9L,
        "yet another unique tale of mountains and the rivers that run through the green valley all summer"))), docSchema))
    assert(survivors.count() === 1L, "fresh doc survives the decision function")
    rel9.foreach(_.unpersist(blocking = false))

    // the FULL open window, end to end (cur2 is stopped, so its
    // surviveBatch is a pure decision function): append batch 10 to the
    // source, do exactly what the batch body does MINUS the absorb —
    // survivors appended, mark written, cursor left behind — then a
    // fresh curator must close the window by absorbing WITHOUT
    // double-appending
    val upto10 = srcLog.appendRows(Seq(doc(10L,
      "over the bright water the gulls wheeled and cried while the fishermen hauled their heavy nets ashore")))
    val pre = curLog.read.count()
    val (sv10, _, rel10) = cur2.surviveBatch(
      srcLog.read.where(col("seq") > sigView.since).drop("seq"))
    curLog.append(sv10.localCheckpoint(true))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(commit), upto10.toString)
    rel10.foreach(_.unpersist(blocking = false))
    assert(curLog.read.count() === pre + 1 && sigView.since < upto10,
      "window open: doc 10 appended, absorb deliberately lost")
    val cur3 = new StreamingCurator(srcLog, curLog, sigView, commit)
    try {
      cur3.awaitParity()
      assert(curLog.read.count() === pre + 1, "replay must NOT double-append doc 10")
      assert(sigView.since === srcLog.since, "the replay closed the window by absorbing")
      assert(sigView.sigs.where(col("id") === 10L).count() === 1L,
        "the lost absorb landed on replay")
    } finally cur3.stop()
  }

  test("media streaming curator: decode-once curation over the stored phash table, exactly-once across every crash window") {
    import graft.ops.Multimodal
    import graft.views.PhashTableView
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val srcLog = new ParquetLog(spark, tmp("graft-mcur-src"), Multimodal.mediaSchema)
    val curLog = new ParquetLog(spark, tmp("graft-mcur-dst"), Multimodal.mediaSchema)
    val phView = new PhashTableView(spark, s"${tmp("graft-mcur-ph")}/ph", 1)
    val commit = java.nio.file.Paths.get(tmp("graft-mcur-c"), "_mcurate_commit").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val docsA = docs.where(col("doc_id") < 30)  // image ids 0,3,...,27
    // batch A: 10 originals + a pixel-identical re-upload of id 0 as id
    // 500 (idOffset shifts the id, pixels come from the source id) + a
    // non-decodable blob (id 600) for the decodability floor
    val originals = Multimodal.syntheticTexturePngMedia(docsA)
    val reupload = Multimodal.syntheticTexturePngMedia(
      docs.where(col("doc_id") === 0), idOffset = 500L)
    val garbage = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(
        600L, "image", Array.fill[Byte](64)(7), Row(0, 0, 0L, "application/octet-stream")))),
      Multimodal.mediaSchema)
    srcLog.append(originals.unionByName(reupload).unionByName(garbage))
    val binding = MediaDedupBinding.image(phView)
    val cur = new MediaStreamingCurator(srcLog, curLog, binding, commit)
    try {
      cur.awaitParity()
      val kept1 = curLog.read.select("media_id").collect().map(_.getLong(0)).toSet
      assert(kept1 === Set(0L, 3L, 6L, 9L, 12L, 15L, 18L, 21L, 24L, 27L),
        s"re-upload (500, self near-dup) and garbage (600, no decode) must drop, got $kept1")
      assert(phView.since === srcLog.since)
      assert(phView.hashes.select("media_id").collect().map(_.getLong(0)).toSet === kept1,
        "the feature table holds exactly the survivors' hashes")

      // batch B through the live tail: id 1003 = pixel-identical to
      // STORED id 3 (caught only via the stored table), id 33 fresh
      srcLog.append(
        Multimodal.syntheticTexturePngMedia(docs.where(col("doc_id") === 3), idOffset = 1000L)
          .unionByName(Multimodal.syntheticTexturePngMedia(
            docs.where(col("doc_id") === 33))))
      cur.awaitParity()
      val kept2 = curLog.read.select("media_id").collect().map(_.getLong(0)).toSet
      assert(kept2 === (kept1 + 33L), s"1003 must drop against the stored corpus, got $kept2")
      assert(phView.hashes.select("media_id").collect().map(_.getLong(0)).toSet === kept2)
    } finally cur.stop()

    // restart with NO checkpoint: the stream re-seeks to the feature
    // cursor, the curated interval is never re-delivered
    val cur2 = new MediaStreamingCurator(srcLog, curLog, MediaDedupBinding.image(phView), commit)
    try {
      cur2.awaitParity()
      assert(curLog.read.count() === 11L, "restart must not re-append curated media")
      srcLog.append(Multimodal.syntheticTexturePngMedia(docs.where(col("doc_id") === 36)))
      cur2.awaitParity()
      assert(curLog.read.select("media_id").collect().map(_.getLong(0)).toSet.contains(36L))
      assert(phView.since === srcLog.since)
    } finally cur2.stop()

    // crash window: append committed (mark written) but absorb LOST —
    // replay must skip the append and only absorb. Simulate the window
    // by doing exactly what the batch body does, minus the absorb.
    val batchC = Multimodal.syntheticTexturePngMedia(docs.where(col("doc_id") === 39))
    val uptoC = srcLog.append(batchC)
    val preCount = curLog.read.count()
    val (svC, _, relC) = MediaStreamingCurator.decide(
      MediaDedupBinding.image(phView),
      srcLog.read.where(col("seq") > phView.since), "media_id", "seq")
    curLog.append(svC.localCheckpoint(true))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(commit), uptoC.toString)
    relC.foreach(_.unpersist(blocking = false))
    assert(curLog.read.count() === preCount + 1, "39 appended, absorb deliberately lost")
    assert(phView.since < uptoC, "the crash window is open: mark written, cursor behind")
    val cur3 = new MediaStreamingCurator(srcLog, curLog, MediaDedupBinding.image(phView), commit)
    try {
      cur3.awaitParity()
      assert(curLog.read.count() === preCount + 1,
        "replaying the open window must NOT double-append")
      assert(curLog.read.where(col("media_id") === 39L).count() === 1L)
      assert(phView.since === srcLog.since, "the replay closed the window by absorbing")
      assert(phView.hashes.where(col("media_id") === 39L).count() === 1L,
        "the lost absorb landed on replay")
    } finally cur3.stop()
  }

  test("media takedown through the live curator: a re-upload of a retracted image survives") {
    import graft.ops.Multimodal
    import graft.views.{PhashTableView, Retraction}
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val srcLog = new ParquetLog(spark, tmp("graft-mret-src"), Multimodal.mediaSchema)
    val curLog = new ParquetLog(spark, tmp("graft-mret-dst"), Multimodal.mediaSchema)
    val phView = new PhashTableView(spark, s"${tmp("graft-mret-ph")}/ph", 1)
    val commit = java.nio.file.Paths.get(tmp("graft-mret-c"), "_mark").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .where(col("doc_id") < 30)
    srcLog.append(Multimodal.syntheticTexturePngMedia(docs)) // ids 0,3,...,27
    val cur = new MediaStreamingCurator(srcLog, curLog,
      MediaDedupBinding.image(phView), commit)
    try {
      cur.awaitParity()
      assert(curLog.read.where(col("media_id") === 3L).count() === 1L)
      // takedown image 3 at a batch boundary through the family path
      Retraction.retract(curLog, "media_id", Seq(3L),
        (ids: org.apache.spark.sql.DataFrame) => phView.retractIds(ids, "media_id"),
        java.nio.file.Paths.get(tmp("graft-mret-i"), "_intent").toString)
      assert(curLog.read.where(col("media_id") === 3L).count() === 0L,
        "the retracted image left the curated log")
      assert(phView.hashes.where(col("media_id") === 3L).count() === 0L,
        "its hash left the feature table")
      // re-uploads: a pixel-identical copy of RETRACTED 3 (id 1003) must
      // SURVIVE — the stored hash is really gone — while a copy of KEPT
      // image 6 (id 1006) still drops against the stored table
      srcLog.append(
        Multimodal.syntheticTexturePngMedia(docs.where(col("doc_id") === 3), idOffset = 1000L)
          .unionByName(Multimodal.syntheticTexturePngMedia(
            docs.where(col("doc_id") === 6), idOffset = 1000L)))
      cur.awaitParity()
      val kept = curLog.read.select("media_id").collect().map(_.getLong(0)).toSet
      // ROOT-CAUSED in round 16. This test failed ~1/100 runs with both
      // re-uploads dropped; the planted diagnostics (kept below for any
      // recurrence) discriminated the candidate mechanisms when the
      // r16 stress loop reproduced it: view.since == srcLog.since and a
      // moved commit mark proved the batch RAN (not skipped), the store
      // dump proved the retraction held (not stale) — leaving the
      // decision itself, whose ONLY nondeterministic input was
      // decodeImage's swallow-everything catch: a TRANSIENT ImageIO
      // failure read as "not an image" and the decodability floor
      // dropped the valid re-upload. Fixed at the decode site (retry
      // once; fatal VM errors propagate so the task fails and Spark
      // retries it); both other mechanisms stay excluded by the
      // deterministic fault-injection tests.
      def stored = phView.hashes.collect().map(_.getLong(0)).sorted.mkString(",")
      def diag = s"stored media_ids: $stored; view.since=${phView.since}; " +
        s"mark='${java.nio.file.Files.readString(java.nio.file.Paths.get(commit)).trim}'; " +
        s"srcLog.since=${srcLog.since}"
      assert(kept.contains(1003L),
        s"retracted content must be re-ingestable, got $kept ($diag)")
      assert(!kept.contains(1006L),
        s"kept content must still dedup, got $kept ($diag)")
    } finally cur.stop()
  }

  test("fault injection (r15 flake, skipped-batch theory): awaitParity cannot leave an interval unprocessed") {
    // the other way the observed failure state can arise (both
    // re-uploads missing from the curated log) is the micro-batch
    // carrying them never being processed while awaitParity returned.
    // Excluded here by construction: an instrumented binding records
    // every absorbed interval; rapid appends land back-to-back WITHOUT
    // parity waits between (so the source must coalesce and deliver
    // them however it batches), a takedown runs mid-stream at a parity
    // boundary, and at every awaitParity the cursor must equal the
    // source HWM with the absorbed uptos tiling the whole seq range —
    // a silently skipped batch breaks both.
    import graft.ops.Multimodal
    import graft.views.{PhashTableView, Retraction}
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val srcLog = new ParquetLog(spark, tmp("graft-skip-src"), Multimodal.mediaSchema)
    val curLog = new ParquetLog(spark, tmp("graft-skip-dst"), Multimodal.mediaSchema)
    val phView = new PhashTableView(spark, s"${tmp("graft-skip-ph")}/ph", 1)
    val commit = java.nio.file.Paths.get(tmp("graft-skip-c"), "_mark").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val inner = MediaDedupBinding.image(phView)
    val uptos = new java.util.concurrent.CopyOnWriteArrayList[Long]()
    val binding = new MediaDedupBinding {
      def since: Long = inner.since
      def storedOption = inner.storedOption
      def featurize(media: org.apache.spark.sql.DataFrame) = inner.featurize(media)
      def selfPairs(features: org.apache.spark.sql.DataFrame) = inner.selfPairs(features)
      def crossPairs(features: org.apache.spark.sql.DataFrame,
          stored: org.apache.spark.sql.DataFrame) = inner.crossPairs(features, stored)
      def absorb(features: org.apache.spark.sql.DataFrame, upto: Long): Unit = {
        uptos.add(upto); inner.absorb(features, upto)
      }
    }
    def media(ids: Long*) =
      Multimodal.syntheticTexturePngMedia(docs.where(col("doc_id").isin(ids: _*)))
    val cur = new MediaStreamingCurator(srcLog, curLog, binding, commit)
    try {
      // three appends back-to-back, no parity wait between them
      srcLog.append(media(0L, 3L)); srcLog.append(media(6L)); srcLog.append(media(9L, 12L))
      cur.awaitParity()
      assert(phView.since === srcLog.since,
        s"cursor ${phView.since} behind source ${srcLog.since}: an interval was skipped")
      val curated1 = curLog.read.select("media_id").collect().map(_.getLong(0)).toSet
      assert(curated1 === Set(0L, 3L, 6L, 9L, 12L), s"got $curated1")
      // mid-stream takedown at a parity boundary, then more rapid appends
      Retraction.retract(curLog, "media_id", Seq(6L),
        (ids: org.apache.spark.sql.DataFrame) => phView.retractIds(ids, "media_id"),
        java.nio.file.Paths.get(tmp("graft-skip-i"), "_intent").toString)
      srcLog.append(Multimodal.syntheticTexturePngMedia(
        docs.where(col("doc_id") === 6L), idOffset = 1000L)) // re-upload of retracted
      srcLog.append(media(15L))
      srcLog.append(Multimodal.syntheticTexturePngMedia(
        docs.where(col("doc_id") === 9L), idOffset = 1000L)) // copy of kept
      cur.awaitParity()
      assert(phView.since === srcLog.since,
        s"cursor ${phView.since} behind source ${srcLog.since} after takedown")
      val curated2 = curLog.read.select("media_id").collect().map(_.getLong(0)).toSet
      assert(curated2 === Set(0L, 3L, 9L, 12L, 15L, 1006L),
        s"expected re-upload of retracted 6 to survive and copy of kept 9 to drop, got $curated2")
      // the absorbed intervals tile the seq range: strictly increasing,
      // ending at the source HWM (absorb runs even for all-dropped
      // batches, so gaps = skipped batches)
      val us = uptos.toArray.map(_.asInstanceOf[Long]).toSeq
      assert(us === us.sorted && us.distinct == us, s"absorb order broke: $us")
      assert(us.lastOption.contains(srcLog.since), s"absorbs $us never reached ${srcLog.since}")
    } finally cur.stop()
  }

  test("retention with expireFeatures: a re-crawl of aged-out media re-ingests; kept content still dedups") {
    // the INVERSE of the takedown re-ingest proof: retention ages
    // content out of the curated log, and when the operator also opts
    // the feature table in (expireDeltasThrough — delta-chain
    // truncation, no data read), a re-crawl of that content is treated
    // as NEW (its hash is really gone) while content newer than the
    // horizon still dedups against the surviving deltas
    import graft.ops.Multimodal
    import graft.views.PhashTableView
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val srcLog = new ParquetLog(spark, tmp("graft-fexp-src"), Multimodal.mediaSchema)
    val curLog = new ParquetLog(spark, tmp("graft-fexp-dst"), Multimodal.mediaSchema)
    val phView = new PhashTableView(spark, s"${tmp("graft-fexp-ph")}/ph", 1)
    val commit = java.nio.file.Paths.get(tmp("graft-fexp-c"), "_mark").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def media(ids: Long*) =
      Multimodal.syntheticTexturePngMedia(docs.where(col("doc_id").isin(ids: _*)))
    val cur = new MediaStreamingCurator(srcLog, curLog, MediaDedupBinding.image(phView), commit)
    try {
      srcLog.append(media(0L, 3L)); cur.awaitParity()   // phash delta upto = src seq 1
      val batch1Upto = phView.since
      srcLog.append(media(6L, 9L)); cur.awaitParity()   // second delta
      assert(curLog.read.count() === 4L)
      // retention at a parity boundary: batch 1 ages out of the curated
      // log (seqs 0,1) AND the feature table (the delta at its upto)
      assert(curLog.expire(1L) === 2L)
      assert(phView.expireDeltasThrough(batch1Upto) === 1)
      assert(phView.hashes.select("media_id").collect().map(_.getLong(0)).toSet
        === Set(6L, 9L), "only the surviving batch's hashes remain")
      assert(phView.since === srcLog.since, "truncation never moves the cursor")
      // re-crawl: a copy of AGED-OUT 3 re-ingests; a copy of KEPT 6 drops
      srcLog.append(
        Multimodal.syntheticTexturePngMedia(docs.where(col("doc_id") === 3), idOffset = 1000L)
          .unionByName(Multimodal.syntheticTexturePngMedia(
            docs.where(col("doc_id") === 6), idOffset = 1000L)))
      cur.awaitParity()
      val kept = curLog.read.select("media_id").collect().map(_.getLong(0)).toSet
      assert(kept.contains(1003L), s"aged-out content must re-ingest, got $kept")
      assert(!kept.contains(1006L), s"kept content must still dedup, got $kept")
    } finally cur.stop()
  }

  test("media streaming curator: video binding — multi-row frame features through the same engine") {
    import graft.ops.Multimodal
    import graft.views.FrameHashTableView
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val srcLog = new ParquetLog(spark, tmp("graft-vcur-src"), Multimodal.mediaSchema)
    val curLog = new ParquetLog(spark, tmp("graft-vcur-dst"), Multimodal.mediaSchema)
    val fhView = new FrameHashTableView(spark, s"${tmp("graft-vcur-fh")}/fh", 1)
    val commit = java.nio.file.Paths.get(tmp("graft-vcur-c"), "_vcurate_commit").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .where(col("doc_id") < 30)
    val originals = Multimodal.syntheticTextureGifMedia(docs) // ids 2,5,...(doc_id%3==2)
    val origIds = originals.select("media_id").collect().map(_.getLong(0)).toSet
    // batch A: originals + an exact re-encode of one (idOffset keeps
    // frames identical) -> the re-encode drops in the SELF pass
    val dupOfFirst = Multimodal.syntheticTextureGifMedia(
      docs.where(col("doc_id") === 2), idOffset = 150000L)
    srcLog.append(originals.unionByName(dupOfFirst))
    val cur = new MediaStreamingCurator(srcLog, curLog, MediaDedupBinding.video(fhView), commit)
    try {
      cur.awaitParity()
      val kept1 = curLog.read.select("media_id").collect().map(_.getLong(0)).toSet
      assert(kept1 === origIds, s"the frame-identical re-encode must drop, got $kept1")
      // the feature table holds every FRAME of every survivor
      val frames = fhView.hashes.groupBy("media_id").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(frames.keySet === kept1)
      assert(frames.forall { case (id, nf) => nf == 3 + (id % 3) },
        s"per-video frame counts must ride into the stored table, got ${frames.take(3)}")
      // batch B: an exact re-encode of a STORED video (drops via the
      // incremental check) + a fresh one
      srcLog.append(Multimodal.syntheticTextureGifMedia(
          docs.where(col("doc_id") === 5), idOffset = 150000L)
        .unionByName(Multimodal.syntheticTextureGifMedia(
          spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .where(col("doc_id") === 32))))
      cur.awaitParity()
      val kept2 = curLog.read.select("media_id").collect().map(_.getLong(0)).toSet
      assert(kept2 === (kept1 + 32L), s"stored dup must drop, fresh must survive, got $kept2")
      assert(fhView.since === srcLog.since)
    } finally cur.stop()
  }

  test("media streaming curator: embedding binding — the curated log is the verify-side vector corpus") {
    import graft.views.EmbeddingSigTableView
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val embSchema = StructType(Seq(
      StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType))))
    val srcLog = new ParquetLog(spark, tmp("graft-ecur-src"), embSchema)
    // seq-bucketed curated log: the verify side must prune to candidate
    // buckets instead of rescanning the corpus (round-14 close of the
    // "nothing ever rescans history" caveat)
    val curLog = new ParquetLog(spark, tmp("graft-ecur-dst"), embSchema, bucketSize = 16L)
    val sigView = new EmbeddingSigTableView(spark, s"${tmp("graft-ecur-sig")}/es", 1)
    val commit = java.nio.file.Paths.get(tmp("graft-ecur-c"), "_ecurate_commit").toString
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding").where(col("vec_id") < 50)
    val n = emb.count()
    // batch A: 50 originals + a x1.001 rescale of vector 0 as id 500
    // (cosine 1.0 -> drops in the SELF pass)
    srcLog.append(emb.unionByName(emb.where(col("vec_id") === 0)
      .select(lit(500L).as("vec_id"),
        transform(col("embedding"), x => (x * lit(1.001)).cast("float")).as("embedding"))))
    val cur = new MediaStreamingCurator(srcLog, curLog,
      MediaDedupBinding.embedding(sigView, curLog),
      commit, idCol = "vec_id")
    try {
      cur.awaitParity()
      val kept1 = curLog.read.select("vec_id").collect().map(_.getLong(0)).toSet
      assert(kept1 === (0L until n).toSet, s"the rescaled copy (500) must drop, got ${kept1.size}")
      // the signature artifact holds survivors only — sigs plus each
      // vector's CURATED-log seq (16 B/vector; vectors never duplicated
      // into the view — the seq is what lets the verify prune the
      // curated log's seq buckets instead of rescanning the corpus)
      assert(sigView.sigs.columns.toSeq === Seq("vec_id", "sig", "seq"))
      assert(sigView.sigs.count() === n && sigView.since === srcLog.since)
      // the stamped seqs ARE the curated log's seqs (id ↔ seq parity)
      val sigSeqs = sigView.sigs.select("vec_id", "seq").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val logSeqs = curLog.stream().select("vec_id", "seq").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(sigSeqs === logSeqs, "stored seqs must match the curated log's seq assignment")
      // batch B: a rescale of STORED vector 7 (drops only via the
      // stored check, verified against the CURATED LOG's vectors) + a
      // fresh vector far from everything
      val fresh = spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(Row(900L,
          (0 until 64).map(d => if (d % 2 == 0) 1.0f else -1.0f)))), embSchema)
      srcLog.append(emb.where(col("vec_id") === 7)
        .select(lit(700L).as("vec_id"),
          transform(col("embedding"), x => (x * lit(1.002)).cast("float")).as("embedding"))
        .unionByName(fresh))
      cur.awaitParity()
      val kept2 = curLog.read.select("vec_id").collect().map(_.getLong(0)).toSet
      assert(kept2 === (kept1 + 900L), s"700 must drop vs the stored corpus, 900 survives, got $kept2")
      assert(sigView.sigs.count() === n + 1)
    } finally cur.stop()
  }

  test("signature table view survives restart from its manifest; version bump rebuilds") {
    import graft.views.SignatureTableView
    val viewDir = java.nio.file.Files.createTempDirectory("graft-sigv2").toString
    import spark.implicits._
    val b1 = Seq((1L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val v1 = new graft.views.SignatureTableView(spark, s"$viewDir/s", 1, "doc_id", "text")
    v1.absorb(b1, 0L)
    assert(v1.since === 0L && v1.sigs.count() === 1L)
    // reopen: cursor restored from the manifest, data intact
    val v2 = new graft.views.SignatureTableView(spark, s"$viewDir/s", 1, "doc_id", "text")
    assert(v2.since === 0L && v2.sigs.count() === 1L)
    // version bump: state wiped, since back to -1 (flume rebuild rule)
    val v3 = new graft.views.SignatureTableView(spark, s"$viewDir/s", 2, "doc_id", "text")
    assert(v3.since === -1L && v3.frameOption.isEmpty)
  }

  test("streaming funnel: stage cursor carries across batches; out-of-order types don't count") {
    val kvSchema = StructType(Seq(
      StructField("k", LongType), StructField("s", LongType), StructField("et", StringType)))
    val log = new MemoryLog(spark, kvSchema)
    // batch 1: user 1 views; user 2 purchases FIRST (must not count)
    log.appendRows(Seq(Row(1L, 1L, "view"), Row(2L, 2L, "purchase"), Row(2L, 3L, "view")))
    val q = StreamingViews.funnelPerKey(
        log.readStream.select("k", "s", "et"), "k", "s", "et",
        Seq("view", "click", "purchase"))
      .toDF("k", "seqs", "stage")
      .writeStream.format("memory").queryName("funnel_live")
      .outputMode(OutputMode.Update()).start()
    try {
      q.processAllAvailable()
      // batch 2: user 1's click+purchase arrive later and must chain off
      // the batch-1 view; user 2's click opens stage 2 off their view
      log.appendRows(Seq(Row(1L, 4L, "click"), Row(1L, 5L, "purchase"), Row(2L, 6L, "click")))
      q.processAllAvailable()
      val fin = spark.sql(
        "SELECT k, seqs, stage FROM funnel_live ORDER BY stage DESC")
        .collect().groupBy(_.getLong(0)).map { case (k, rows) =>
          val r = rows.head // max stage per key
          k -> ((r.getAs[scala.collection.Seq[Long]](1).toList, r.getInt(2)))
        }
      assert(fin === Map(
        1L -> ((List(1L, 4L, 5L), 3)), // full funnel across the batch boundary
        2L -> ((List(3L, 6L), 2))))    // early purchase never counted
    } finally q.stop()
  }

  test("streaming windowed funnel: gap gate rides the cursor across batches") {
    val kvSchema = StructType(Seq(
      StructField("k", LongType), StructField("s", LongType),
      StructField("ms", LongType), StructField("et", StringType)))
    val log = new MemoryLog(spark, kvSchema)
    // batch 1: both users view at t=0
    log.appendRows(Seq(Row(1L, 1L, 0L, "view"), Row(2L, 2L, 0L, "view")))
    val q = StreamingViews.funnelPerKey(
        log.readStream.select("k", "s", "ms", "et"), "k", "s", "et",
        Seq("view", "click", "purchase"), tsCol = Some("ms"), maxGap = Some(100L))
      .toDF("k", "seqs", "stage")
      .writeStream.format("memory").queryName("funnel_w_live")
      .outputMode(OutputMode.Update()).start()
    try {
      q.processAllAvailable()
      // batch 2: user 1 clicks within the gap (t=50) and purchases
      // within the gap OF THE CLICK (t=120 <= 50+100); user 2's click
      // arrives too late (t=200 > 0+100) — stuck at stage 1, and a
      // LATER in-gap click must not rescue it (the chain is greedy
      // within... actually a later click CAN fire if within gap of the
      // view: t=90 qualifies)
      log.appendRows(Seq(
        Row(1L, 3L, 50L, "click"), Row(1L, 4L, 120L, "purchase"),
        Row(2L, 5L, 200L, "click"), Row(2L, 6L, 90L, "click")))
      q.processAllAvailable()
      val fin = spark.table("funnel_w_live").collect()
        .groupBy(_.getLong(0)).map { case (k, rows) =>
          val r = rows.maxBy(_.getInt(2))
          k -> ((r.getAs[scala.collection.Seq[Long]](1).toList, r.getInt(2)))
        }
      // user 2: seq order processes seq 5 (ms 200, out of gap — no
      // advance) then seq 6 (ms 90, within gap — advances)
      assert(fin === Map(
        1L -> ((List(1L, 3L, 4L), 3)),
        2L -> ((List(2L, 6L), 2))), s"got $fin")
      // parity with the batch windowed funnel over the same rows
      import spark.implicits._
      val all = Seq((1L, 1L, 0L, "view"), (2L, 2L, 0L, "view"),
        (1L, 3L, 50L, "click"), (1L, 4L, 120L, "purchase"),
        (2L, 5L, 200L, "click"), (2L, 6L, 90L, "click"))
      val batch = graft.ops.Funnel.funnel(all.toDF("k", "s", "ms", "et"), "k",
          col("s"), col("et"), Seq("view", "click", "purchase"),
          tsCol = Some(col("ms")), maxGap = Some(100L))
        .collect().map { r =>
          val seqs = (1 to 3).flatMap(i => if (r.isNullAt(i)) None else Some(r.getLong(i))).toList
          r.getLong(0) -> ((seqs, r.getInt(4)))
        }.toMap
      assert(batch === fin, "live windowed funnel == batch windowed funnel")
      // total-window mode discriminates: user 1's purchase@120 passes
      // the per-transition gap (120-50 <= 100) but NOT the stage-1
      // anchor (120-0 > 100) -> stuck at stage 2
      val qt = StreamingViews.funnelPerKey(
          log.readStream.select("k", "s", "ms", "et"), "k", "s", "et",
          Seq("view", "click", "purchase"), tsCol = Some("ms"), maxGap = Some(100L),
          gapFrom = "first")
        .toDF("k", "seqs", "stage")
        .writeStream.format("memory").queryName("funnel_t_live")
        .outputMode(OutputMode.Update()).start()
      try {
        qt.processAllAvailable()
        val tot = spark.table("funnel_t_live").collect()
          .groupBy(_.getLong(0)).map { case (k, rows) =>
            k -> rows.maxBy(_.getInt(2)).getInt(2)
          }
        assert(tot === Map(1L -> 2, 2L -> 2), s"got $tot")
      } finally qt.stop()
    } finally q.stop()
  }

  // With ProcessingTimeTimeout armed, the engine schedules timeout-sweep
  // batches on every trigger tick, so processAllAvailable never quiesces
  // (see StreamingViews.timeoutConf doc) — TTL tests gate on sink
  // contents instead.
  private def pollUntil(what: String, timeoutMs: Long = 30000L)(cond: => Boolean): Unit = {
    val end = System.currentTimeMillis + timeoutMs
    while (System.currentTimeMillis < end && !cond) Thread.sleep(50)
    assert(cond, s"condition not reached within ${timeoutMs}ms: $what")
  }

  test("idleTtl evicts an idle funnel key; reactivation starts a fresh attempt") {
    val kvSchema = StructType(Seq(
      StructField("k", LongType), StructField("s", LongType), StructField("et", StringType)))
    val log = new MemoryLog(spark, kvSchema)
    log.appendRows(Seq(Row(1L, 1L, "view"), Row(1L, 2L, "click")))
    val q = StreamingViews.funnelPerKey(
        log.readStream.select("k", "s", "et"), "k", "s", "et",
        Seq("view", "click", "purchase"), idleTtl = Some("1 millisecond"))
      .toDF("k", "seqs", "stage")
      .writeStream.format("memory").queryName("funnel_ttl")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"))
      .outputMode(OutputMode.Update()).start()
    try {
      def k1rows = spark.sql("SELECT seqs, stage FROM funnel_ttl WHERE k = 1")
        .collect().map(r => (r.getAs[scala.collection.Seq[Long]](0).toList, r.getInt(1))).toSet
      pollUntil("key 1 reaches stage 2")(k1rows.exists(_._2 == 2))
      Thread.sleep(300) // key 1 idles past the TTL; sweep ticks evict it
      // reactivation: under the old cursor "purchase" would complete
      // the funnel (stage 3); after eviction it starts a NEW attempt
      // and doesn't match stage 1 ("view") — snapshot stage 0
      log.appendRows(Seq(Row(1L, 4L, "purchase")))
      pollUntil("evicted key restarts at stage 0")(k1rows.contains((Nil, 0)))
      assert(!k1rows.exists(_._2 == 3),
        s"the funnel must NOT complete across an eviction, got $k1rows")
    } finally q.stop()
  }

  test("idleTtl = armed-but-unexpired emits exactly the NoTimeout run; paths eviction closes the session") {
    // (1) same events, TTL armed at 1 hour (never fires): the armed run
    // must emit exactly the NoTimeout run's rows — no more, no fewer
    val kvSchema = StructType(Seq(
      StructField("k", LongType), StructField("s", LongType), StructField("et", StringType)))
    def run(name: String, ttl: Option[String]): Seq[(Long, List[Long], Int)] = {
      val log = new MemoryLog(spark, kvSchema)
      log.appendRows(Seq(Row(1L, 1L, "view"), Row(2L, 2L, "view")))
      val q = StreamingViews.funnelPerKey(
          log.readStream.select("k", "s", "et"), "k", "s", "et",
          Seq("view", "click", "purchase"), idleTtl = ttl)
        .toDF("k", "seqs", "stage")
        .writeStream.format("memory").queryName(name)
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"))
        .outputMode(OutputMode.Update()).start()
      try {
        def rows = spark.table(name).collect()
          .map(r => (r.getLong(0), r.getAs[scala.collection.Seq[Long]](1).toList, r.getInt(2)))
          .toSeq
        pollUntil(s"$name: batch 1 snapshots")(rows.size >= 2)
        log.appendRows(Seq(Row(1L, 3L, "click"), Row(2L, 4L, "purchase")))
        pollUntil(s"$name: batch 2 snapshots")(rows.size >= 4)
        Thread.sleep(300) // several sweep ticks: no further emission may appear
        rows.sortBy(r => (r._1, r._3))
      } finally q.stop()
    }
    val none = run("fttl_none", None)
    val armed = run("fttl_hour", Some("1 hour"))
    assert(armed === none,
      "an armed-but-unexpired TTL must emit exactly the NoTimeout run's rows")

    // (2) paths (Append-shape): eviction drops the trailing window, so a
    // bigram that would span the idle gap is NOT emitted
    val pSchema = StructType(Seq(
      StructField("k", LongType), StructField("ms", LongType),
      StructField("s", LongType), StructField("et", StringType)))
    def runPaths(name: String, ttl: Option[String]): Seq[String] = {
      val log = new MemoryLog(spark, pSchema)
      // key 8's p>q completes inside batch 1 — the sentinel proving
      // key 1's "a" was processed before the idle wait starts
      log.appendRows(Seq(Row(1L, 1000L, 1L, "a"),
        Row(8L, 1100L, 2L, "p"), Row(8L, 1200L, 3L, "q")))
      val q = StreamingViews.pathsPerKey(
          log.readStream.select("k", "ms", "s", "et"), "k", "ms", "s", "et",
          gapMs = 1000000000L, n = 2, idleTtl = ttl)
        .toDF("path")
        .writeStream.format("memory").queryName(name)
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"))
        .outputMode(OutputMode.Append()).start()
      try {
        def paths = spark.table(name).collect().map(_.getString(0)).toSeq
        pollUntil(s"$name: batch-1 sentinel")(paths.contains("p>q"))
        if (ttl.nonEmpty) Thread.sleep(400) // sweep ticks evict key 1
        // event-time gap (1000 ms) is far below gapMs: only an eviction
        // can break the a>b chain. Key 9's x>y completes in-batch —
        // the sentinel proving batch 2 was fully processed.
        log.appendRows(Seq(Row(1L, 2000L, 4L, "b"),
          Row(9L, 1500L, 5L, "x"), Row(9L, 1600L, 6L, "y")))
        pollUntil(s"$name: batch-2 sentinel")(paths.contains("x>y"))
        paths.sorted
      } finally q.stop()
    }
    assert(runPaths("pttl_none", None).contains("a>b"),
      "without TTL the in-session bigram completes")
    assert(!runPaths("pttl_fast", Some("1 millisecond")).contains("a>b"),
      "eviction must close the session: no bigram across the evicted window")
  }

  test("streaming retention: snapshots carry across batches and self-revise the cohort") {
    val kvSchema = StructType(Seq(
      StructField("k", LongType), StructField("p", LongType)))
    val day = 86400L
    val log = new MemoryLog(spark, kvSchema)
    // batch 1: key 1 active on days 10 and 12; key 2 on day 11
    log.appendRows(Seq(Row(1L, 10 * day), Row(1L, 12 * day), Row(2L, 11 * day)))
    val q = StreamingViews.retentionPerKey(
        log.readStream.select("k", "p"), "k", "p")
      .toDF("k", "cohort_ms", "offsets")
      .writeStream.format("memory").queryName("ret_live")
      .outputMode(OutputMode.Update()).start()
    try {
      q.processAllAvailable()
      // batch 2: key 1 re-activates on day 13; key 2's EARLIER day 9
      // arrives late — its cohort must move and offsets re-derive
      log.appendRows(Seq(Row(1L, 13 * day), Row(2L, 9 * day)))
      q.processAllAvailable()
      val latest = spark.sql("SELECT k, cohort_ms, offsets FROM ret_live").distinct()
        .collect().groupBy(_.getLong(0)).map { case (k, rows) =>
          val r = rows.maxBy(_.getAs[scala.collection.Seq[Long]](2).length)
          k -> ((r.getLong(1), r.getAs[scala.collection.Seq[Long]](2).toList))
        }
      assert(latest === Map(
        1L -> ((10 * day * 1000L, List(0L, 2L, 3L))),
        2L -> ((9 * day * 1000L, List(0L, 2L)))), s"got $latest")
      // and the aggregated snapshots equal the batch operator
      val batchDf = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
          Row(1L, 10 * day), Row(1L, 12 * day), Row(2L, 11 * day),
          Row(1L, 13 * day), Row(2L, 9 * day))), kvSchema)
        .select(col("k"), org.apache.spark.sql.functions.timestamp_seconds(col("p")).as("ts"))
      val batch = graft.ops.Retention.retention(batchDf, "k", col("ts"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val streamed = latest.toSeq.flatMap { case (_, (cms, offs)) =>
        offs.map(o => (cms, o))
      }.groupBy(identity).map { case ((cms, o), xs) => (cms, o, xs.size.toLong) }.toSet
      assert(streamed === batch, "final snapshots must aggregate to the batch operator")
    } finally q.stop()
  }

  test("streaming type sets: snapshots grow across batches; explode equals the batch base") {
    val kvSchema = StructType(Seq(
      StructField("k", LongType), StructField("et", StringType)))
    val log = new MemoryLog(spark, kvSchema)
    log.appendRows(Seq(Row(1L, "a"), Row(1L, "b"), Row(2L, "a")))
    val q = StreamingViews.typeSetPerKey(
        log.readStream.select("k", "et"), "k", "et")
      .toDF("k", "types")
      .writeStream.format("memory").queryName("types_live")
      .outputMode(OutputMode.Update()).start()
    try {
      q.processAllAvailable()
      // batch 2: key 1 repeats a (no state change), key 2 adds c
      log.appendRows(Seq(Row(1L, "a"), Row(2L, "c")))
      q.processAllAvailable()
      val latest = spark.table("types_live").distinct()
        .collect().groupBy(_.getLong(0)).map { case (k, rows) =>
          k -> rows.maxBy(_.getAs[scala.collection.Seq[String]](1).length)
            .getAs[scala.collection.Seq[String]](1).toList
        }
      assert(latest === Map(1L -> List("a", "b"), 2L -> List("a", "c")))
      // affinity over the exploded snapshots equals the batch operator
      import spark.implicits._
      val base = latest.toSeq.flatMap { case (k, ts) => ts.map(k -> _) }.toDF("k", "t")
      val viaStream = graft.ops.Affinity.typeAffinity(base, "k", col("t"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      val batchDf = Seq((1L, "a"), (1L, "b"), (2L, "a"), (1L, "a"), (2L, "c")).toDF("k", "t")
      val viaBatch = graft.ops.Affinity.typeAffinity(batchDf, "k", col("t"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      assert(viaStream === viaBatch)
    } finally q.stop()
  }

  test("streaming paths: trailing window carries across batches; session gap resets it") {
    val kvSchema = StructType(Seq(
      StructField("k", LongType), StructField("ms", LongType),
      StructField("s", LongType), StructField("et", StringType)))
    val log = new MemoryLog(spark, kvSchema)
    // batch 1: key 1 starts a session a,b (no trigram yet)
    log.appendRows(Seq(Row(1L, 0L, 1L, "a"), Row(1L, 1000L, 2L, "b")))
    val q = StreamingViews.pathsPerKey(
        log.readStream.select("k", "ms", "s", "et"), "k", "ms", "s", "et")
      .toDF("path")
      .writeStream.format("memory").queryName("paths_live")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      assert(spark.table("paths_live").count() === 0L, "two events make no trigram")
      // batch 2: c completes a>b>c ACROSS the batch boundary, d slides to
      // b>c>d; then a >=10-min gap resets the window — x,y,z form only
      // x>y>z in the new session
      log.appendRows(Seq(Row(1L, 2000L, 3L, "c"), Row(1L, 3000L, 4L, "d"),
        Row(1L, 700000L, 5L, "x"), Row(1L, 701000L, 6L, "y"), Row(1L, 702000L, 7L, "z")))
      q.processAllAvailable()
      val got = spark.table("paths_live").collect().map(_.getString(0)).sorted.toSeq
      assert(got === Seq("a>b>c", "b>c>d", "x>y>z"), s"got $got")
      // parity: the emission multiset equals the batch operator's counts
      val all = Seq((1L, 0L, 1L, "a"), (1L, 1000L, 2L, "b"), (1L, 2000L, 3L, "c"),
        (1L, 3000L, 4L, "d"), (1L, 700000L, 5L, "x"), (1L, 701000L, 6L, "y"),
        (1L, 702000L, 7L, "z"))
      import spark.implicits._
      val batch = graft.ops.Paths.topPaths(all.toDF("k", "ms", "s", "et"),
          "k", col("ms"), col("s"), col("et"), k = 1000)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(batch === got.groupBy(identity).map { case (p, xs) => p -> xs.size.toLong })
    } finally q.stop()
  }

  test("streaming anomaly gate: ring buffer carries across batches, equals the batch operator") {
    val kvSchema = StructType(Seq(
      StructField("k", LongType), StructField("s", LongType), StructField("v", DoubleType)))
    val log = new MemoryLog(spark, kvSchema)
    // batch 1: a quiet baseline for key 1 — too thin to flag anything
    val quiet = (1 to 7).map(i => Row(1L, i.toLong, 10.0 + (i % 3) * 0.1))
    log.appendRows(quiet)
    val hits = StreamingViews.rollingAnomalyPerKey(
      log.readStream.select("k", "s", "v"), "k", "s", "v")
    val q = hits.writeStream.format("memory").queryName("anom_test")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      assert(spark.table("anom_test").count() === 0L, "baseline alone flags nothing")
      // batch 2: the spike arrives LATER — it must be scored against
      // state carried from batch 1, not against an empty buffer
      log.appendRows(Seq(Row(1L, 8L, 500.0), Row(1L, 9L, 10.1)))
      q.processAllAvailable()
      val got = spark.sql("SELECT key, seq, value FROM anom_test ORDER BY seq")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(got.toSeq === Seq((1L, 8L, 500.0)), s"only the spike flags, got ${got.toSeq}")
      // parity: the streaming emissions equal the batch operator over
      // the same totally-ordered data (same flags, same rounded stats)
      val all = quiet ++ Seq(Row(1L, 8L, 500.0), Row(1L, 9L, 10.1))
      val batchDf = spark.createDataFrame(
        spark.sparkContext.parallelize(all.toIndexedSeq), kvSchema)
      val batch = graft.ops.TimeSeries.rollingZscore(batchDf, "k", col("s"), col("v"))
        .orderBy("seq").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
          r.getDouble(4), r.getLong(5)))
      val stream = spark.sql(
        "SELECT key, seq, value, sum_base, sd_base, n_base FROM anom_test ORDER BY seq")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
          r.getDouble(4), r.getLong(5)))
      assert(stream.toSeq === batch.toSeq, "streaming emissions == batch rollingZscore")
    } finally q.stop()
  }

  // ---- evictAfter: event-time (watermark-based) state eviction ----

  private val etFunnelSchema = StructType(Seq(
    StructField("k", LongType), StructField("s", LongType),
    StructField("ts", LongType), StructField("et", StringType)))

  test("evictAfter: an event-time gap evicts the funnel key — no wall-clock sleep anywhere") {
    val log = new MemoryLog(spark, etFunnelSchema)
    log.appendRows(Seq(Row(1L, 1L, 1000L, "view"), Row(1L, 2L, 1500L, "click")))
    val q = StreamingViews.funnelPerKey(
        log.readStream.select("k", "s", "ts", "et"), "k", "s", "et",
        Seq("view", "click", "purchase"), tsCol = Some("ts"),
        evictAfter = Some("2 seconds"))
      .toDF("k", "seqs", "stage")
      .writeStream.format("memory").queryName("funnel_eta")
      .outputMode(OutputMode.Update()).start()
    try {
      def k1rows = spark.sql("SELECT seqs, stage FROM funnel_eta WHERE k = 1")
        .collect().map(r => (r.getAs[scala.collection.Seq[Long]](0).toList, r.getInt(1))).toSet
      q.processAllAvailable()
      assert(k1rows.exists(_._2 == 2), "key 1 reaches stage 2 in batch 1")
      // another key's events push the watermark past key 1's deadline
      // (1500 + 2000); the eviction fires on the batch AFTER the
      // watermark advances — purely from the event times in the data
      log.appendRows(Seq(Row(7L, 3L, 10000L, "view")))
      q.processAllAvailable()
      log.appendRows(Seq(Row(7L, 4L, 10100L, "click")))
      q.processAllAvailable()
      // reactivation: under the old cursor "purchase" would complete
      // the funnel; after eviction it starts a NEW attempt at stage 0
      log.appendRows(Seq(Row(1L, 5L, 10200L, "purchase")))
      q.processAllAvailable()
      assert(k1rows.contains((Nil, 0)),
        s"evicted key must restart at stage 0, got $k1rows")
      assert(!k1rows.exists(_._2 == 3),
        s"the funnel must NOT complete across an event-time eviction, got $k1rows")
    } finally q.stop()
  }

  test("evictAfter drops rows behind the watermark — lateness is the cross-key-skew knob") {
    // idleTtl folds EVERY row; evictAfter adds withWatermark, and Spark
    // drops input older than (global watermark - lateness) BEFORE the
    // state machine sees it. Pin both halves: a lagging key's row IS
    // lost at the default lateness=0, and a lateness bound covering the
    // skew saves it.
    def run(lateness: String): Set[Long] = {
      val log = new MemoryLog(spark, etFunnelSchema)
      val name = s"funnel_late_${lateness.replaceAll("[^a-z0-9]", "_")}"
      val q = StreamingViews.funnelPerKey(
          log.readStream.select("k", "s", "ts", "et"), "k", "s", "et",
          Seq("view", "click", "purchase"), tsCol = Some("ts"),
          evictAfter = Some("1 hour"), lateness = lateness)
        .toDF("k", "seqs", "stage")
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Update()).start()
      try {
        // batch 1: key 7 at ts=10,000,000 sets the watermark high
        log.appendRows(Seq(Row(7L, 1L, 10000000L, "view")))
        q.processAllAvailable()
        // batch 2: key 2 lags 9,998,000 ms behind the watermark —
        // dropped at lateness=0, folded when lateness covers the skew
        log.appendRows(Seq(Row(2L, 2L, 2000L, "view")))
        q.processAllAvailable()
        spark.sql(s"SELECT k FROM $name").collect().map(_.getLong(0)).toSet
      } finally q.stop()
    }
    val strict = run("0 seconds")
    assert(!strict.contains(2L),
      s"at lateness=0 the lagging key's row is dropped by the watermark (input loss idleTtl never has), got $strict")
    val slack = run("4 hours")
    assert(slack.contains(2L),
      s"a lateness bound covering the cross-key skew must let the lagging row through, got $slack")
  }

  test("evictAfter: kill/restart replay from the checkpoint is byte-identical to the uninterrupted run") {
    def run(interrupted: Boolean): Set[(Long, List[Long], Int)] = {
      val logDir = java.nio.file.Files.createTempDirectory("graft-eta-log").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft-eta-ck").toString
      val plog = new ParquetLog(spark, logDir, etFunnelSchema)
      val got = java.util.Collections.synchronizedList(
        new java.util.ArrayList[(Long, List[Long], Int)]())
      def start() = StreamingViews.funnelPerKey(
          plog.readStream.select("k", "s", "ts", "et"), "k", "s", "et",
          Seq("view", "click", "purchase"), tsCol = Some("ts"),
          evictAfter = Some("2 seconds"))
        .toDF("k", "seqs", "stage")
        .writeStream.option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Update())
        .foreachBatch { (b: org.apache.spark.sql.Dataset[Row], _: Long) =>
          b.collect().foreach(r => got.add(
            (r.getLong(0), r.getAs[scala.collection.Seq[Long]](1).toList, r.getInt(2))))
        }.start()
      plog.appendRows(Seq(Row(1L, 1L, 1000L, "view"), Row(1L, 2L, 1500L, "click")))
      val q1 = start()
      try q1.processAllAvailable() finally if (interrupted) q1.stop()
      // the killed run appends while DOWN; the control appends live —
      // either way the rows land in one micro-batch
      plog.appendRows(Seq(Row(7L, 3L, 10000L, "view"), Row(7L, 4L, 10100L, "click")))
      val q2 = if (interrupted) start() else q1
      try {
        q2.processAllAvailable()
        plog.appendRows(Seq(Row(7L, 5L, 10200L, "purchase")))
        q2.processAllAvailable()
        plog.appendRows(Seq(Row(1L, 6L, 10300L, "purchase")))
        q2.processAllAvailable()
      } finally q2.stop()
      got.toArray().map(_.asInstanceOf[(Long, List[Long], Int)]).toSet
    }
    val control = run(interrupted = false)
    val recovered = run(interrupted = true)
    assert(recovered === control,
      s"recovered emissions must equal the uninterrupted run's:\ncontrol=$control\nrecovered=$recovered")
    assert(control.contains((1L, Nil, 0)), "the event-time eviction fired in both runs")
    assert(!control.exists(r => r._1 == 1L && r._3 == 3), "no funnel completes across eviction")
  }

  test("evictAfter: armed-but-unexpired emits exactly the no-eviction run, machine by machine") {
    // funnel + anomaly share the harness: same appends, three variants —
    // None, evictAfter far in the future (never fires) — equal output
    def runFunnel(name: String, evict: Option[String]): Seq[(Long, List[Long], Int)] = {
      val log = new MemoryLog(spark, etFunnelSchema)
      log.appendRows(Seq(Row(1L, 1L, 1000L, "view"), Row(2L, 2L, 1100L, "view")))
      val q = StreamingViews.funnelPerKey(
          log.readStream.select("k", "s", "ts", "et"), "k", "s", "et",
          Seq("view", "click", "purchase"), tsCol = Some("ts"), evictAfter = evict)
        .toDF("k", "seqs", "stage")
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Update()).start()
      try {
        q.processAllAvailable()
        log.appendRows(Seq(Row(1L, 3L, 2000L, "click"), Row(2L, 4L, 2100L, "purchase")))
        q.processAllAvailable()
        spark.table(name).collect()
          .map(r => (r.getLong(0), r.getAs[scala.collection.Seq[Long]](1).toList, r.getInt(2)))
          .toSeq.sortBy(r => (r._1, r._3))
      } finally q.stop()
    }
    assert(runFunnel("feta_none", None) === runFunnel("feta_far", Some("365 days")),
      "an armed-but-unexpired evictAfter must emit exactly the None run's rows")

    val anomSchema = StructType(Seq(StructField("k", LongType), StructField("s", LongType),
      StructField("ts", LongType), StructField("v", DoubleType)))
    def runAnom(name: String, evict: Option[String]): Seq[(Long, Long)] = {
      val log = new MemoryLog(spark, anomSchema)
      log.appendRows(Seq(Row(1L, 1L, 1000L, 10.0), Row(1L, 2L, 1100L, 10.0)))
      val q = StreamingViews.rollingAnomalyPerKey(
          log.readStream.select("k", "s", "ts", "v"), "k", "s", "v",
          lookback = 5, minObs = 2, z = 0.5, evictAfter = evict, tsCol = Some("ts"))
        .toDF()
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try {
        q.processAllAvailable()
        log.appendRows(Seq(Row(1L, 3L, 2000L, 100.0)))
        q.processAllAvailable()
        spark.sql(s"SELECT key, seq FROM $name ORDER BY seq").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq
      } finally q.stop()
    }
    val anomNone = runAnom("aeta_none", None)
    assert(anomNone.nonEmpty, "the control run flags the planted outlier")
    assert(runAnom("aeta_far", Some("365 days")) === anomNone,
      "anomaly: armed-but-unexpired evictAfter == None run")
  }

  test("evictAfter: retention, type-set and running-stats keys restart FRESH after an event-time gap") {
    import spark.implicits._
    // retention: the activity period is the event time (seconds)
    val rSchema = StructType(Seq(StructField("k", LongType), StructField("p", LongType)))
    val rlog = new MemoryLog(spark, rSchema)
    rlog.appendRows(Seq(Row(1L, 1000L)))
    val rq = StreamingViews.retentionPerKey(
        rlog.readStream.select("k", "p"), "k", "p", periodSeconds = 100L,
        evictAfter = Some("1 hour"))
      .toDF("k", "cohort_ms", "offsets")
      .writeStream.format("memory").queryName("ret_eta")
      .outputMode(OutputMode.Update()).start()
    try {
      rq.processAllAvailable()
      rlog.appendRows(Seq(Row(2L, 100000L)))
      rq.processAllAvailable()
      rlog.appendRows(Seq(Row(2L, 100100L))) // watermark now past key 1's deadline
      rq.processAllAvailable()
      rlog.appendRows(Seq(Row(1L, 100200L))) // long-idle returner
      rq.processAllAvailable()
      val k1 = spark.sql("SELECT cohort_ms, offsets FROM ret_eta WHERE k = 1").collect()
        .map(r => (r.getLong(0), r.getAs[scala.collection.Seq[Long]](1).toList)).toSet
      assert(k1.contains((100200000L, List(0L))),
        s"a long-idle returner starts a NEW cohort dated at reactivation, got $k1")
    } finally rq.stop()

    // type-set and running-stats: same rhythm, snapshot must restart empty
    val tSchema = StructType(Seq(StructField("k", LongType), StructField("ts", LongType),
      StructField("et", StringType), StructField("v", DoubleType)))
    val tlog = new MemoryLog(spark, tSchema)
    tlog.appendRows(Seq(Row(1L, 1000L, "a", 1.0)))
    val tq = StreamingViews.typeSetPerKey(
        tlog.readStream.select("k", "ts", "et"), "k", "et",
        evictAfter = Some("2 seconds"), tsCol = Some("ts"))
      .toDF("k", "types")
      .writeStream.format("memory").queryName("ts_eta")
      .outputMode(OutputMode.Update()).start()
    val sq = StreamingViews.runningStatsPerKey(
        tlog.readStream.select("k", "ts", "v"), "k", "v",
        evictAfter = Some("2 seconds"), tsCol = Some("ts"))
      .map { case (k, s) => (k, s.n, s.mean) }
      .toDF("k", "n", "mean")
      .writeStream.format("memory").queryName("st_eta")
      .outputMode(OutputMode.Update()).start()
    try {
      Seq(tq, sq).foreach(_.processAllAvailable())
      tlog.appendRows(Seq(Row(7L, 60000L, "x", 2.0)))
      Seq(tq, sq).foreach(_.processAllAvailable())
      tlog.appendRows(Seq(Row(7L, 61000L, "y", 3.0))) // watermark passes key 1's deadline
      Seq(tq, sq).foreach(_.processAllAvailable())
      tlog.appendRows(Seq(Row(1L, 62000L, "b", 5.0))) // reactivation
      Seq(tq, sq).foreach(_.processAllAvailable())
      val types = spark.sql("SELECT types FROM ts_eta WHERE k = 1").collect()
        .map(_.getAs[scala.collection.Seq[String]](0).toList).toSet
      assert(types.contains(List("b")) && !types.contains(List("a", "b")),
        s"an evicted key's type set restarts empty, got $types")
      val stats = spark.sql("SELECT n, mean FROM st_eta WHERE k = 1").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(stats.contains((1L, 5.0)) && !stats.contains((2L, 3.0)),
        s"an evicted key's counters restart from zero, got $stats")
    } finally { tq.stop(); sq.stop() }
  }

  test("streaming-state erasure: a retracted user's funnel and anomaly state drop on the next batch") {
    // the takedown's state-store half: erase control rows ride the
    // keyed shuffle, state.remove() lands on the next micro-batch, and
    // NO later event resurrects the erased history
    val evSchema = StructType(Seq(StructField("k", LongType),
      StructField("s", LongType), StructField("et", StringType)))
    val elog = new MemoryLog(spark, evSchema)
    val eraseSchema = StructType(Seq(StructField("k", LongType)))
    val eraseLog = new MemoryLog(spark, eraseSchema)
    elog.appendRows(Seq(Row(1L, 1L, "view"), Row(1L, 2L, "click"), Row(2L, 3L, "view")))
    val q = StreamingViews.funnelPerKey(
        elog.readStream.select("k", "s", "et"), "k", "s", "et",
        Seq("view", "click", "purchase"),
        erase = Some(eraseLog.readStream.select("k")))
      .toDF("k", "seqs", "stage")
      .writeStream.format("memory").queryName("erase_funnel")
      .outputMode(OutputMode.Update()).start()
    try {
      q.processAllAvailable()
      // mid-stream takedown of user 1 (stage 2 at this point)
      eraseLog.appendRows(Seq(Row(1L)))
      q.processAllAvailable()
      // user 1's purchase arrives AFTER the erasure: with history gone
      // it cannot complete the funnel (purchase is not stage 1) — a
      // surviving state would have emitted stage 3
      elog.appendRows(Seq(Row(1L, 4L, "purchase"), Row(2L, 5L, "click")))
      q.processAllAvailable()
      val byKey = spark.sql("SELECT k, seqs, stage FROM erase_funnel").collect()
        .map(r => (r.getLong(0), r.getAs[scala.collection.Seq[Long]](1).toList, r.getInt(2)))
      assert(byKey.contains((1L, Nil, 0)), s"erasure must emit the empty tombstone, got ${byKey.toSeq}")
      assert(!byKey.exists(r => r._1 == 1L && r._3 == 3),
        s"no later event may resurrect erased funnel progress, got ${byKey.toSeq}")
      assert(byKey.exists(r => r._1 == 2L && r._3 == 2),
        s"other keys are untouched, got ${byKey.toSeq}")
    } finally q.stop()

    // anomaly machine (flatMapGroupsWithState, Append): erased history
    // means the spike scores against NOTHING (minObs gate) — no hit
    val aSchema = StructType(Seq(StructField("k", LongType),
      StructField("s", LongType), StructField("v", DoubleType)))
    val alog = new MemoryLog(spark, aSchema)
    val aErase = new MemoryLog(spark, eraseSchema)
    alog.appendRows(Seq(Row(1L, 1L, 1.0), Row(1L, 2L, 1.0), Row(1L, 3L, 1.0)))
    val aq = StreamingViews.rollingAnomalyPerKey(
        alog.readStream.select("k", "s", "v"), "k", "s", "v",
        lookback = 5, minObs = 2, z = 2.0,
        erase = Some(aErase.readStream.select("k")))
      .toDF().writeStream.format("memory").queryName("erase_anom")
      .outputMode(OutputMode.Append()).start()
    try {
      aq.processAllAvailable()
      aErase.appendRows(Seq(Row(1L)))
      aq.processAllAvailable()
      alog.appendRows(Seq(Row(1L, 4L, 100.0))) // would flag against the erased history
      aq.processAllAvailable()
      val hits = spark.sql("SELECT seq FROM erase_anom WHERE key = 1").collect().map(_.getLong(0))
      assert(!hits.contains(4L),
        s"an erased key's trailing window must not score later values, got ${hits.toSeq}")
    } finally aq.stop()
  }

  test("streaming-state erasure: TWS clears state and timers; late erase rows drop at the watermark") {
    val kvSchema = StructType(Seq(
      StructField("k", LongType), StructField("ts", LongType), StructField("v", DoubleType)))
    val eraseSchema = StructType(Seq(StructField("k", LongType), StructField("ts", LongType)))
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val log = new MemoryLog(spark, kvSchema)
      val eraseLog = new MemoryLog(spark, eraseSchema)
      log.appendRows(Seq(Row(1L, 1000L, 1.0), Row(1L, 1100L, 3.0), Row(7L, 1000L, 9.0)))
      val q = StreamingViews.runningStatsPerKeyTws(
          log.readStream.select("k", "ts", "v"), "k", "v",
          evictAfter = Some("2 seconds"), tsCol = Some("ts"),
          erase = Some(eraseLog.readStream.select("k", "ts")))
        .toDF("key", "stats")
        .writeStream.format("memory").queryName("erase_tws")
        .outputMode(OutputMode.Update()).start()
      try {
        def rows = spark.sql("SELECT key, stats.n, stats.mean FROM erase_tws")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        q.processAllAvailable()
        assert(rows.contains((1L, 2L, 2.0)))
        // takedown of key 1, stamped STRICTLY AHEAD of the watermark
        // (1100; the late filter is inclusive): state clears, tombstone
        // emits, and the pending eviction timer (deadline 3100) is
        // DELETED — an undeleted timer would re-emit the erased
        // snapshot once the watermark passes it
        eraseLog.appendRows(Seq(Row(1L, 1200L)))
        q.processAllAvailable()
        assert(rows.contains((1L, 0L, 0.0)), s"tombstone snapshot, got ${rows.toSeq}")
        // key 7's events march the watermark far past key 1's old
        // deadline; expired-timer processing must find nothing for key 1
        log.appendRows(Seq(Row(7L, 60000L, 9.0)))
        q.processAllAvailable()
        log.appendRows(Seq(Row(7L, 61000L, 9.0)))
        q.processAllAvailable()
        assert(rows.count(r => r == ((1L, 2L, 2.0))) === 1,
          s"the deleted timer must not re-emit the erased snapshot, got ${rows.toSeq}")
        // a LATE erase row (event time behind the watermark) is dropped
        // like any late event — the documented contract: stamp erase
        // requests at or ahead of the current max event time
        eraseLog.appendRows(Seq(Row(7L, 1000L)))
        q.processAllAvailable()
        log.appendRows(Seq(Row(7L, 61500L, 9.0)))
        q.processAllAvailable()
        assert(rows.exists(r => r._1 == 7L && r._2 == 4L),
          s"a late erase row must NOT clear state (4 merged observations), got ${rows.toSeq}")
        // reactivation after a successful erase: from zero
        log.appendRows(Seq(Row(1L, 62000L, 5.0)))
        q.processAllAvailable()
        assert(rows.contains((1L, 1L, 5.0)), s"erased key restarts from zero, got ${rows.toSeq}")
      } finally q.stop()
    } finally prev match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("curator bindings featurize through their view: the stored features follow the view's settings") {
    import graft.ops.Multimodal
    import graft.views.{PhashTableView, SignatureTableView}
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    def mark(p: String) = java.nio.file.Paths.get(tmp(p), "_mark").toString

    // image: a 4x4 phash view's curator stores 4x4 hashes, not the 8x8 default
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val media = Multimodal.syntheticTexturePngMedia(docs.where(col("doc_id") < 30))
    val srcLog = new ParquetLog(spark, tmp("graft-agree-src"), Multimodal.mediaSchema)
    val curLog = new ParquetLog(spark, tmp("graft-agree-dst"), Multimodal.mediaSchema)
    val phView = new PhashTableView(spark, s"${tmp("graft-agree-ph")}/ph", 1, hashW = 4, hashH = 4)
    srcLog.append(media)
    val cur = new MediaStreamingCurator(srcLog, curLog, MediaDedupBinding.image(phView),
      mark("graft-agree-c"))
    try cur.awaitParity() finally cur.stop()
    def byId(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.select("media_id", "phash").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val survivors = curLog.read.select("media_id")
    val expected = byId(Multimodal.perceptualHash(
      media.join(survivors, Seq("media_id"), "left_semi"), 4, 4))
    assert(expected.nonEmpty)
    assert(byId(phView.hashes) === expected,
      "the curator must store the hashes its view computes (4x4)")

    // text: a 32-permutation signature view's curator stores 32-wide signatures
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val textSrc = new ParquetLog(spark, tmp("graft-agree-tsrc"), docSchema)
    val textCur = new ParquetLog(spark, tmp("graft-agree-tdst"), docSchema)
    val sigView = new SignatureTableView(spark, s"${tmp("graft-agree-sig")}/s", 1,
      "doc_id", "text", perms = 32)
    textSrc.appendRows(Seq(
      Row(1L, "the quick brown fox jumps over the lazy dog and it is a fine day for running"),
      Row(2L, "a completely different story about ships and the sea where the wind was cold")))
    val tcur = new StreamingCurator(textSrc, textCur, sigView, mark("graft-agree-tc"))
    try tcur.awaitParity() finally tcur.stop()
    assert(textCur.read.count() === 2L)
    assert(sigView.sigs.select(size(col("sig"))).collect().map(_.getInt(0)).toSet === Set(32),
      "the curator must store the view's 32-permutation signatures")
  }

  test("jobs per incremental media dedup call against a stored table (reported, not gated)") {
    import spark.implicits._
    import graft.ops.{Dedup, Multimodal, Similarity}
    import org.apache.spark.sql.DataFrame
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    /** The call's result and the jobs it launched under its own job
      * group; a marker job after it drains the asynchronous listener bus. */
    def jobsOf(group: String)(call: => DataFrame): (DataFrame, Int) = {
      sc.setJobGroup(group, group)
      val out = try call finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-drain", "drain")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!jobs.contains(s"$group-drain") && System.nanoTime() < deadline) Thread.sleep(20)
      (out, jobs.toArray.count(_ == group))
    }
    def storedTable(df: DataFrame, name: String): DataFrame = {
      val d = java.nio.file.Files.createTempDirectory(s"graft-jobs-$name").resolve("t").toString
      df.write.parquet(d)
      spark.read.parquet(d)
    }
    val rnd = new scala.util.Random(31)
    // each stored table holds 200 ids; each batch re-uploads 10 of them and adds 10 novel ones
    val hashes = (0L until 200L).map(i => (i, 50L + i % 4, rnd.nextLong()))
    def batchOf(rows: Seq[(Long, Long, Long)]) =
      rows.take(10).map { case (i, nw, h) => (1000L + i, nw, h) } ++
        (0L until 10L).map(i => (2000L + i, 50L + i % 4, rnd.nextLong()))
    val image = storedTable(hashes.map(r => (r._1, r._3)).toDF("media_id", "phash"), "image")
    val imageBatch = batchOf(hashes).map(r => (r._1, r._3)).toDF("media_id", "phash")
    val audio = storedTable(hashes.toDF("media_id", "n_windows", "afp"), "audio")
    val audioBatch = batchOf(hashes).toDF("media_id", "n_windows", "afp")
    val frames = for (v <- 0L until 50L; f <- 0L until 4L) yield (v, f, rnd.nextLong())
    val video = storedTable(frames.toDF("media_id", "frame_idx", "phash"), "video")
    val videoBatch = frames.filter(_._1 < 5L).map { case (v, f, h) => (1000L + v, f, h) }
      .toDF("media_id", "frame_idx", "phash")
    val vecs = (0L until 200L).map(i => (i, Seq.fill(16)(rnd.nextGaussian().toFloat)))
    val emb = storedTable(vecs.toDF("vec_id", "embedding"), "vec")
    val sigs = storedTable(emb.select(col("vec_id"), col("vec_id").as("seq"),
      Similarity.hyperplaneSignature(col("embedding"), 32).as("sig")), "emb")
    val embBatch = vecs.take(20).map { case (i, v) => (10000L + i, v) }.toDF("vec_id", "embedding")
    sc.addSparkListener(listener)
    try {
      val counts = Seq(
        "image" -> jobsOf("jobs-image")(Multimodal.perceptualNearDupIncremental(imageBatch, image)),
        "audio" -> jobsOf("jobs-audio")(Multimodal.audioNearDupIncremental(audioBatch, audio)),
        "video" -> jobsOf("jobs-video")(Multimodal.videoNearDupIncremental(videoBatch, video)),
        "embedding" -> jobsOf("jobs-embedding")(Dedup.embeddingNearDupIncrementalPruned(
          embBatch, sigs, 16L, _ => emb)))
      println(counts.map { case (m, (_, n)) => s"$m=$n" }
        .mkString("[jobs] per incremental media dedup call: ", " ", ""))
      for ((m, (out, _)) <- counts)
        assert(out.count() >= 5L, s"$m: the re-uploads must pair with their stored copies")
    } finally sc.removeSparkListener(listener)
  }

  test("streaming curator: batches run interpreted on the stream's own session; from the third on no class compiles") {
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    import scala.jdk.CollectionConverters._
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val srcLog = new ParquetLog(spark, tmp("graft-cg-src"), docSchema, bucketSize = 8192L)
    val curLog = new ParquetLog(spark, tmp("graft-cg-dst"), docSchema, bucketSize = 8192L)
    val sigView = new graft.views.SignatureTableView(spark, s"${tmp("graft-cg-sig")}/s", 1, "doc_id", "text")
    val rnd = new scala.util.Random(11)
    val words = Vector.tabulate(300)(i => s"w$i") ++
      Vector("the", "and", "of", "to", "a", "in", "is", "it", "that", "for")
    var nextId = 0L
    // fresh docs; every fifth also lands as an exact copy and a one-word edit
    def docs(n: Int) = {
      val texts = Seq.fill(n)(Seq.fill(40)(words(rnd.nextInt(words.size))).mkString(" "))
      val rows = texts.zipWithIndex.flatMap { case (t, i) =>
        t +: (if (i % 5 == 0) Seq(t, t.replaceFirst("w\\d+", "edited")) else Nil)
      }.map { t => nextId += 1; Row(nextId, t) }
      spark.createDataFrame(rows.asJava, docSchema)
    }
    val confs = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val before = confs.map(spark.conf.get)
    val cur = new StreamingCurator(srcLog, curLog, sigView,
      java.nio.file.Paths.get(tmp("graft-cg-c"), "_curate_commit").toString,
      checkpointDir = Some(tmp("graft-cg-ck")))
    val (compiled, compileMs) = try {
      (0 until 6).map { i =>
        srcLog.append(docs(if (i % 2 == 0) 40 else 120)) // the raw append is outside the window
        val (n0, t0) = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
        cur.awaitParity()
        (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - n0, (CodeGenerator.compileTime - t0) / 1000000)
      }.unzip
    } finally cur.stop()
    println(s"[compile] classes compiled per curator batch: ${compiled.mkString(" ")}" +
      s" (${compileMs.mkString(" ")} ms)")
    assert(sigView.since === srcLog.since)
    assert(curLog.read.count() > 0L)
    assert(compiled.drop(2).forall(_ == 0L),
      s"the third and later batches must compile no class, compiled ${compiled.mkString(" ")}")
    // the user's session keeps its confs and still generates code
    assert(confs.map(spark.conf.get) === before)
    assert(before === Seq("true", "FALLBACK"))
    val plan = spark.range(1000).where(col("id") % 7 === 3).select((col("id") * 2).as("x"))
      .queryExecution.executedPlan
    assert(plan.exists(_.isInstanceOf[WholeStageCodegenExec]), s"main-session plan lost codegen:\n$plan")
  }

  test("curator batch probe: the max seq and a filled cache in one job, no exchange") {
    import org.apache.spark.sql.{DataFrame, Dataset}
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val sc = spark.sparkContext
    val log = new ParquetLog(spark, java.nio.file.Files.createTempDirectory("graft-probe").toString, schema)
    log.appendRows((1L to 40L).map(Row(_)))
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    def cached(df: DataFrame): Boolean = df.queryExecution.withCachedData.collectFirst {
      case r: InMemoryRelation => r.cacheBuilder.isCachedColumnBuffersLoaded
    }.getOrElse(false)
    val probed = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Boolean, Boolean)]()
    sc.addSparkListener(listener)
    try {
      val q = log.readStream.writeStream.foreachBatch { (batch: Dataset[Row], _: Long) =>
        val raw = batch.persist()
        val wasCached = cached(raw)
        sc.setJobGroup("curator-probe", "probe")
        val upto = try MediaStreamingCurator.maxSeq(raw, "seq") finally sc.clearJobGroup()
        probed.add((upto, wasCached, cached(raw)))
        raw.unpersist(blocking = true)
        ()
      }.start()
      try q.processAllAvailable() finally q.stop()
      sc.setJobGroup("curator-probe-drain", "drain")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!jobs.contains("curator-probe-drain") && System.nanoTime() < deadline) Thread.sleep(20)
    } finally sc.removeSparkListener(listener)
    assert(probed.toArray.toSeq === Seq((39L, false, true)), "one batch: its max seq, the cache filled")
    assert(jobs.toArray.count(_ == "curator-probe") === 1, "the probe is one job")
    assert(MediaStreamingCurator.maxSeq(log.read.where(col("seq") < 0L), "seq") === -1L,
      "an empty batch probes -1")
  }
}
