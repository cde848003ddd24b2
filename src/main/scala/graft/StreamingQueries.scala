package graft

import graft.core._
import graft.ops.{Cluster, Decontaminate, Dedup, Multimodal, Packing, Similarity, TextAnalysis}
import graft.views._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Structured-Streaming queries: windows, joins, state machines, dedup, curation (SURVEY §2.4-§2.5).
  *
  * A pure round-8 relocation of [[SparkEntry]] catalog entries (r7
  * verdict #7) — zero renames, zero semantic changes; the driver
  * contract stays on [[SparkEntry.queries]]/[[SparkEntry.oracleSql]],
  * which merge the per-domain objects. Shared fixtures/caches live in
  * [[EntryHelpers]].
  */
private[graft] object StreamingQueries {
  import EntryHelpers._

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_stream_curate" -> ((s, dir) => {
      // continuous curation: originals stream in as batch 1, perturbed
      // copies as batch 2 — batch 2 near-dedups against the STORED
      // signature table of batch 1's survivors (cost ∝ batch, never
      // corpus). Unlike q_pipeline_curate's one-pot semantics, kept =
      // phase-1 survivors ∪ phase-2 survivors-vs-(batch ∪ stored).
      // Post-batch-1 state (originals ingested AND curated: src log at
      // HWM, curated log + signature table at parity, commit mark
      // durable) TEMPLATE-CLONED per rep (r19, the r18 verdict's item
      // 3): each rep byte-copies the pristine pre-state and pays the
      // LIVE work — stream start, the batch-2 append, and the real
      // incremental curation micro-batch against the stored table.
      val docSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val root = EntryHelpers.clonedFixture("graftscur", dir) { tpl =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(tpl, "c"))
        val srcLog = new ParquetLog(s, s"$tpl/src", docSchema)
        val curLog = new ParquetLog(s, s"$tpl/dst", docSchema)
        val sigView = new graft.views.SignatureTableView(s, s"$tpl/sig/s", 1, "doc_id", "text")
        srcLog.append(docs)
        val cur0 = new graft.streaming.StreamingCurator(srcLog, curLog, sigView,
          java.nio.file.Paths.get(tpl, "c", "_mark").toString)
        try cur0.awaitParity() finally cur0.stop()
      }
      val srcLog = new ParquetLog(s, s"$root/src", docSchema)
      val curLog = new ParquetLog(s, s"$root/dst", docSchema)
      val sigView = new graft.views.SignatureTableView(s, s"$root/sig/s", 1, "doc_id", "text")
      val commit = java.nio.file.Paths.get(root, "c", "_mark").toString
      val cur = new graft.streaming.StreamingCurator(srcLog, curLog, sigView, commit)
      try {
        srcLog.append(docs.select((col("doc_id") + 10000).as("doc_id"),
          regexp_replace(col("text"), "^\\S+\\s+", "").as("text")))
        cur.awaitParity()
      } finally cur.stop()
      val out = EntryHelpers.notePlan(curLog.read.agg(
        count(lit(1)).as("n_kept"),
        min("doc_id").as("min_id"),
        max("doc_id").as("max_id"),
        sum(when(col("doc_id") >= 10000, 1L).otherwise(0L)).as("perturbed_kept")))
        .localCheckpoint(true)
      EntryHelpers.deleteTreeAsync(root)
      out
    }),
    "q_stream_curate_retract" -> ((s, dir) => {
      // mid-stream corpus takedown through the LIVE curator: batch 1
      // curates the originals; every doc_id % 10 == 3 survivor is then
      // retracted through the intent-logged family path (log rewrite +
      // signature-table filtered compaction) at a batch boundary;
      // batch 2 re-ingests near-dups of ALL % 5 == 3 docs — the half
      // whose source was RETRACTED must survive the stored check (its
      // signatures really left the table), the half whose source was
      // KEPT must still drop. The curator keeps running throughout:
      // retraction moves no cursor (the log HWM is preserved even when
      // the tail is retracted), so the exactly-once gates are unmoved.
      // Post-batch-1 state TEMPLATE-CLONED per rep (r19, verdict item
      // 3): each rep pays the LIVE lifecycle — the real mid-stream
      // takedown on the pristine copy, the batch-2 re-ingest append,
      // and its incremental curation micro-batch.
      val docSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val root = EntryHelpers.clonedFixture("graftscr", dir) { tpl =>
        Seq("c", "i").foreach(d =>
          java.nio.file.Files.createDirectories(java.nio.file.Paths.get(tpl, d)))
        val srcLog = new ParquetLog(s, s"$tpl/src", docSchema)
        val curLog = new ParquetLog(s, s"$tpl/dst", docSchema, bucketSize = 128L)
        val sigView = new graft.views.SignatureTableView(s, s"$tpl/sig/s", 1, "doc_id", "text")
        srcLog.append(docs)
        val cur0 = new graft.streaming.StreamingCurator(srcLog, curLog, sigView,
          java.nio.file.Paths.get(tpl, "c", "_mark").toString)
        try cur0.awaitParity() finally cur0.stop()
      }
      val srcLog = new ParquetLog(s, s"$root/src", docSchema)
      val curLog = new ParquetLog(s, s"$root/dst", docSchema, bucketSize = 128L)
      val sigView = new graft.views.SignatureTableView(s, s"$root/sig/s", 1, "doc_id", "text")
      val commit = java.nio.file.Paths.get(root, "c", "_mark").toString
      val cur = new graft.streaming.StreamingCurator(srcLog, curLog, sigView, commit)
      try {
        // id list stays a DataFrame: the batch-form intent materializes
        // it to the durable sidecar BEFORE the log rewrite begins; the
        // curator keeps running throughout (retraction moves no cursor)
        graft.views.Retraction.retract(curLog, "doc_id",
          curLog.read.where(col("doc_id") % 10 === 3).select("doc_id"),
          (ids: org.apache.spark.sql.DataFrame) =>
            sigView.retractIds(ids.withColumnRenamed("doc_id", "id"), "id"),
          java.nio.file.Paths.get(root, "i", "_intent").toString)
        srcLog.append(docs.where(col("doc_id") % 5 === 3)
          .select((col("doc_id") + 50000).as("doc_id"),
            regexp_replace(col("text"), "^\\S+\\s+", "").as("text")))
        cur.awaitParity()
      } finally cur.stop()
      val out = EntryHelpers.notePlan(curLog.read.agg(
        count(lit(1)).as("n_kept"),
        sum(when(col("doc_id") < 50000 && col("doc_id") % 10 === 3, 1L).otherwise(0L))
          .as("retracted_left"),
        sum(when(col("doc_id") >= 50000 && (col("doc_id") - 50000) % 10 === 3, 1L).otherwise(0L))
          .as("reingest_of_retracted"),
        sum(when(col("doc_id") >= 50000 && (col("doc_id") - 50000) % 10 === 8, 1L).otherwise(0L))
          .as("reingest_of_kept")))
        .localCheckpoint(true)
      EntryHelpers.deleteTreeAsync(root)
      out
    }),
    "q_stream_curate_media" -> ((s, dir) => {
      // continuous MEDIA curation — the multimodal rung of
      // q_stream_curate: original recordings stream in as batch 1,
      // gain×3 + trailing-silence re-encodes (ids +60000) as batch 2.
      // Each batch decodes + fingerprints ONCE, self near-dups, then
      // checks against the STORED AudioFingerprintTableView of the
      // prior survivors (batch segment keys broadcast, the stored
      // table never shuffles); survivors append + their fingerprints
      // absorb, cursor advances.
      // Post-batch-1 state (originals decoded, fingerprinted, curated)
      // TEMPLATE-CLONED per rep (r19, verdict item 3): each rep pays
      // the LIVE work — generating + appending the re-encoded batch and
      // its real incremental curation micro-batch (decode, fingerprint,
      // self near-dup, stored check).
      val docs = t(s, dir, "documents")
      val root = EntryHelpers.clonedFixture("graftmcur", dir) { tpl =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(tpl, "c"))
        val srcLog = new ParquetLog(s, s"$tpl/src", Multimodal.mediaSchema)
        val curLog = new ParquetLog(s, s"$tpl/dst", Multimodal.mediaSchema)
        val fpView = new graft.views.AudioFingerprintTableView(s, s"$tpl/fp/f", 2)
        srcLog.append(Multimodal.syntheticWavMedia(docs, textured = true))
        val cur0 = new graft.streaming.MediaStreamingCurator(srcLog, curLog,
          graft.streaming.MediaDedupBinding.audio(fpView),
          java.nio.file.Paths.get(tpl, "c", "_mark").toString)
        try cur0.awaitParity() finally cur0.stop()
      }
      val srcLog = new ParquetLog(s, s"$root/src", Multimodal.mediaSchema)
      val curLog = new ParquetLog(s, s"$root/dst", Multimodal.mediaSchema)
      val fpView = new graft.views.AudioFingerprintTableView(s, s"$root/fp/f", 2)
      val commit = java.nio.file.Paths.get(root, "c", "_mark").toString
      val cur = new graft.streaming.MediaStreamingCurator(srcLog, curLog,
        graft.streaming.MediaDedupBinding.audio(fpView), commit)
      try {
        srcLog.append(Multimodal.syntheticWavMedia(docs, gain = 3, padSamples = 24,
          idOffset = 60000L, textured = true))
        cur.awaitParity()
      } finally cur.stop()
      val out = EntryHelpers.notePlan(curLog.read.agg(
        count(lit(1)).as("n_kept"),
        min("media_id").as("min_id"),
        max("media_id").as("max_id"),
        sum(when(col("media_id") >= 60000, 1L).otherwise(0L)).as("copies_kept")))
        .localCheckpoint(true)
      EntryHelpers.deleteTreeAsync(root)
      out
    }),
    "q_stream_curate_embed" -> ((s, dir) => {
      // continuous EMBEDDING curation — the vector rung of
      // q_stream_curate_media: originals stream in as batch 1, ×1.001
      // re-encodes (ids +10000) as batch 2; each batch signatures once,
      // self near-dups, then checks against the STORED
      // EmbeddingSigTableView with the curated log itself as the
      // verify-side vector corpus (no second vector artifact).
      // Post-batch-1 state TEMPLATE-CLONED per rep (r19, verdict item
      // 3): each rep pays the LIVE work — the ×1.001 batch append and
      // its real incremental curation micro-batch (signature, self
      // near-dup, stored check with bucket-pruned exact verify).
      val embSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vec_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("embedding",
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))))
      val e = t(s, dir, "embeddings").select("vec_id", "embedding")
      val root = EntryHelpers.clonedFixture("graftecur", dir) { tpl =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(tpl, "c"))
        val srcLog = new ParquetLog(s, s"$tpl/src", embSchema)
        // the curated log is seq-BUCKETED: the stored signature table
        // carries each vector's curated seq, so the incremental verify
        // reads only the candidate buckets (planning-time partition
        // pruning) instead of rescanning the whole vector corpus per batch
        val curLog = new ParquetLog(s, s"$tpl/dst", embSchema, bucketSize = 64L)
        val sigView = new graft.views.EmbeddingSigTableView(s, s"$tpl/sig/es", 1)
        srcLog.append(e)
        val cur0 = new graft.streaming.MediaStreamingCurator(srcLog, curLog,
          graft.streaming.MediaDedupBinding.embedding(sigView, curLog),
          java.nio.file.Paths.get(tpl, "c", "_mark").toString, idCol = "vec_id")
        try cur0.awaitParity() finally cur0.stop()
      }
      val srcLog = new ParquetLog(s, s"$root/src", embSchema)
      val curLog = new ParquetLog(s, s"$root/dst", embSchema, bucketSize = 64L)
      val sigView = new graft.views.EmbeddingSigTableView(s, s"$root/sig/es", 1)
      val commit = java.nio.file.Paths.get(root, "c", "_mark").toString
      val cur = new graft.streaming.MediaStreamingCurator(srcLog, curLog,
        graft.streaming.MediaDedupBinding.embedding(sigView, curLog),
        commit, idCol = "vec_id")
      try {
        srcLog.append(e.select((col("vec_id") + 10000).as("vec_id"),
          transform(col("embedding"), x => (x * lit(1.001)).cast("float")).as("embedding")))
        cur.awaitParity()
      } finally cur.stop()
      val out = EntryHelpers.notePlan(curLog.read.agg(
        count(lit(1)).as("n_kept"),
        min("vec_id").as("min_id"),
        max("vec_id").as("max_id"),
        sum(when(col("vec_id") >= 10000, 1L).otherwise(0L)).as("copies_kept")))
        .localCheckpoint(true)
      EntryHelpers.deleteTreeAsync(root)
      out
    }),
    "q_stream_static_join" -> ((s, dir) => {
      // stream-static broadcast enrichment: the static dim joins into
      // every micro-batch statelessly — no watermark, no join state
      val schema = t(s, dir, "events").schema
      val name = s"stream_sjoin_${streamIds.incrementAndGet()}"
      val dim = t(s, dir, "events").select(col("user_id")).distinct()
        .withColumn("cohort", pmod(col("user_id"), lit(7L)))
      withConf(s, "spark.sql.shuffle.partitions" -> "2") {
        val stream = s.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet").parquet(dir)
          .where(col("event_type") === "purchase")
        val q = stream.join(broadcast(dim), "user_id")
          .select(col("event_id").as("seq"), col("user_id"), col("cohort"))
          .writeStream.format("memory").queryName(name)
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
        try q.processAllAvailable() finally q.stop()
      }
      s.table(name).orderBy("seq")
    }),
    "q_stream_tumbling" -> ((s, dir) => {
      // Streaming == batch equivalence, oracle-checked: the events table
      // replays through the parquet file streaming source, aggregates
      // event-time tumbling windows in complete mode, and the final
      // result must match the same batch oracle as q_tumbling_count.
      val schema = t(s, dir, "events").schema
      val name = s"stream_tumbling_${streamIds.incrementAndGet()}"
      // State partition count is fixed at stream start from
      // shuffle.partitions; a 720-window aggregation needs a handful of
      // state stores, not one per core (each store checkpoints to disk
      // per micro-batch).
      withConf(s, "spark.sql.shuffle.partitions" -> "4") {
        val q = s.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet").parquet(dir)
          .groupBy(window(tsCol(s, dir), "1 hour").as("w"))
          .agg(count(lit(1)).as("cnt"), round(sum("value"), 4).as("sum_v"))
          .select(unix_millis(col("w.start")).as("hour_ms"), col("cnt"), col("sum_v"))
          .writeStream.format("memory").queryName(name)
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete()).start()
        try q.processAllAvailable() finally q.stop()
      }
      s.table(name).orderBy("hour_ms")
    }),
    "q_stream_sliding" -> ((s, dir) => {
      // Streaming SLIDING windows in complete mode: each event feeds two
      // overlapping epoch-aligned windows; final state must equal the
      // q_sliding_count batch oracle whatever the micro-batching.
      val schema = t(s, dir, "events").schema
      val name = s"stream_sliding_${streamIds.incrementAndGet()}"
      withConf(s, "spark.sql.shuffle.partitions" -> "4") {
        val q = s.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet").parquet(dir)
          .groupBy(window(tsCol(s, dir), "1 hour", "30 minutes").as("w"))
          .agg(count(lit(1)).as("cnt"), round(sum("value"), 4).as("sum_v"))
          .select(unix_millis(col("w.start")).as("start_ms"), col("cnt"), col("sum_v"))
          .writeStream.format("memory").queryName(name)
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete()).start()
        try q.processAllAvailable() finally q.stop()
      }
      s.table(name).orderBy("start_ms")
    }),
    "q_stream_session" -> ((s, dir) => {
      // Streaming per-key session windows in APPEND mode — the hard
      // streaming case: a session only emits once the watermark passes
      // its end. Determinism across micro-batchings comes from watermark
      // closure: both this side and the batch oracle keep only sessions
      // whose end is at least (watermark delay + a full hour) before the
      // stream's final watermark, a region where emission is guaranteed.
      val schema = t(s, dir, "events").schema
      val name = s"stream_session_${streamIds.incrementAndGet()}"
      val cutoffMs = t(s, dir, "events")
        .agg(max(tsMs(s, dir))).head().getLong(0) - 90L * 60L * 1000L
      // 4 state stores as the other stateful streams (8 measured the
      // same: the cost is the session merge + watermark eviction itself,
      // not store parallelism).
      // Default HDFSBacked state store: RocksDB measured 2.5x slower here
      // (~100k sessions is in-memory-map territory; RocksDB pays JNI +
      // file churn and only wins when state outgrows the heap).
      withConf(s, "spark.sql.shuffle.partitions" -> "4") {
        val q = s.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet").parquet(dir)
          .select(col("user_id"), timestamp_millis(tsMs(s, dir)).as("ts2"))
          .withWatermark("ts2", "30 minutes")
          .groupBy(col("user_id"), session_window(col("ts2"), "10 minutes").as("w"))
          .agg(count(lit(1)).as("cnt"))
          .select(col("user_id"), unix_millis(col("w.start")).as("start_ms"),
            unix_millis(col("w.end")).as("end_ms"), col("cnt"))
          .writeStream.format("memory").queryName(name)
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
        try q.processAllAvailable() finally q.stop()
      }
      s.table(name).where(col("end_ms") <= cutoffMs)
        .select("user_id", "start_ms", "cnt").orderBy("user_id", "start_ms")
    }),
    "q_stream_join" -> ((s, dir) => {
      // Stream-stream time-interval join (the impression↔click
      // attribution shape): purchases join clicks of the same user within
      // the preceding hour. Both sides are watermarked so the join state
      // is bounded (clicks retire once no future purchase can reach
      // them); an INNER interval join emits each matched pair exactly
      // once whatever the micro-batching, so the full batch interval
      // join is the oracle with no closure filtering needed.
      val schema = t(s, dir, "events").schema
      val name = s"stream_join_${streamIds.incrementAndGet()}"
      // A stream-stream join keeps FOUR state stores per partition (two
      // sides × keyWithIndex/keyToNumValues), so partition count costs
      // more here than in the agg streams: 2 measured ~20% faster than 4
      // at this state size. On a cluster this scales with state volume.
      withConf(s, "spark.sql.shuffle.partitions" -> "2") {
        def side(tpe: String, idAs: String, tsAs: String) =
          s.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet").parquet(dir)
            .where(col("event_type") === tpe)
            .select(col("user_id"), col("event_id").as(idAs),
              timestamp_millis(tsMs(s, dir)).as(tsAs))
            .withWatermark(tsAs, "30 minutes")
        val purchases = side("purchase", "purchase_id", "pts")
        val clicks = side("click", "click_id", "cts").withColumnRenamed("user_id", "c_user_id")
        val q = purchases.join(clicks,
            col("user_id") === col("c_user_id") &&
              col("cts") >= col("pts") - expr("INTERVAL 1 HOUR") && col("cts") <= col("pts"),
            "inner")
          .select(col("user_id"), col("purchase_id"), col("click_id"))
          .writeStream.format("memory").queryName(name)
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
        try q.processAllAvailable() finally q.stop()
      }
      s.table(name).orderBy("user_id", "purchase_id", "click_id")
    }),
    "q_stream_state" -> ((s, dir) => {
      // Arbitrary user state via mapGroupsWithState: per-key Welford
      // running stats maintained across micro-batches (StreamingViews.
      // runningStatsPerKey). The FINAL state per key is micro-batching-
      // invariant — (count, mean) over a fixed multiset of values — so
      // the batch per-key aggregate is the oracle. Update-mode memory
      // sink keeps every state emission; the last one per key (max n)
      // is the final state.
      val schema = t(s, dir, "events").schema
      val name = s"stream_state_${streamIds.incrementAndGet()}"
      withConf(s, "spark.sql.shuffle.partitions" -> "4") {
        val src = s.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet").parquet(dir)
        val q = graft.streaming.StreamingViews.runningStatsPerKey(src, "user_id", "value")
          .toDF("user_id", "st")
          .select(col("user_id"), col("st.n").as("n"), col("st.mean").as("mean"))
          .writeStream.format("memory").queryName(name)
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Update()).start()
        try q.processAllAvailable() finally q.stop()
      }
      // Emit (n, sum) rather than (n, mean): the fixture's values have
      // two decimals, so per-key SUMS sit safely off every 4-decimal
      // rounding boundary, while MEANS (sum/n) can land exactly on one
      // (user 20 at sf0.01: 58.55575) where the two engines' binary
      // representations round apart. sum = mean·n re-derives the state's
      // sum to ~1e-9, far inside the 5e-5 boundary margin.
      // Latest snapshot per key = the max-n row (n strictly grows): a
      // max_by aggregate like affinity's — partial collapses map-side,
      // nothing sorts, no Window node (r9 verdict #7).
      s.table(name)
        .groupBy(col("user_id"))
        .agg(max_by(struct(col("n"), col("mean")), col("n")).as("st"))
        .select(col("user_id"), col("st.n").as("n"),
          round(col("st.mean") * col("st.n"), 4).as("sum_v"))
        .orderBy("user_id")
    }),
    "q_stream_funnel" -> ((s, dir) => {
      // the ordered funnel as live per-key state: final progress after
      // the stream drains equals the batch funnel (shared oracle). The
      // latest emission per key is the max-stage row; equal-stage
      // emissions are identical, so distinct + top-1 is deterministic.
      val schema = t(s, dir, "events").schema
      val name = s"stream_funnel_${streamIds.incrementAndGet()}"
      withConf(s, "spark.sql.shuffle.partitions" -> "4") {
        val src = s.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet").parquet(dir)
        val q = graft.streaming.StreamingViews
          .funnelPerKey(src, "user_id", "event_id", "event_type",
            Seq("view", "click", "purchase"))
          .toDF("user_id", "seqs", "stage")
          .writeStream.format("memory").queryName(name)
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Update()).start()
        try q.processAllAvailable() finally q.stop()
      }
      // latest emission per key = the max-stage row (equal-stage
      // emissions are identical): max_by aggregate, no Window node
      s.table(name)
        .groupBy(col("user_id"))
        .agg(max_by(col("seqs"), col("stage")).as("seqs"), max(col("stage")).as("stage"))
        .where(col("stage") >= 1)
        .select(col("user_id"),
          element_at(col("seqs"), 1).as("s_view"),
          element_at(col("seqs"), 2).as("s_click"),
          element_at(col("seqs"), 3).as("s_purchase"),
          col("stage"))
        .orderBy("user_id")
    }),
    "q_stream_erase" -> ((s, dir) => {
      // GDPR erasure END TO END through the live funnel machine: phase
      // A streams the first half of events, a takedown control row then
      // erases every user_id % 10 == 3 (state + timeout drop mid-stream,
      // empty tombstone emitted), phase B streams the rest WITHOUT the
      // erased users (they left the platform). The final answer must
      // contain NO erased user even though their phase-A progress sits
      // in the sink history: emissions land via foreachBatch with the
      // batch id, and per key the LAST emission (max batch id) IS the
      // state — for an erased user that is the stage-0 tombstone, which
      // the stage >= 1 gate drops. Oracle = the batch funnel over the
      // KEPT users' events.
      import org.apache.spark.sql.types._
      val ev = t(s, dir, "events").select(
        col("user_id").cast("long").as("user_id"),
        col("event_id").cast("long").as("event_id"),
        col("event_type"))
      val cut = ev.agg(max("event_id")).head().getLong(0) / 2
      val elog = new MemoryLog(s, StructType(Seq(StructField("user_id", LongType),
        StructField("event_id", LongType), StructField("event_type", StringType))))
      val erLog = new MemoryLog(s, StructType(Seq(StructField("user_id", LongType))))
      val outRoot = java.nio.file.Files.createTempDirectory("graft-serase").toString
      val out = outRoot + "/emits"
      withConf(s, "spark.sql.shuffle.partitions" -> "4") {
        val q = graft.streaming.StreamingViews.funnelPerKey(
            elog.readStream.select("user_id", "event_id", "event_type"),
            "user_id", "event_id", "event_type", Seq("view", "click", "purchase"),
            erase = Some(erLog.readStream.select("user_id")))
          .toDF("user_id", "seqs", "stage")
          .writeStream
          .foreachBatch((b: DataFrame, id: Long) =>
            b.withColumn("__b", lit(id)).write.mode("append").parquet(out))
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Update()).start()
        try {
          elog.append(ev.where(col("event_id") <= cut))
          q.processAllAvailable()
          erLog.append(ev.where(col("user_id") % 10 === 3).select("user_id").distinct())
          q.processAllAvailable()
          elog.append(ev.where(col("event_id") > cut && col("user_id") % 10 =!= 3))
          q.processAllAvailable()
        } finally q.stop()
      }
      val res = EntryHelpers.notePlan(s.read.parquet(out)
        .groupBy("user_id")
        .agg(max_by(struct(col("stage"), col("seqs")), col("__b")).as("fin"))
        .select(col("user_id"), col("fin.stage").as("stage"), col("fin.seqs").as("seqs"))
        .where(col("stage") >= 1)
        .select(col("user_id"),
          expr("try_element_at(seqs, 1)").as("s_view"),
          expr("try_element_at(seqs, 2)").as("s_click"),
          expr("try_element_at(seqs, 3)").as("s_purchase"),
          col("stage"))
        .orderBy("user_id"))
        .localCheckpoint(true)
      EntryHelpers.deleteTreeAsync(outRoot)
      res
    }),
    "q_stream_funnel_windowed" -> ((s, dir) => {
      // the expiring funnel as live per-key state: the gap gate rides
      // the same (stage, seqs, lastTs) cursor; final state equals the
      // batch windowed funnel (shared oracle with q_funnel_windowed)
      val schema = t(s, dir, "events").schema
      val name = s"stream_funnel_w_${streamIds.incrementAndGet()}"
      withConf(s, "spark.sql.shuffle.partitions" -> "4") {
        val src = s.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet").parquet(dir)
        val q = graft.streaming.StreamingViews
          .funnelPerKey(src.withColumn("__ms", tsMs(s, dir)),
            "user_id", "event_id", "event_type",
            Seq("view", "click", "purchase"),
            tsCol = Some("__ms"), maxGap = Some(86400000L))
          .toDF("user_id", "seqs", "stage")
          .writeStream.format("memory").queryName(name)
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Update()).start()
        try q.processAllAvailable() finally q.stop()
      }
      // latest emission per key = the max-stage row: max_by, no Window
      s.table(name)
        .groupBy(col("user_id"))
        .agg(max_by(col("seqs"), col("stage")).as("seqs"), max(col("stage")).as("stage"))
        .where(col("stage") >= 1)
        .select(col("user_id"),
          // try_element_at: unlike q_stream_funnel's fixture, gap-gated
          // funnels strand keys below stage 3 (ANSI element_at throws)
          expr("try_element_at(seqs, 1)").as("s_view"),
          expr("try_element_at(seqs, 2)").as("s_click"),
          expr("try_element_at(seqs, 3)").as("s_purchase"),
          col("stage"))
        .orderBy("user_id")
    }),
    "q_stream_funnel_total" -> ((s, dir) => {
      // the total-conversion-window funnel live: the anchor pins at
      // stage 1 and rides the same cursor (shared oracle with
      // q_funnel_total_window)
      val schema = t(s, dir, "events").schema
      val name = s"stream_funnel_t_${streamIds.incrementAndGet()}"
      withConf(s, "spark.sql.shuffle.partitions" -> "4") {
        val src = s.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet").parquet(dir)
        val q = graft.streaming.StreamingViews
          .funnelPerKey(src.withColumn("__ms", tsMs(s, dir)),
            "user_id", "event_id", "event_type",
            Seq("view", "click", "purchase"),
            tsCol = Some("__ms"), maxGap = Some(172800000L), gapFrom = "first")
          .toDF("user_id", "seqs", "stage")
          .writeStream.format("memory").queryName(name)
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Update()).start()
        try q.processAllAvailable() finally q.stop()
      }
      // latest emission per key = the max-stage row: max_by, no Window
      s.table(name)
        .groupBy(col("user_id"))
        .agg(max_by(col("seqs"), col("stage")).as("seqs"), max(col("stage")).as("stage"))
        .where(col("stage") >= 1)
        .select(col("user_id"),
          expr("try_element_at(seqs, 1)").as("s_view"),
          expr("try_element_at(seqs, 2)").as("s_click"),
          expr("try_element_at(seqs, 3)").as("s_purchase"),
          col("stage"))
        .orderBy("user_id")
    }),
    "q_stream_affinity" -> ((s, dir) => {
      // association rules as live per-key state: each key's distinct
      // type-set snapshot grows monotonically (latest = largest);
      // exploding the final snapshots reproduces the batch operator's
      // (key, type) table, so support/lift follow from the same
      // arithmetic (shared oracle with q_type_affinity)
      val schema = t(s, dir, "events").schema
      val name = s"stream_aff_${streamIds.incrementAndGet()}"
      withConf(s, "spark.sql.shuffle.partitions" -> "4") {
        val src = s.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet").parquet(dir)
        val q = graft.streaming.StreamingViews
          .typeSetPerKey(src, "user_id", "event_type")
          .toDF("k", "types")
          .writeStream.format("memory").queryName(name)
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Update()).start()
        try q.processAllAvailable() finally q.stop()
      }
      // latest snapshot per key = the largest (snapshots grow strictly):
      // a max_by aggregate, not a row_number window — the partial
      // aggregate collapses map-side and nothing sorts (r8 verdict note)
      val base = s.table(name)
        .groupBy(col("k"))
        .agg(max_by(col("types"), size(col("types"))).as("types"))
        .select(col("k"), explode(col("types")).as("t"))
      graft.ops.Affinity.typeAffinity(base, "k", col("t"))
        .orderBy("type_a", "type_b")
    }),
    "q_stream_paths" -> ((s, dir) => {
      // session path mining as live per-key state: a trailing 2-type
      // window emits each completed trigram exactly once (Append);
      // the emission table grouped by path equals the batch operator
      // (shared oracle with q_event_paths)
      val schema = t(s, dir, "events").schema
      val name = s"stream_paths_${streamIds.incrementAndGet()}"
      withConf(s, "spark.sql.shuffle.partitions" -> "4") {
        val src = s.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet").parquet(dir)
        val q = graft.streaming.StreamingViews
          .pathsPerKey(src.withColumn("__ms", tsMs(s, dir)),
            "user_id", "__ms", "event_id", "event_type")
          .toDF("path")
          .writeStream.format("memory").queryName(name)
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
        try q.processAllAvailable() finally q.stop()
      }
      s.table(name).groupBy("path").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("path")).limit(20)
    }),
    "q_stream_retention" -> ((s, dir) => {
      // cohort retention as live per-key state: each batch emits the
      // key's full (cohort, offsets) snapshot (self-revising, so a
      // late earlier period can move the cohort); snapshots strictly
      // grow, so latest = most offsets, and the final snapshots
      // aggregate to the batch operator's answer (shared oracle).
      val schema = t(s, dir, "events").schema
      val name = s"stream_ret_${streamIds.incrementAndGet()}"
      withConf(s, "spark.sql.shuffle.partitions" -> "4") {
        val src = s.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet").parquet(dir)
        val q = graft.streaming.StreamingViews
          .retentionPerKey(
            src.withColumn("__p", unix_seconds(date_trunc("day", tsCol(s, dir)))),
            "user_id", "__p")
          .toDF("user_id", "cohort_ms", "offsets")
          .writeStream.format("memory").queryName(name)
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Update()).start()
        try q.processAllAvailable() finally q.stop()
      }
      // latest snapshot per key = the most-offsets row (snapshots
      // strictly grow; equal-size snapshots are identical): max_by
      // carries (cohort, offsets) together so a self-revised cohort
      // rides its own snapshot — no Window node
      s.table(name)
        .groupBy(col("user_id"))
        .agg(max_by(struct(col("cohort_ms"), col("offsets")),
          size(col("offsets"))).as("st"))
        .select(col("st.cohort_ms").as("cohort_ms"),
          explode(col("st.offsets")).as("day_offset"))
        .groupBy("cohort_ms", "day_offset").agg(count(lit(1)).as("n_active"))
        .orderBy("cohort_ms", "day_offset")
    }),
    "q_stream_anomaly" -> ((s, dir) => {
      // the rolling z-score gate as LIVE per-key state: a trailing ring
      // buffer scores each arriving event, emitting only anomalies
      // (Append). One-file source = one batch = exact batch semantics,
      // so q_rolling_zscore's oracle is this query's oracle too.
      val schema = t(s, dir, "events").schema
      val name = s"stream_anom_${streamIds.incrementAndGet()}"
      withConf(s, "spark.sql.shuffle.partitions" -> "4") {
        val src = s.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet").parquet(dir)
        val q = graft.streaming.StreamingViews
          .rollingAnomalyPerKey(src, "user_id", "event_id", "value")
          .toDF("user_id", "seq", "value", "sum_base", "sd_base", "n_base", "zscore")
          .writeStream.format("memory").queryName(name)
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
        try q.processAllAvailable() finally q.stop()
      }
      s.table(name).orderBy("user_id", "seq")
    }),
    "q_stream_left_join" -> ((s, dir) => {
      // LEFT OUTER stream-stream interval join: unmatched purchases
      // surface with a null click once the watermark closes their join
      // window. The left side is capped at maxTs - 2h INSIDE the query,
      // so every kept purchase's window is provably closed by the final
      // watermark (maxTs - 30min) — making the emitted set deterministic
      // and equal to the capped batch left join, which is the oracle.
      val schema = t(s, dir, "events").schema
      val maxMs = t(s, dir, "events").agg(max(tsMs(s, dir))).head().getLong(0)
      val capMs = maxMs - 2L * 3600 * 1000
      val name = s"stream_ljoin_${streamIds.incrementAndGet()}"
      withConf(s, "spark.sql.shuffle.partitions" -> "2") {
        def side(tpe: String, idAs: String, tsAs: String) =
          s.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet").parquet(dir)
            .where(col("event_type") === tpe)
            .select(col("user_id"), col("event_id").as(idAs),
              timestamp_millis(tsMs(s, dir)).as(tsAs))
            .withWatermark(tsAs, "30 minutes")
        val purchases = side("purchase", "purchase_id", "pts")
          .where(col("pts") <= expr(s"timestamp_millis(${capMs}L)"))
        val clicks = side("click", "click_id", "cts").withColumnRenamed("user_id", "c_user_id")
        val q = purchases.join(clicks,
            col("user_id") === col("c_user_id") &&
              col("cts") >= col("pts") - expr("INTERVAL 1 HOUR") && col("cts") <= col("pts"),
            "left_outer")
          .select(col("user_id"), col("purchase_id"), col("click_id"))
          .writeStream.format("memory").queryName(name)
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
        try q.processAllAvailable() finally q.stop()
      }
      s.table(name).orderBy("user_id", "purchase_id", "click_id")
    }),
    "q_stream_full_join" -> ((s, dir) => {
      // FULL OUTER stream-stream interval join: unmatched rows from
      // BOTH sides surface with nulls once the watermark closes their
      // windows. The GLOBAL watermark is the MIN over both sides'
      // watermarks (each = that side's max event time - 30min), so the
      // cap is min(max purchase ts, max click ts) - 2h: every kept
      // click then satisfies cts < W - 1h (its whole purchase window
      // [cts, cts+1h] is final) and every kept purchase pts < W — the
      // emitted set provably equals the capped batch full join, which
      // is the oracle. (Capping at the OVERALL max ts is wrong whenever
      // one side's stream ends hours before the other's — the min
      // policy holds the watermark back at the earlier side.)
      val schema = t(s, dir, "events").schema
      val mm = t(s, dir, "events").agg(
        max(when(col("event_type") === "purchase", tsMs(s, dir))).as("mp"),
        max(when(col("event_type") === "click", tsMs(s, dir))).as("mc")).head()
      val capMs = math.min(mm.getLong(0), mm.getLong(1)) - 2L * 3600 * 1000
      val name = s"stream_fjoin_${streamIds.incrementAndGet()}"
      withConf(s, "spark.sql.shuffle.partitions" -> "2") {
        def side(tpe: String, idAs: String, tsAs: String) =
          s.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet").parquet(dir)
            .where(col("event_type") === tpe)
            .select(col("user_id"), col("event_id").as(idAs),
              timestamp_millis(tsMs(s, dir)).as(tsAs))
            .withWatermark(tsAs, "30 minutes")
        val cap = expr(s"timestamp_millis(${capMs}L)")
        val purchases = side("purchase", "purchase_id", "pts").where(col("pts") <= cap)
        val clicks = side("click", "click_id", "cts").withColumnRenamed("user_id", "c_user_id")
          .where(col("cts") <= cap)
        val q = purchases.join(clicks,
            col("user_id") === col("c_user_id") &&
              col("cts") >= col("pts") - expr("INTERVAL 1 HOUR") && col("cts") <= col("pts"),
            "full_outer")
          .select(coalesce(col("user_id"), col("c_user_id")).as("user_id"),
            col("purchase_id"), col("click_id"))
          .writeStream.format("memory").queryName(name)
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
        try q.processAllAvailable() finally q.stop()
      }
      // explicit NULLS FIRST on both engines — their defaults differ
      s.table(name).orderBy(col("user_id"),
        col("purchase_id").asc_nulls_first, col("click_id").asc_nulls_first)
    }),
    "q_stream_state_tws" -> ((s, dir) => {
      // The same per-key Welford state on Spark 4's transformWithState
      // surface (typed ValueState inside a StatefulProcessor, RocksDB
      // state store as TWS requires). Identical state transitions ⇒ the
      // same batch oracle as q_stream_state.
      val schema = t(s, dir, "events").schema
      val name = s"stream_state_tws_${streamIds.incrementAndGet()}"
      withConf(s, "spark.sql.shuffle.partitions" -> "4",
          "spark.sql.streaming.stateStore.providerClass" ->
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
        val src = s.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet").parquet(dir)
        val q = graft.streaming.StreamingViews.runningStatsPerKeyTws(src, "user_id", "value")
          .toDF("user_id", "st")
          .select(col("user_id"), col("st.n").as("n"), col("st.mean").as("mean"))
          .writeStream.format("memory").queryName(name)
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Update()).start()
        try q.processAllAvailable() finally q.stop()
      }
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("n").desc)
      s.table(name)
        .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .select(col("user_id"), col("n"), round(col("mean") * col("n"), 4).as("sum_v"))
        .orderBy("user_id")
    }),
    "q_stream_dedup" -> ((s, dir) => {
      // Streaming dropDuplicates == batch DISTINCT, oracle-checked: the
      // emitted key set is deterministic regardless of micro-batching.
      val schema = t(s, dir, "events").schema
      val name = s"stream_dedup_${streamIds.incrementAndGet()}"
      withConf(s, "spark.sql.shuffle.partitions" -> "4") {
        val q = s.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet").parquet(dir)
          .select("user_id").dropDuplicates("user_id")
          .writeStream.format("memory").queryName(name)
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
        try q.processAllAvailable() finally q.stop()
      }
      s.table(name).orderBy("user_id")
    }),
  )

  def oracles: Map[String, String] = Map(
    "q_stream_funnel_windowed" ->
      // identical to q_funnel_windowed: the gap-gated live cursor
      // re-derives the batch answer over the one-file source
      ("WITH e AS (SELECT user_id, epoch_ms(ts) AS ms, event_id, event_type FROM events), " +
        "v AS (SELECT user_id, min(event_id) AS s_view, arg_min(ms, event_id) AS t_view FROM e WHERE event_type = 'view' GROUP BY 1), " +
        "c AS (SELECT e.user_id, min(e.event_id) AS s_click, arg_min(e.ms, e.event_id) AS t_click FROM e JOIN v ON e.user_id = v.user_id AND e.event_id > v.s_view AND e.ms - v.t_view <= 86400000 WHERE e.event_type = 'click' GROUP BY 1), " +
        "p AS (SELECT e.user_id, min(e.event_id) AS s_purchase FROM e JOIN c ON e.user_id = c.user_id AND e.event_id > c.s_click AND e.ms - c.t_click <= 86400000 WHERE e.event_type = 'purchase' GROUP BY 1) " +
        "SELECT v.user_id, s_view, s_click, s_purchase, " +
        "CASE WHEN s_purchase IS NOT NULL THEN 3 WHEN s_click IS NOT NULL THEN 2 ELSE 1 END AS stage " +
        "FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id) ORDER BY user_id"),
    "q_stream_funnel_total" ->
      // identical to q_funnel_total_window over the one-file source
      ("WITH e AS (SELECT user_id, epoch_ms(ts) AS ms, event_id, event_type FROM events), " +
        "v AS (SELECT user_id, min(event_id) AS s_view, arg_min(ms, event_id) AS t_view FROM e WHERE event_type = 'view' GROUP BY 1), " +
        "c AS (SELECT e.user_id, min(e.event_id) AS s_click FROM e JOIN v ON e.user_id = v.user_id AND e.event_id > v.s_view AND e.ms - v.t_view <= 172800000 WHERE e.event_type = 'click' GROUP BY 1), " +
        "p AS (SELECT e.user_id, min(e.event_id) AS s_purchase FROM e JOIN c ON e.user_id = c.user_id AND e.event_id > c.s_click JOIN v ON v.user_id = e.user_id AND e.ms - v.t_view <= 172800000 WHERE e.event_type = 'purchase' GROUP BY 1) " +
        "SELECT v.user_id, s_view, s_click, s_purchase, " +
        "CASE WHEN s_purchase IS NOT NULL THEN 3 WHEN s_click IS NOT NULL THEN 2 ELSE 1 END AS stage " +
        "FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id) ORDER BY user_id"),
    "q_stream_affinity" ->
      // identical to q_type_affinity: the live type-set snapshots
      // reproduce the batch (key, type) table over the one-file source
      ("WITH b AS (SELECT DISTINCT user_id, event_type FROM events), " +
        "u AS (SELECT count(DISTINCT user_id)::DOUBLE AS u FROM events), " +
        "per AS (SELECT event_type, count(*) AS n FROM b GROUP BY 1), " +
        "pr AS (SELECT a.event_type AS type_a, bb.event_type AS type_b, count(*) AS n_xy FROM b a JOIN b bb ON a.user_id = bb.user_id AND a.event_type < bb.event_type GROUP BY 1, 2) " +
        "SELECT type_a, type_b, n_xy, " +
        "CAST(floor(n_xy * 1000000.0 / (SELECT u FROM u) + 1e-9) AS BIGINT) AS support_ppm, " +
        "CAST(floor(n_xy * (SELECT u FROM u) * 1000000.0 / (pa.n * pb.n) + 1e-9) AS BIGINT) AS lift_ppm " +
        "FROM pr JOIN per pa ON pa.event_type = type_a JOIN per pb ON pb.event_type = type_b " +
        "ORDER BY type_a, type_b"),
    "q_stream_paths" ->
      // identical to q_event_paths: the live trailing window emits the
      // same trigram multiset over the one-file source
      ("WITH e AS (SELECT user_id, epoch_ms(ts) AS ms, event_id AS seq, event_type AS et FROM events), " +
        "s AS (SELECT user_id, ms, seq, et, CASE WHEN lag(ms) OVER w IS NULL OR ms - lag(ms) OVER w >= 600000 THEN 1 ELSE 0 END AS new_s FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, seq)), " +
        "g AS (SELECT user_id, ms, seq, et, sum(new_s) OVER (PARTITION BY user_id ORDER BY ms, seq ROWS UNBOUNDED PRECEDING) AS sid FROM s), " +
        "p AS (SELECT user_id, sid, list(et ORDER BY ms, seq) AS tl FROM g GROUP BY 1, 2), " +
        "ng AS (SELECT unnest(list_transform(generate_series(1, len(tl) - 2), i -> tl[i] || '>' || tl[i+1] || '>' || tl[i+2])) AS path FROM p WHERE len(tl) >= 3) " +
        "SELECT path, count(*) AS cnt FROM ng GROUP BY 1 ORDER BY cnt DESC, path LIMIT 20"),
    "q_stream_retention" ->
      // identical to q_retention: the live snapshots re-derive the
      // batch cohort table over the one-file source
      ("WITH p AS (SELECT user_id, CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT) AS p_s FROM events), " +
        "f AS (SELECT user_id, min(p_s) AS cohort_s FROM p GROUP BY 1), " +
        "a AS (SELECT DISTINCT user_id, p_s FROM p) " +
        "SELECT cohort_s * 1000 AS cohort_ms, (p_s - cohort_s) // 86400 AS day_offset, count(*) AS n_active " +
        "FROM a JOIN f USING (user_id) GROUP BY 1, 2 ORDER BY cohort_ms, day_offset"),
    "q_stream_funnel" ->
      // identical to q_funnel: the live state machine re-derives the
      // batch answer over the one-file source
      ("WITH v AS (SELECT user_id, min(event_id) AS s_view FROM events WHERE event_type = 'view' GROUP BY 1), " +
        "c AS (SELECT e.user_id, min(event_id) AS s_click FROM events e JOIN v ON e.user_id = v.user_id AND e.event_id > v.s_view WHERE e.event_type = 'click' GROUP BY 1), " +
        "p AS (SELECT e.user_id, min(event_id) AS s_purchase FROM events e JOIN c ON e.user_id = c.user_id AND e.event_id > c.s_click WHERE e.event_type = 'purchase' GROUP BY 1) " +
        "SELECT v.user_id, s_view, s_click, s_purchase, " +
        "CASE WHEN s_purchase IS NOT NULL THEN 3 WHEN s_click IS NOT NULL THEN 2 ELSE 1 END AS stage " +
        "FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id) ORDER BY user_id"),
    "q_stream_erase" ->
      // the funnel replay over the KEPT users only: an erased user's
      // phase-A progress must not survive into the final answer
      ("WITH ev AS (SELECT user_id, event_id, event_type FROM events WHERE user_id % 10 <> 3), " +
        "v AS (SELECT user_id, min(event_id) AS s_view FROM ev WHERE event_type = 'view' GROUP BY 1), " +
        "c AS (SELECT e.user_id, min(event_id) AS s_click FROM ev e JOIN v ON e.user_id = v.user_id AND e.event_id > v.s_view WHERE e.event_type = 'click' GROUP BY 1), " +
        "p AS (SELECT e.user_id, min(event_id) AS s_purchase FROM ev e JOIN c ON e.user_id = c.user_id AND e.event_id > c.s_click WHERE e.event_type = 'purchase' GROUP BY 1) " +
        "SELECT v.user_id, s_view, s_click, s_purchase, " +
        "CASE WHEN s_purchase IS NOT NULL THEN 3 WHEN s_click IS NOT NULL THEN 2 ELSE 1 END AS stage " +
        "FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id) ORDER BY user_id"),
    "q_stream_sliding" ->
      ("WITH e AS (SELECT epoch_ms(ts) AS ms, value FROM events), " +
        "w AS (SELECT ms - (ms % 1800000) AS w0, value FROM e), " +
        "x AS (SELECT w0 AS start_ms, value FROM w UNION ALL SELECT w0 - 1800000 AS start_ms, value FROM w) " +
        "SELECT start_ms, count(*) AS cnt, round(sum(value), 4) AS sum_v FROM x GROUP BY start_ms ORDER BY start_ms"),
    "q_stream_curate" ->
      // two-phase replay of the streaming curator: phase 1 curates the
      // originals, phase 2 curates the perturbed batch INTERNALLY and
      // then against phase 1's survivors (the stored-signature check) —
      // per-batch semantics, deliberately different from
      // q_pipeline_curate's one-pot pool. LSH settings (32 bands,
      // exact verify) make the Spark side exhaustive-equivalent here,
      // same argument as q_pipeline_curate.
      ("WITH orig AS (SELECT doc_id, text FROM documents), " +
        "pert AS (SELECT doc_id + 10000 AS doc_id, regexp_replace(text, '^\\S+\\s+', '') AS text FROM documents), " +
        sqlCuratePhase("1", "orig") + ", " +
        sqlCuratePhase("2", "pert") + ", " +
        "i2s AS (SELECT i2.doc_id, shingle FROM i2 JOIN kept2 USING (doc_id)), " +
        "i1k AS (SELECT i1.doc_id, shingle FROM i1 JOIN kept1 USING (doc_id)), " +
        "px AS (SELECT a.doc_id AS id_new, b.doc_id AS id_base, count(*) AS inter FROM i2s a JOIN i1k b ON a.shingle = b.shingle GROUP BY 1, 2), " +
        "nx AS (SELECT DISTINCT id_new FROM px JOIN c2 ca ON ca.doc_id = id_new JOIN c1 cb ON cb.doc_id = id_base WHERE round(inter::DOUBLE / (ca.n + cb.n - inter), 4) >= 0.6), " +
        "kept AS (SELECT doc_id FROM kept1 UNION ALL SELECT doc_id FROM kept2 WHERE doc_id NOT IN (SELECT id_new FROM nx)) " +
        "SELECT count(*) AS n_kept, min(doc_id) AS min_id, max(doc_id) AS max_id, sum(CASE WHEN doc_id >= 10000 THEN 1 ELSE 0 END)::BIGINT AS perturbed_kept FROM kept"),
    "q_stream_curate_retract" ->
      // the takedown replay: phase-1 curation of the originals, kept1
      // minus the retracted ids = the stored state batch 2 checks
      // against; phase-2 self-curation of the re-ingest batch, then the
      // cross check vs the RETAINED survivors only — a drop against a
      // retracted doc is impossible because its signatures left storage
      ("WITH orig AS (SELECT doc_id, text FROM documents), " +
        "pert AS (SELECT doc_id + 50000 AS doc_id, regexp_replace(text, '^\\S+\\s+', '') AS text FROM documents WHERE doc_id % 5 = 3), " +
        sqlCuratePhase("1", "orig") + ", " +
        "ret AS (SELECT doc_id FROM kept1 WHERE doc_id % 10 <> 3), " +
        sqlCuratePhase("2", "pert") + ", " +
        "i2s AS (SELECT i2.doc_id, shingle FROM i2 JOIN kept2 USING (doc_id)), " +
        "i1k AS (SELECT i1.doc_id, shingle FROM i1 JOIN ret USING (doc_id)), " +
        "px AS (SELECT a.doc_id AS id_new, b.doc_id AS id_base, count(*) AS inter FROM i2s a JOIN i1k b ON a.shingle = b.shingle GROUP BY 1, 2), " +
        "nx AS (SELECT DISTINCT id_new FROM px JOIN c2 ca ON ca.doc_id = id_new JOIN c1 cb ON cb.doc_id = id_base WHERE round(inter::DOUBLE / (ca.n + cb.n - inter), 4) >= 0.6), " +
        "kept AS (SELECT doc_id FROM ret UNION ALL SELECT doc_id FROM kept2 WHERE doc_id NOT IN (SELECT id_new FROM nx)) " +
        "SELECT count(*) AS n_kept, " +
        "sum(CASE WHEN doc_id < 50000 AND doc_id % 10 = 3 THEN 1 ELSE 0 END)::BIGINT AS retracted_left, " +
        "sum(CASE WHEN doc_id >= 50000 AND (doc_id - 50000) % 10 = 3 THEN 1 ELSE 0 END)::BIGINT AS reingest_of_retracted, " +
        "sum(CASE WHEN doc_id >= 50000 AND (doc_id - 50000) % 10 = 8 THEN 1 ELSE 0 END)::BIGINT AS reingest_of_kept FROM kept"),
    "q_stream_curate_embed" ->
      // two-phase replay of the embedding curator — oracle-safe by the
      // q_embed_neardup argument: planted pairs are exact scalar
      // multiples (co-bucketed in every band), the corpus has no
      // natural pair above cosine ~0.45, and the exact ≥0.95 verify
      // makes extra candidates irrelevant, so the banded pipeline
      // equals the all-pairs predicate. Phase 1: originals minus
      // within-batch pairs (drop the higher id). Phase 2: copies minus
      // within-batch pairs, then minus cross pairs vs phase-1 kept.
      ("WITH orig AS (SELECT vec_id, embedding FROM embeddings), " +
        "pert AS (SELECT vec_id + 10000 AS vec_id, list_transform(embedding, x -> CAST(x * 1.001 AS FLOAT)) AS embedding FROM embeddings), " +
        "d1 AS (SELECT DISTINCT b.vec_id AS id_b FROM orig a JOIN orig b ON a.vec_id < b.vec_id " +
        "WHERE round(list_cosine_similarity(a.embedding, b.embedding), 4) >= 0.95), " +
        "kept1 AS (SELECT vec_id, embedding FROM orig WHERE vec_id NOT IN (SELECT id_b FROM d1)), " +
        "d2 AS (SELECT DISTINCT b.vec_id AS id_b FROM pert a JOIN pert b ON a.vec_id < b.vec_id " +
        "WHERE round(list_cosine_similarity(a.embedding, b.embedding), 4) >= 0.95), " +
        "sv2 AS (SELECT vec_id, embedding FROM pert WHERE vec_id NOT IN (SELECT id_b FROM d2)), " +
        "dx AS (SELECT DISTINCT a.vec_id AS id_a FROM sv2 a JOIN kept1 b ON true " +
        "WHERE round(list_cosine_similarity(a.embedding, b.embedding), 4) >= 0.95), " +
        "kept AS (SELECT vec_id FROM kept1 UNION ALL SELECT vec_id FROM sv2 WHERE vec_id NOT IN (SELECT id_a FROM dx)) " +
        "SELECT count(*) AS n_kept, min(vec_id) AS min_id, max(vec_id) AS max_id, " +
        "sum(CASE WHEN vec_id >= 10000 THEN 1 ELSE 0 END)::BIGINT AS copies_kept FROM kept"),
    "q_stream_curate_media" ->
      // two-phase replay of the MEDIA curator over the shared
      // fingerprint CTEs (originals + gain×3/+24-silence copies at ids
      // +60000): phase-1 self near-dup within the originals (per-batch
      // hot caps), phase-2 self near-dup within the copies, then the
      // incremental check of the self-survivors against phase 1's kept
      // fingerprints — the q_audio_neardup_incremental replay with the
      // stored side restricted to kept1. Same per-batch semantics as
      // the operator: hot caps per side, n_windows gate on the segment
      // key, bit_count verify at hamming <= 7.
      ("WITH " + MultimodalQueries.audioFpCtes + ", " +
        "hot1 AS (SELECT nw, s, segval FROM seg WHERE media_id < 60000 GROUP BY 1, 2, 3 HAVING count(*) > 256), " +
        "k1 AS (SELECT * FROM (SELECT * FROM seg WHERE media_id < 60000) ANTI JOIN hot1 USING (nw, s, segval)), " +
        "d1 AS (SELECT DISTINCT b.media_id AS id_b FROM k1 a JOIN k1 b ON a.nw = b.nw AND a.s = b.s AND a.segval = b.segval AND a.media_id < b.media_id " +
        "JOIN fp pa ON pa.media_id = a.media_id JOIN fp pb ON pb.media_id = b.media_id " +
        "WHERE bit_count(xor(pa.hi, pb.hi)) + bit_count(xor(pa.lo, pb.lo)) <= 7), " +
        "kept1 AS (SELECT media_id FROM ids WHERE media_id < 60000 AND media_id NOT IN (SELECT id_b FROM d1)), " +
        "hot2 AS (SELECT nw, s, segval FROM seg WHERE media_id >= 60000 GROUP BY 1, 2, 3 HAVING count(*) > 256), " +
        "k2 AS (SELECT * FROM (SELECT * FROM seg WHERE media_id >= 60000) ANTI JOIN hot2 USING (nw, s, segval)), " +
        "d2 AS (SELECT DISTINCT b.media_id AS id_b FROM k2 a JOIN k2 b ON a.nw = b.nw AND a.s = b.s AND a.segval = b.segval AND a.media_id < b.media_id " +
        "JOIN fp pa ON pa.media_id = a.media_id JOIN fp pb ON pb.media_id = b.media_id " +
        "WHERE bit_count(xor(pa.hi, pb.hi)) + bit_count(xor(pa.lo, pb.lo)) <= 7), " +
        "sv2 AS (SELECT media_id FROM ids WHERE media_id >= 60000 AND media_id NOT IN (SELECT id_b FROM d2)), " +
        "segn AS MATERIALIZED (SELECT * FROM seg SEMI JOIN sv2 USING (media_id)), " +
        "hotn AS (SELECT nw, s, segval FROM segn GROUP BY 1, 2, 3 HAVING count(*) > 256), " +
        "kn AS (SELECT * FROM segn ANTI JOIN hotn USING (nw, s, segval)), " +
        "nk AS (SELECT DISTINCT nw, s, segval FROM kn), " +
        "mt AS MATERIALIZED (SELECT * FROM (SELECT * FROM seg SEMI JOIN kept1 USING (media_id)) SEMI JOIN nk USING (nw, s, segval)), " +
        "hotb AS (SELECT nw, s, segval FROM mt GROUP BY 1, 2, 3 HAVING count(*) > 256), " +
        "mk AS (SELECT * FROM mt ANTI JOIN hotb USING (nw, s, segval)), " +
        "dx AS (SELECT DISTINCT a.media_id AS id_a FROM kn a JOIN mk b ON a.nw = b.nw AND a.s = b.s AND a.segval = b.segval " +
        "JOIN fp pa ON pa.media_id = a.media_id JOIN fp pb ON pb.media_id = b.media_id " +
        "WHERE bit_count(xor(pa.hi, pb.hi)) + bit_count(xor(pa.lo, pb.lo)) <= 7), " +
        "kept AS (SELECT media_id FROM kept1 UNION ALL SELECT media_id FROM sv2 WHERE media_id NOT IN (SELECT id_a FROM dx)) " +
        "SELECT count(*) AS n_kept, min(media_id) AS min_id, max(media_id) AS max_id, " +
        "sum(CASE WHEN media_id >= 60000 THEN 1 ELSE 0 END)::BIGINT AS copies_kept FROM kept"),
    "q_stream_anomaly" ->
      // identical to q_rolling_zscore: the streaming gate re-derives the
      // batch answer (one-file source, in-seq processing, same rounding)
      ("WITH s AS (SELECT user_id, event_id AS seq, value AS x, " +
        "count(value) OVER w AS n_base, avg(value) OVER w AS mean_base, stddev_pop(value) OVER w AS sd_base " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY event_id ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)) " +
        "SELECT user_id, seq, x AS value, round(mean_base * n_base, 4) AS sum_base, round(sd_base, 4) AS sd_base, n_base, " +
        "CASE WHEN sd_base > 0 THEN round((x - mean_base) / sd_base, 4) END AS zscore " +
        "FROM s WHERE n_base >= 5 AND abs(x - mean_base) >= 2.5 * sd_base AND abs(x - mean_base) > 0 ORDER BY user_id, seq"),
    "q_stream_tumbling" ->
      "SELECT epoch_ms(date_trunc('hour', ts)) AS hour_ms, count(*) AS cnt, round(sum(value), 4) AS sum_v FROM events GROUP BY hour_ms ORDER BY hour_ms",
    "q_stream_dedup" ->
      "SELECT DISTINCT user_id FROM events ORDER BY user_id",
    "q_stream_join" ->
      ("SELECT p.user_id AS user_id, p.event_id AS purchase_id, c.event_id AS click_id " +
        "FROM (SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events WHERE event_type = 'purchase') p " +
        "JOIN (SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events WHERE event_type = 'click') c " +
        "ON p.user_id = c.user_id AND c.ms >= p.ms - 3600000 AND c.ms <= p.ms " +
        "ORDER BY user_id, purchase_id, click_id"),
    "q_stream_left_join" ->
      ("WITH mx AS (SELECT max(epoch_ms(ts)) AS m FROM events) " +
        "SELECT p.user_id AS user_id, p.event_id AS purchase_id, c.event_id AS click_id " +
        "FROM (SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events, mx WHERE event_type = 'purchase' AND epoch_ms(ts) <= m - 7200000) p " +
        "LEFT JOIN (SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events WHERE event_type = 'click') c " +
        "ON p.user_id = c.user_id AND c.ms >= p.ms - 3600000 AND c.ms <= p.ms " +
        "ORDER BY user_id, purchase_id, click_id"),
    "q_stream_full_join" ->
      ("WITH mx AS (SELECT least(max(CASE WHEN event_type = 'purchase' THEN epoch_ms(ts) END), max(CASE WHEN event_type = 'click' THEN epoch_ms(ts) END)) AS m FROM events) " +
        "SELECT coalesce(p.user_id, c.user_id) AS user_id, p.event_id AS purchase_id, c.event_id AS click_id " +
        "FROM (SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events, mx WHERE event_type = 'purchase' AND epoch_ms(ts) <= m - 7200000) p " +
        "FULL JOIN (SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events, mx WHERE event_type = 'click' AND epoch_ms(ts) <= m - 7200000) c " +
        "ON p.user_id = c.user_id AND c.ms >= p.ms - 3600000 AND c.ms <= p.ms " +
        "ORDER BY user_id, purchase_id NULLS FIRST, click_id NULLS FIRST"),
    "q_stream_session" ->
      // gaps-and-islands sessions (as q_session_window), kept only where
      // the streaming side is guaranteed to have emitted: session end
      // (last event + gap) at least watermark + 1 h before the final
      // watermark's anchor (the max event time)
      ("WITH e AS (SELECT user_id, epoch_ms(ts) AS ms FROM events), " +
        "mx AS (SELECT max(epoch_ms(ts)) AS m FROM events), " +
        "s AS (SELECT user_id, ms, CASE WHEN lag(ms) OVER (PARTITION BY user_id ORDER BY ms) IS NULL OR ms - lag(ms) OVER (PARTITION BY user_id ORDER BY ms) >= 600000 THEN 1 ELSE 0 END AS new_s FROM e), " +
        "g AS (SELECT user_id, ms, sum(new_s) OVER (PARTITION BY user_id ORDER BY ms ROWS UNBOUNDED PRECEDING) AS sid FROM s) " +
        "SELECT user_id, min(ms) AS start_ms, count(*) AS cnt FROM g, mx GROUP BY user_id, sid, m " +
        "HAVING max(ms) + 600000 <= m - 5400000 ORDER BY user_id, start_ms"),
    "q_stream_state" ->
      "SELECT user_id, count(*) AS n, round(sum(value), 4) AS sum_v FROM events GROUP BY user_id ORDER BY user_id",
    "q_stream_state_tws" ->
      "SELECT user_id, count(*) AS n, round(sum(value), 4) AS sum_v FROM events GROUP BY user_id ORDER BY user_id",
    "q_stream_static_join" ->
      "SELECT event_id AS seq, user_id, user_id % 7 AS cohort FROM events WHERE event_type = 'purchase' ORDER BY seq",
  )
}
