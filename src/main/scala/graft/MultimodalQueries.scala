package graft

import graft.core._
import graft.ops.{Cluster, Decontaminate, Dedup, Multimodal, Packing, Similarity, TextAnalysis}
import graft.views._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal queries: image/audio/video codecs, resize, perceptual-hash dedup ladder, frame sampling (SURVEY §2.5).
  *
  * A pure round-8 relocation of [[SparkEntry]] catalog entries (r7
  * verdict #7) — zero renames, zero semantic changes; the driver
  * contract stays on [[SparkEntry.queries]]/[[SparkEntry.oracleSql]],
  * which merge the per-domain objects. Shared fixtures/caches live in
  * [[EntryHelpers]].
  */
private[graft] object MultimodalQueries {
  import EntryHelpers._

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_multimodal_features" -> ((s, dir) =>
      // The DuckDB-expressible half of the multimodal pipeline: id,
      // modality routing, and payload byte count are all derivable from
      // the synthetic fixture, so this row is fully oracle-backed. The
      // decoder-derived features live in q_multimodal_embed (rows-only —
      // the stub decoder has no SQL analog).
      Multimodal.extractFeatures(Multimodal.syntheticMedia(t(s, dir, "documents")))
        .select(col("media_id"), col("modality"), col("n_bytes"))
        .orderBy("media_id")),
    "q_multimodal_embed" -> ((s, dir) =>
      // Decoder-output check, reduced to hash-stable scalars (the
      // driver's compare sorts/hashes rows, which an array column
      // breaks): three dims spanning the generator (j = 0, 7, 15). The
      // stub decoder is a deterministic rolling hash over the payload
      // bytes, so these are DuckDB-recomputable — the oracle replays the
      // wrap-around 64-bit arithmetic in HUGEINT mod 2^64.
      Multimodal.extractFeatures(Multimodal.syntheticMedia(t(s, dir, "documents")))
        .select(col("media_id"),
          round(element_at(col("features"), 1).cast("double"), 4).as("feat0"),
          round(element_at(col("features"), 8).cast("double"), 4).as("feat7"),
          round(element_at(col("features"), 16).cast("double"), 4).as("feat15"))
        .orderBy("media_id")),
    "q_multimodal_resize" -> ((s, dir) =>
      // resize image-modality payloads to 16x16 stub-pixels; digest is
      // DuckDB-recomputable (ASCII fixture: byte ops == char ops)
      Multimodal.resize(
          Multimodal.syntheticMedia(t(s, dir, "documents")).where(col("modality") === "image"),
          targetW = 16, targetH = 16)
        .select(col("media_id"), col("meta.width").cast("bigint").as("w"),
          col("meta.height").cast("bigint").as("h"),
          length(col("content")).cast("bigint").as("n_bytes"), md5(col("content")).as("content_md5"))
        .orderBy("media_id")),
    "q_image_decode" -> ((s, dir) =>
      // the REAL codec path end-to-end: deterministic gray PNGs are
      // encoded with the JDK writer, decoded back with javax.imageio in
      // the partition-batched shape, and the oracle recomputes the exact
      // integer pixel stats from the generator formula — it verifies a
      // true encode→decode round trip without ever touching the bytes
      Multimodal.imageStats(Multimodal.syntheticPngMedia(t(s, dir, "documents")))
        .orderBy("media_id")),
    "q_image_jpeg" -> ((s, dir) =>
      // the LOSSY codec end-to-end: JDK-encoded JPEGs decode back through
      // the same partition-batched path; dimensions and pixel count
      // survive the codec bit-exactly (the oracle recomputes them from
      // the generator), pixel sums are tolerance-checked in OpsSpec
      Multimodal.imageStats(Multimodal.syntheticJpegMedia(t(s, dir, "documents")))
        .select(col("media_id"), col("width"), col("height"), col("n_pixels"))
        .orderBy("media_id")),
    "q_image_resize" -> ((s, dir) =>
      // REAL resize kernel end-to-end: 16x16 gray PNGs -> center-aligned
      // bilinear 2x downscale (exactly the integer 4-neighbor average at
      // ratio 2, so DuckDB replays it from the generator formula) -> PNG
      // re-encode -> decode -> exact integer stats
      Multimodal.imageStats(
          Multimodal.resize(
            Multimodal.syntheticPngMedia(t(s, dir, "documents"), fixedW = 16, fixedH = 16),
            targetW = 8, targetH = 8))
        .orderBy("media_id")),
    "q_audio_activity" -> ((s, dir) =>
      // voice-activity segmentation: 20ms windows (160 samples @ 8 kHz)
      // over the decoded PCM, silence/active verdict in pure integers —
      // the oracle re-derives every window sum from the waveform formula
      Multimodal.audioActivity(Multimodal.syntheticWavMedia(t(s, dir, "documents")))
        .orderBy("media_id", "window_idx")),
    "q_audio_fingerprint" -> ((s, dir) =>
      // windowed-energy difference hash over the REAL PCM decode:
      // trailing silence trimmed, window size duration-PROPORTIONAL
      // (ceil(effLen/65), floor 16 samples) so the 64 bits tile the
      // WHOLE recording; every energy is an exact integer, so the
      // oracle replays every bit. Two 32-bit halves (bit-63 rule).
      Multimodal.audioFingerprint(
          Multimodal.syntheticWavMedia(t(s, dir, "documents"), textured = true))
        .select(col("media_id"), col("n_windows"),
          shiftrightunsigned(col("afp"), 32).as("fp_hi"),
          col("afp").bitwiseAND(lit(0xFFFFFFFFL)).as("fp_lo"))
        .orderBy("media_id")),
    "q_audio_neardup" -> ((s, dir) => {
      // planted gain×3 + 24-sample-trailing-silence re-encodes (ids
      // +60000) against the originals: the fingerprint is invariant to
      // both perturbations by construction (silence is trimmed before
      // the window size is chosen), so planted pairs land at hamming 0
      // with EQUAL window counts — pigeonhole segment join with the
      // n_windows length gate riding the bucket key + bit_count verify
      val base = Multimodal.syntheticWavMedia(t(s, dir, "documents"), textured = true)
      val copies = Multimodal.syntheticWavMedia(
        t(s, dir, "documents"), gain = 3, padSamples = 24, idOffset = 60000L,
        textured = true)
      Multimodal.audioNearDup(Multimodal.audioFingerprint(base.unionByName(copies)))
        .withColumn("hamming", col("hamming").cast("bigint"))
        .orderBy("id_a", "id_b")
    }),
    "q_audio_neardup_incremental" -> ((s, dir) => {
      // the recurring form: the re-encoded batch checks against the
      // STORED corpus fingerprint table — batch segment keys broadcast,
      // the stored side never shuffles; id_a = batch, id_b = stored
      val batch = Multimodal.syntheticWavMedia(
        t(s, dir, "documents"), gain = 3, padSamples = 24, idOffset = 60000L,
        textured = true)
      afpTable(s, dir).dedupBatch(batch)
        .withColumn("hamming", col("hamming").cast("bigint"))
        .orderBy("id_a", "id_b")
    }),
    "q_audio_clip_containment" -> ((s, dir) => {
      // clip-in-recording containment: gain×2 window-aligned clips
      // (windows [8, 40) of every original, ids +90000) against the
      // corpus — energy-sign gram equi-join, full-alignment count at
      // one offset; the audio rung of the substring-dedup ladder
      val corpus = Multimodal.syntheticWavMedia(t(s, dir, "documents"), textured = true)
      val clips = Multimodal.syntheticWavClip(t(s, dir, "documents"), gain = 2)
      Multimodal.audioClipContainment(clips, corpus)
        .orderBy("clip_id", "corpus_id", "offset_windows")
    }),
    "q_audio_clip_containment_hop" -> ((s, dir) => {
      // overlapping-hop containment (hop = ws/2 = 8): gain×2 clips cut
      // at sample 136 — HALF a window off the grid, invisible to the
      // aligned grams (OpsSpec pins the negative control) — land back
      // on the hop grid at offset 17 hops. Both sides gram at hop 8,
      // full windows only; 2× the gram rows buy half the alignment
      // blind spot (SCALING.md)
      val corpus = Multimodal.syntheticWavMedia(t(s, dir, "documents"), textured = true)
      val clips = Multimodal.syntheticWavClip(
        t(s, dir, "documents"), nWindows = 32, gain = 2, startSamples = 136)
      Multimodal.audioClipContainment(clips, corpus, hopSamples = 8)
        .orderBy("clip_id", "corpus_id", "offset_windows")
    }),
    "q_audio_containment_sweep" -> ((s, dir) => {
      // corpus-SELF containment sweep (r9 verdict #4): the corpus holds
      // originals AND their gain×2 re-cuts (windows [8, 40), ids
      // +90000) as peer recordings; one pass finds every shorter
      // recording contained in any longer one — length-ordered pairing,
      // gram self-join, full-alignment count
      val docs = t(s, dir, "documents")
      val corpus = Multimodal.syntheticWavMedia(docs, textured = true)
        .unionByName(Multimodal.syntheticWavClip(docs, gain = 2))
      Multimodal.audioContainmentSweep(corpus)
        .orderBy("id_short", "id_long", "offset_windows")
    }),
    "q_audio_clip_containment_stored" -> ((s, dir) => {
      // the stored-artifact form: the clip batch checks against the
      // durable AudioGramTableView (grams computed once at ingest) —
      // a physical rewrite of the one-shot, sharing its oracle
      val clips = Multimodal.syntheticWavClip(t(s, dir, "documents"), gain = 2)
      agramTable(s, dir).containsBatch(clips)
        .orderBy("clip_id", "corpus_id", "offset_windows")
    }),
    "q_retract_clip_reingest" -> ((s, dir) => {
      // media-family takedown proving the CONTAINMENT POSTINGS are
      // really gone — the clip sibling of q_retract_reingest: media
      // corpus → (seq-bucketed curated log, durable audio-gram table);
      // retract media_id % 10 == 3 through the intent-logged family
      // path (pruned log rewrite + gram-table retraction); then
      // containment-check gain×2 CLIPS of every % 5 == 3 parent against
      // the stored postings and re-ingest the survivors. A clip of a
      // RETRACTED parent finds no postings left to match (ingested); a
      // clip of a KEPT parent still aligns (dropped). Without the gram
      // rows in retractFeatures, the retracted clips would WRONGLY drop
      // against ghost postings — the half-state this query pins away.
      // Pre-lifecycle state (curated log + gram table) builds once per
      // process as an immutable TEMPLATE; each rep clones it byte-level
      // and runs the real takedown + clip re-ingest on the pristine
      // copy (r18 — the appends make reps non-idempotent, so the clone,
      // not a shared fixture, is what keeps the hash stable).
      val docs = t(s, dir, "documents")
      val media = Multimodal.syntheticWavMedia(docs, textured = true)
      val root = EntryHelpers.clonedFixture("graftmret", dir) { tpl =>
        val log = new ParquetLog(s, s"$tpl/log", Multimodal.mediaSchema, bucketSize = 128L)
        log.append(media)
        new graft.views.AudioGramTableView(s, s"$tpl/gram/v", 1).absorb(media, log.since)
      }
      val curLog = new ParquetLog(s, s"$root/log", Multimodal.mediaSchema, bucketSize = 128L)
      val agView = new graft.views.AudioGramTableView(s, s"$root/gram/v", 1)
      // id list stays a DataFrame end to end (no collected isin literal)
      graft.views.Retraction.retract(curLog, "media_id",
        media.where(col("media_id") % 10 === 3).select("media_id"),
        (ids: org.apache.spark.sql.DataFrame) => agView.retractIds(ids, "media_id"),
        java.nio.file.Paths.get(s"$root/intent", "_intent").toString)
      val clips = Multimodal.syntheticWavClip(docs.where(col("doc_id") % 5 === 3), gain = 2)
      val matched = agView.containsBatch(clips)
        .select(col("clip_id").as("media_id")).distinct()
      val survivors = clips.join(matched, Seq("media_id"), "left_anti").localCheckpoint(true)
      if (!survivors.isEmpty) curLog.append(survivors)
      val out = EntryHelpers.notePlan(curLog.read.agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("media_id") < 90000 && col("media_id") % 10 === 3, 1L).otherwise(0L))
          .as("retracted_left"),
        sum(when(col("media_id") >= 90000 && (col("media_id") - 90000) % 10 === 3, 1L).otherwise(0L))
          .as("reingest_of_retracted"),
        sum(when(col("media_id") >= 90000 && (col("media_id") - 90000) % 10 === 8, 1L).otherwise(0L))
          .as("reingest_of_kept")))
        .localCheckpoint(true)
      EntryHelpers.deleteTreeAsync(root)
      out
    }),
    "q_video_neardup" -> ((s, dir) => {
      // video near-dup: +5-brightness re-encodes (ids +120000) of the
      // textured multi-frame GIFs vs the originals — per-frame dHash,
      // frame-aligned pigeonhole candidates, EVERY frame pair must
      // verify within the hamming budget (same frame count required)
      val base = Multimodal.syntheticTextureGifMedia(t(s, dir, "documents"))
      val shifted = Multimodal.syntheticTextureGifMedia(
        t(s, dir, "documents"), shift = 5, idOffset = 120000L)
      Multimodal.videoNearDup(Multimodal.videoFrameHashes(base.unionByName(shifted)))
        .orderBy("id_a", "id_b")
    }),
    "q_video_neardup_incremental" -> ((s, dir) => {
      // the recurring form: the +5-brightness video batch checks
      // against the STORED per-frame hash table — batch (frame,
      // segment) keys broadcast, the stored side never shuffles;
      // id_a = batch id, id_b = the stored original it matches
      val batch = Multimodal.syntheticTextureGifMedia(
        t(s, dir, "documents"), shift = 5, idOffset = 120000L)
      fhashTable(s, dir).dedupBatch(batch)
        .orderBy("id_a", "id_b")
    }),
    "q_video_clip_containment" -> ((s, dir) => {
      // clip-in-video containment: +5-brightness re-cuts (frames [1, 3)
      // of every original, ids +150000) found inside the corpus at
      // frame offset 1 — pigeonhole candidates WITHOUT frame alignment,
      // per-frame-pair hamming verify, full-run count at one offset
      val corpus = Multimodal.videoFrameHashes(
        Multimodal.syntheticTextureGifMedia(t(s, dir, "documents")))
      val clips = Multimodal.videoFrameHashes(
        Multimodal.syntheticTextureGifClip(t(s, dir, "documents"), shift = 5))
      Multimodal.videoClipContainment(clips, corpus)
        .orderBy("clip_id", "corpus_id", "offset_frames")
    }),
    "q_video_containment_sweep" -> ((s, dir) => {
      // corpus-SELF video containment sweep: originals AND their exact
      // 2-frame re-cuts (frames [1, 3), ids +150000) as PEER videos in
      // one corpus; one pass pairs each re-cut with its longer parent —
      // frame-count-ordered pairing, unaligned pigeonhole candidates,
      // per-frame-pair verify, full-run count
      val docs = t(s, dir, "documents")
      val corpus = Multimodal.syntheticTextureGifMedia(docs)
        .unionByName(Multimodal.syntheticTextureGifClip(docs))
      Multimodal.videoContainmentSweep(Multimodal.videoFrameHashes(corpus))
        .orderBy("id_short", "id_long", "offset_frames")
    }),
    "q_image_phash" -> ((s, dir) =>
      // dHash over the REAL decode of the textured PNG fixture; emitted
      // as two 32-bit halves (both engines overflow assembling bit 63)
      Multimodal.perceptualHash(
          Multimodal.syntheticTexturePngMedia(t(s, dir, "documents")))
        .select(col("media_id"),
          shiftrightunsigned(col("phash"), 32).as("ph_hi"),
          col("phash").bitwiseAND(lit(0xFFFFFFFFL)).as("ph_lo"))
        .orderBy("media_id")),
    "q_image_phash_neardup" -> ((s, dir) => {
      // planted brightness-shifted copies (+5 mod 256, ids +30000)
      // against the originals: pigeonhole segment join + bit_count
      // verify — exact at these SFs (no segment bucket nears the cap)
      val base = Multimodal.syntheticTexturePngMedia(t(s, dir, "documents"))
      val shifted = Multimodal.syntheticTexturePngMedia(
        t(s, dir, "documents"), shift = 5, idOffset = 30000L)
      Multimodal.perceptualNearDup(
          Multimodal.perceptualHash(base.unionByName(shifted)))
        .withColumn("hamming", col("hamming").cast("bigint"))
        .orderBy("id_a", "id_b")
    }),
    "q_image_phash_incremental" -> ((s, dir) => {
      // the recurring form: the +5-brightness image batch checks
      // against the STORED corpus phash table — batch segment keys
      // broadcast, the stored side never shuffles; id_a = batch id,
      // id_b = the stored original it collides with
      val batch = Multimodal.syntheticTexturePngMedia(
        t(s, dir, "documents"), shift = 5, idOffset = 30000L)
      phashTable(s, dir).dedupBatch(batch)
        .withColumn("hamming", col("hamming").cast("bigint"))
        .orderBy("id_a", "id_b")
    }),
    "q_audio_decode" -> ((s, dir) =>
      // the AUDIO codec end-to-end: deterministic 16-bit PCM waveforms
      // are WAVE-encoded with the JDK writer, decoded back with
      // javax.sound.sampled in the partition-batched shape, and the
      // oracle recomputes the exact integer sample stats from the
      // waveform formula (PCM is lossless)
      Multimodal.audioStats(Multimodal.syntheticWavMedia(t(s, dir, "documents")))
        .orderBy("media_id")),
    "q_frame_sample" -> ((s, dir) =>
      // fully oracle-backed: the fixture text is ASCII, so byte-chunking
      // the binary payload == char-chunking the text in DuckDB, and md5
      // digests compare byte-for-byte
      Multimodal.sampleFrames(Multimodal.syntheticMedia(t(s, dir, "documents")))
        .select(col("media_id"), col("frame_idx").cast("bigint").as("frame_idx"), col("frame_md5"))
        .orderBy("media_id", "frame_idx")),
    "q_image_dedup" -> ((s, dir) =>
      // cross-codec pixel dedup: pairs (2j, 2j+1) carry identical pixels
      // as PNG vs BMP — byte-level dedup can't pair them, decoded-pixel
      // hashing must. Image identity is j mod 256 (the fixture formula's
      // period), which the oracle replays arithmetically.
      Multimodal.pixelDedup(Multimodal.syntheticMixedCodecMedia(t(s, dir, "documents")))
        .orderBy("keep_id")),
    "q_video_frames" -> ((s, dir) =>
      // REAL multi-frame container round trip: animated GIFs encoded by
      // the JDK writer, decoded frame-by-frame via the ImageReader
      // sequence API; gray palette is lossless so the oracle re-derives
      // every frame's exact pixel sum from the generator formula
      Multimodal.frameStats(Multimodal.syntheticGifMedia(t(s, dir, "documents")))
        .orderBy("media_id", "frame_idx")),
  )

  // shared by q_audio_clip_containment and its stored form (a physical
  // rewrite): mixer energies for corpus AND the gain×2 sample-shifted
  // clips, sign strings via string_agg, every positional 24-gram, the
  // >256 hot drop, gram equi-join, full-alignment count at one offset
  private val clipContainmentSql: String =
    "WITH ids AS (SELECT doc_id AS media_id, 800 + doc_id % 400 AS n FROM documents WHERE doc_id % 3 = 2), " +
      "w AS (SELECT media_id, n, unnest(generate_series(0, (n + 15) // 16 - 1)) AS wi FROM ids), " +
      "sm AS (SELECT media_id, wi, (media_id * 31 + 17 * unnest(generate_series(wi * 16, least(wi * 16 + 15, n - 1)))) * 2654435761 AS m FROM w), " +
      "e AS MATERIALIZED (SELECT media_id, wi, sum(abs(xor(xor(m, m // 32768), m // 1073741824) % 2003 - 1001)) AS en FROM sm GROUP BY 1, 2), " +
      "bits AS (SELECT a.media_id, a.wi AS k, CASE WHEN b.en > a.en THEN '1' ELSE '0' END AS bit " +
      "FROM e a JOIN e b ON a.media_id = b.media_id AND b.wi = a.wi + 1), " +
      "sgn AS (SELECT media_id, string_agg(bit, '' ORDER BY k) AS s FROM bits GROUP BY 1), " +
      "cg AS MATERIALIZED (SELECT media_id AS corpus_id, unnest(generate_series(0, length(s) - 24)) AS cpos, s FROM sgn), " +
      "cg2 AS MATERIALIZED (SELECT corpus_id, cpos, substr(s, CAST(cpos + 1 AS INTEGER), 24) AS gram FROM cg), " +
      "hot AS (SELECT gram FROM cg2 GROUP BY 1 HAVING count(*) > 256), " +
      "kept AS (SELECT * FROM cg2 ANTI JOIN hot USING (gram)), " +
      "kid AS (SELECT doc_id + 90000 AS clip_id, doc_id AS oid FROM documents WHERE doc_id % 3 = 2), " +
      "kw AS (SELECT clip_id, oid, unnest(generate_series(0, 31)) AS wi FROM kid), " +
      "ksm AS (SELECT clip_id, wi, (oid * 31 + 17 * (unnest(generate_series(wi * 16, wi * 16 + 15)) + 128)) * 2654435761 AS m FROM kw), " +
      "ke AS MATERIALIZED (SELECT clip_id, wi, sum(2 * abs(xor(xor(m, m // 32768), m // 1073741824) % 2003 - 1001)) AS en FROM ksm GROUP BY 1, 2), " +
      "kbits AS (SELECT a.clip_id, a.wi AS k, CASE WHEN b.en > a.en THEN '1' ELSE '0' END AS bit " +
      "FROM ke a JOIN ke b ON a.clip_id = b.clip_id AND b.wi = a.wi + 1), " +
      "ksgn AS (SELECT clip_id, string_agg(bit, '' ORDER BY k) AS s FROM kbits GROUP BY 1), " +
      "kg AS MATERIALIZED (SELECT clip_id, unnest(generate_series(0, length(s) - 24)) AS kpos, s FROM ksgn), " +
      "kg2 AS MATERIALIZED (SELECT clip_id, kpos, substr(s, CAST(kpos + 1 AS INTEGER), 24) AS gram FROM kg), " +
      "tot AS (SELECT clip_id, count(*) AS t FROM kg2 GROUP BY 1), " +
      "j AS (SELECT clip_id, corpus_id, cpos - kpos AS offset_windows, count(*) AS n_grams FROM kg2 JOIN kept USING (gram) GROUP BY 1, 2, 3) " +
      "SELECT clip_id, corpus_id, offset_windows::BIGINT AS offset_windows, n_grams::BIGINT AS n_grams " +
      "FROM j JOIN tot USING (clip_id) WHERE n_grams = t AND offset_windows >= 0 ORDER BY clip_id, corpus_id, offset_windows"

  // shared fingerprint replay for the near-dup family: mixer samples
  // for originals AND the gain×3/+24-silence copies, trailing-silence
  // trim (effn = last nonzero sample + 1), duration-proportional window
  // size (ceil(effn/65), floor 16), exact integer window energies,
  // difference bits, two 32-bit halves, and the (n_windows, segment,
  // value) pigeonhole segments the length-gated candidate join keys on
  private[graft] val audioFpCtes: String =
    "ids AS (SELECT doc_id AS media_id, doc_id AS oid, 1 AS g, 800 + doc_id % 400 AS no, 800 + doc_id % 400 AS n FROM documents WHERE doc_id % 3 = 2 " +
      "UNION ALL SELECT doc_id + 60000, doc_id, 3, 800 + doc_id % 400, 800 + doc_id % 400 + 24 FROM documents WHERE doc_id % 3 = 2), " +
      "si AS (SELECT media_id, oid, g, no, unnest(generate_series(0, n - 1)) AS i FROM ids), " +
      "sv AS MATERIALIZED (SELECT media_id, i, CASE WHEN i < no THEN g * (xor(xor(m, m // 32768), m // 1073741824) % 2003 - 1001) ELSE 0 END AS v " +
      "FROM (SELECT media_id, i, no, g, (oid * 31 + 17 * i) * 2654435761 AS m FROM si)), " +
      "wsz AS MATERIALIZED (SELECT media_id, max(CASE WHEN v != 0 THEN i + 1 ELSE 0 END) AS effn, " +
      "greatest(16, (max(CASE WHEN v != 0 THEN i + 1 ELSE 0 END) + 64) // 65) AS ws FROM sv GROUP BY 1), " +
      "e AS MATERIALIZED (SELECT s.media_id, s.i // w.ws AS wi, sum(abs(s.v)) AS en FROM sv s JOIN wsz w USING (media_id) WHERE s.i < w.effn GROUP BY 1, 2), " +
      "bits AS (SELECT a.media_id, a.wi AS k, CASE WHEN b.en > a.en THEN 1::BIGINT ELSE 0::BIGINT END AS bit " +
      "FROM e a JOIN e b ON a.media_id = b.media_id AND b.wi = a.wi + 1 WHERE a.wi < 64), " +
      "fp AS MATERIALIZED (SELECT w.media_id, ((w.effn + w.ws - 1) // w.ws)::BIGINT AS nw, " +
      "coalesce(sum(CASE WHEN k >= 32 THEN bit * (1::BIGINT << (k - 32)) ELSE 0 END), 0)::BIGINT AS hi, " +
      "coalesce(sum(CASE WHEN k < 32 THEN bit * (1::BIGINT << k) ELSE 0 END), 0)::BIGINT AS lo " +
      "FROM wsz w LEFT JOIN bits b ON b.media_id = w.media_id GROUP BY 1, 2), " +
      "seg AS MATERIALIZED (SELECT media_id, nw, s, CASE WHEN s < 4 THEN (lo // (1::BIGINT << (8 * s))) % 256 ELSE (hi // (1::BIGINT << (8 * (s - 4)))) % 256 END AS segval " +
      "FROM fp, (SELECT unnest(generate_series(0, 7)) AS s))"

  def oracles: Map[String, String] = Map(
    "q_multimodal_resize" ->
      // nearest-neighbor 1-D resample replayed over the ASCII text:
      // out[i] = byte[(i*len)//256], 0-based -> substring 1-based
      ("SELECT doc_id AS media_id, 16::BIGINT AS w, 16::BIGINT AS h, 256::BIGINT AS n_bytes, " +
        "md5(array_to_string(list_transform(range(0, 256), i -> substring(text, 1 + CAST((i * length(text)) // 256 AS INT), 1)), '')) AS content_md5 " +
        "FROM documents WHERE doc_id % 3 = 0 ORDER BY media_id"),
    "q_multimodal_embed" ->
      // The stub decoder replayed declaratively: Java's wrap-around
      // 64-bit arithmetic (h = 31h + byte; m = h ^ (h >>> 17);
      // v_j = m * (2654435761 j + 1); feat = (v_j % 1000) / 1000f) is
      // emulated in HUGEINT mod 2^64 — unsigned/signed reinterpretation
      // at the xor and the final truncated %, float division at the end.
      // ASCII fixture ⇒ ord(char) == payload byte.
      ("WITH codes AS (SELECT doc_id, list_transform(range(1, length(text)+1), i -> ord(text[i])::HUGEINT) AS cs FROM documents), " +
        "hu AS (SELECT doc_id, list_reduce(list_prepend(1125899906842597::HUGEINT, cs), (acc, b) -> (31*acc + b) % 18446744073709551616::HUGEINT) AS h FROM codes), " +
        "hs AS (SELECT doc_id, (CASE WHEN h >= 9223372036854775808::HUGEINT THEN h - 18446744073709551616::HUGEINT ELSE h END)::BIGINT AS h_signed, (h // 131072)::BIGINT AS h_shift17 FROM hu), " +
        "m AS (SELECT doc_id, (CASE WHEN xor(h_signed, h_shift17) < 0 THEN xor(h_signed, h_shift17)::HUGEINT + 18446744073709551616::HUGEINT ELSE xor(h_signed, h_shift17)::HUGEINT END) AS m_u FROM hs), " +
        "f AS (SELECT doc_id, j, round((((CASE WHEN vu >= 9223372036854775808::HUGEINT THEN vu - 18446744073709551616::HUGEINT ELSE vu END)::BIGINT % 1000)::FLOAT / 1000.0::FLOAT)::DOUBLE, 4) AS feat " +
        "FROM (SELECT doc_id, j, (m_u * (j*2654435761::HUGEINT + 1)) % 18446744073709551616::HUGEINT AS vu FROM m, unnest([0,7,15]) AS t(j))) " +
        "SELECT doc_id AS media_id, max(CASE WHEN j = 0 THEN feat END) AS feat0, max(CASE WHEN j = 7 THEN feat END) AS feat7, max(CASE WHEN j = 15 THEN feat END) AS feat15 " +
        "FROM f GROUP BY doc_id ORDER BY media_id"),
    "q_multimodal_features" ->
      ("SELECT doc_id AS media_id, CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS modality, " +
        "octet_length(encode(text))::BIGINT AS n_bytes FROM documents ORDER BY media_id"),
    "q_image_decode" ->
      ("WITH ids AS (SELECT doc_id AS media_id, 16 + doc_id % 16 AS w, 16 + doc_id % 8 AS h FROM documents WHERE doc_id % 3 = 0) " +
        "SELECT media_id, w::BIGINT AS width, h::BIGINT AS height, (w * h)::BIGINT AS n_pixels, " +
        "list_sum(flatten(list_transform(generate_series(0, h - 1), yy -> list_transform(generate_series(0, w - 1), xx -> (media_id * 31 + 7 * xx + 13 * yy) % 256))))::BIGINT AS sum_lum " +
        "FROM ids ORDER BY media_id"),
    "q_image_jpeg" ->
      ("WITH ids AS (SELECT doc_id AS media_id, 16 + doc_id % 16 AS w, 16 + doc_id % 8 AS h FROM documents WHERE doc_id % 3 = 1) " +
        "SELECT media_id, w::BIGINT AS width, h::BIGINT AS height, (w * h)::BIGINT AS n_pixels FROM ids ORDER BY media_id"),
    "q_image_resize" ->
      // bilinear at exactly 2x = integer 4-neighbor average of the
      // generator pixels: (p(2x,2y)+p(2x+1,2y)+p(2x,2y+1)+p(2x+1,2y+1)+2)//4
      ("WITH ids AS (SELECT doc_id AS media_id FROM documents WHERE doc_id % 3 = 0) " +
        "SELECT media_id, 8::BIGINT AS width, 8::BIGINT AS height, 64::BIGINT AS n_pixels, " +
        "list_sum(flatten(list_transform(generate_series(0, 7), yy -> list_transform(generate_series(0, 7), xx -> " +
        "((media_id * 31 + 7 * (2 * xx) + 13 * (2 * yy)) % 256 + (media_id * 31 + 7 * (2 * xx + 1) + 13 * (2 * yy)) % 256 + " +
        "(media_id * 31 + 7 * (2 * xx) + 13 * (2 * yy + 1)) % 256 + (media_id * 31 + 7 * (2 * xx + 1) + 13 * (2 * yy + 1)) % 256 + 2) // 4))))::BIGINT AS sum_lum " +
        "FROM ids ORDER BY media_id"),
    "q_audio_activity" ->
      ("WITH ids AS (SELECT doc_id AS media_id, 800 + doc_id % 400 AS n FROM documents WHERE doc_id % 3 = 2), " +
        "w AS (SELECT media_id, n, unnest(generate_series(0, (n + 159) // 160 - 1)) AS window_idx FROM ids), " +
        "s AS (SELECT media_id, window_idx, least(160, n - window_idx * 160) AS n_in_window, " +
        "list_sum(list_transform(generate_series(window_idx * 160, least(window_idx * 160 + 159, n - 1)), i -> abs((media_id * 31 + 17 * i) % 2003 - 1001))) AS sum_abs FROM w) " +
        "SELECT media_id, window_idx::BIGINT AS window_idx, n_in_window::BIGINT AS n_in_window, sum_abs::BIGINT AS sum_abs, " +
        "(sum_abs > 600 * n_in_window) AS active FROM s ORDER BY media_id, window_idx"),
    "q_audio_fingerprint" ->
      // PCM is lossless, so the decoded stream IS the mixer formula and
      // every fingerprint bit re-derives in integers: trailing-silence
      // trim, duration-proportional window size (ceil(effn/65), floor
      // 16), window energies of |mixer % 2003 - 1001|, next-window
      // comparison, two 32-bit halves
      ("WITH ids AS (SELECT doc_id AS media_id, 800 + doc_id % 400 AS n FROM documents WHERE doc_id % 3 = 2), " +
        "si AS (SELECT media_id, unnest(generate_series(0, n - 1)) AS i FROM ids), " +
        "sv AS MATERIALIZED (SELECT media_id, i, xor(xor(m, m // 32768), m // 1073741824) % 2003 - 1001 AS v " +
        "FROM (SELECT media_id, i, (media_id * 31 + 17 * i) * 2654435761 AS m FROM si)), " +
        "wsz AS MATERIALIZED (SELECT media_id, max(CASE WHEN v != 0 THEN i + 1 ELSE 0 END) AS effn, " +
        "greatest(16, (max(CASE WHEN v != 0 THEN i + 1 ELSE 0 END) + 64) // 65) AS ws FROM sv GROUP BY 1), " +
        "e AS MATERIALIZED (SELECT s.media_id, s.i // w.ws AS wi, sum(abs(s.v)) AS en FROM sv s JOIN wsz w USING (media_id) WHERE s.i < w.effn GROUP BY 1, 2), " +
        "bits AS (SELECT a.media_id, a.wi AS k, CASE WHEN b.en > a.en THEN 1::BIGINT ELSE 0::BIGINT END AS bit " +
        "FROM e a JOIN e b ON a.media_id = b.media_id AND b.wi = a.wi + 1 WHERE a.wi < 64) " +
        "SELECT w.media_id, ((w.effn + w.ws - 1) // w.ws)::BIGINT AS n_windows, " +
        "coalesce(sum(CASE WHEN k >= 32 THEN bit * (1::BIGINT << (k - 32)) ELSE 0 END), 0)::BIGINT AS fp_hi, " +
        "coalesce(sum(CASE WHEN k < 32 THEN bit * (1::BIGINT << k) ELSE 0 END), 0)::BIGINT AS fp_lo " +
        "FROM wsz w LEFT JOIN bits b ON b.media_id = w.media_id GROUP BY 1, 2 ORDER BY w.media_id"),
    "q_audio_neardup" ->
      // the full near-dup replay: whole-signal formula fingerprints for
      // originals AND the gain×3/+24-silence copies (gain scales |s|
      // exactly; the trim removes the pad before the window size is
      // chosen), the (n_windows, segment, value) pigeonhole keys, the
      // >maxBucket drop, length-gated candidate join, bit_count verify
      ("WITH " + audioFpCtes + ", " +
        "hot AS (SELECT nw, s, segval FROM seg GROUP BY 1, 2, 3 HAVING count(*) > 256), " +
        "kept AS (SELECT * FROM seg ANTI JOIN hot USING (nw, s, segval)), " +
        "cand AS (SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b, a.nw AS nw FROM kept a JOIN kept b ON a.nw = b.nw AND a.s = b.s AND a.segval = b.segval AND a.media_id < b.media_id) " +
        "SELECT id_a, id_b, cand.nw AS n_windows, (bit_count(xor(pa.hi, pb.hi)) + bit_count(xor(pa.lo, pb.lo)))::BIGINT AS hamming " +
        "FROM cand JOIN fp pa ON pa.media_id = id_a JOIN fp pb ON pb.media_id = id_b " +
        "WHERE bit_count(xor(pa.hi, pb.hi)) + bit_count(xor(pa.lo, pb.lo)) <= 7 ORDER BY id_a, id_b"),
    "q_audio_neardup_incremental" ->
      // the incremental replay: whole-signal fingerprints for both
      // sides, the batch side's (>= 60000) kept (n_windows, segment,
      // value) keys select the stored side's matches (per-side
      // >maxBucket drops, mirroring the operator), candidates cross
      // new x stored within equal window counts, bit_count verify
      ("WITH " + audioFpCtes + ", " +
        "hotn AS (SELECT nw, s, segval FROM seg WHERE media_id >= 60000 GROUP BY 1, 2, 3 HAVING count(*) > 256), " +
        "kn AS (SELECT * FROM (SELECT * FROM seg WHERE media_id >= 60000) ANTI JOIN hotn USING (nw, s, segval)), " +
        "nk AS (SELECT DISTINCT nw, s, segval FROM kn), " +
        "mt AS MATERIALIZED (SELECT * FROM (SELECT * FROM seg WHERE media_id < 60000) SEMI JOIN nk USING (nw, s, segval)), " +
        "hotb AS (SELECT nw, s, segval FROM mt GROUP BY 1, 2, 3 HAVING count(*) > 256), " +
        "mk AS (SELECT * FROM mt ANTI JOIN hotb USING (nw, s, segval)), " +
        "cand AS (SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b, a.nw AS nw FROM kn a JOIN mk b ON a.nw = b.nw AND a.s = b.s AND a.segval = b.segval) " +
        "SELECT id_a, id_b, cand.nw AS n_windows, (bit_count(xor(pa.hi, pb.hi)) + bit_count(xor(pa.lo, pb.lo)))::BIGINT AS hamming " +
        "FROM cand JOIN fp pa ON pa.media_id = id_a JOIN fp pb ON pb.media_id = id_b " +
        "WHERE bit_count(xor(pa.hi, pb.hi)) + bit_count(xor(pa.lo, pb.lo)) <= 7 ORDER BY id_a, id_b"),
    // the full containment replay: mixer energies for corpus AND the
    // gain×2 sample-shifted clips, sign strings via string_agg, every
    // 24-gram with its position, the >256 hot drop, gram equi-join,
    // full-alignment count at one offset; the STORED form is a physical
    // rewrite (grams from the durable table) and shares the oracle
    "q_audio_clip_containment" -> clipContainmentSql,
    "q_audio_clip_containment_stored" -> clipContainmentSql,
    // the takedown replay: the SAME containment pipeline, with the
    // corpus grams restricted to the KEPT media (doc_id % 10 <> 3 — the
    // retraction physically removed the rest) and the clip batch to the
    // % 5 == 3 parents; unmatched clips re-ingest beside the kept media
    "q_retract_clip_reingest" ->
      ("WITH ids AS (SELECT doc_id AS media_id, 800 + doc_id % 400 AS n FROM documents WHERE doc_id % 3 = 2 AND doc_id % 10 <> 3), " +
        "w AS (SELECT media_id, n, unnest(generate_series(0, (n + 15) // 16 - 1)) AS wi FROM ids), " +
        "sm AS (SELECT media_id, wi, (media_id * 31 + 17 * unnest(generate_series(wi * 16, least(wi * 16 + 15, n - 1)))) * 2654435761 AS m FROM w), " +
        "e AS MATERIALIZED (SELECT media_id, wi, sum(abs(xor(xor(m, m // 32768), m // 1073741824) % 2003 - 1001)) AS en FROM sm GROUP BY 1, 2), " +
        "bits AS (SELECT a.media_id, a.wi AS k, CASE WHEN b.en > a.en THEN '1' ELSE '0' END AS bit " +
        "FROM e a JOIN e b ON a.media_id = b.media_id AND b.wi = a.wi + 1), " +
        "sgn AS (SELECT media_id, string_agg(bit, '' ORDER BY k) AS s FROM bits GROUP BY 1), " +
        "cg AS MATERIALIZED (SELECT media_id AS corpus_id, unnest(generate_series(0, length(s) - 24)) AS cpos, s FROM sgn), " +
        "cg2 AS MATERIALIZED (SELECT corpus_id, cpos, substr(s, CAST(cpos + 1 AS INTEGER), 24) AS gram FROM cg), " +
        "hot AS (SELECT gram FROM cg2 GROUP BY 1 HAVING count(*) > 256), " +
        "kept AS (SELECT * FROM cg2 ANTI JOIN hot USING (gram)), " +
        "kid AS (SELECT doc_id + 90000 AS clip_id, doc_id AS oid FROM documents WHERE doc_id % 3 = 2 AND doc_id % 5 = 3), " +
        "kw AS (SELECT clip_id, oid, unnest(generate_series(0, 31)) AS wi FROM kid), " +
        "ksm AS (SELECT clip_id, wi, (oid * 31 + 17 * (unnest(generate_series(wi * 16, wi * 16 + 15)) + 128)) * 2654435761 AS m FROM kw), " +
        "ke AS MATERIALIZED (SELECT clip_id, wi, sum(2 * abs(xor(xor(m, m // 32768), m // 1073741824) % 2003 - 1001)) AS en FROM ksm GROUP BY 1, 2), " +
        "kbits AS (SELECT a.clip_id, a.wi AS k, CASE WHEN b.en > a.en THEN '1' ELSE '0' END AS bit " +
        "FROM ke a JOIN ke b ON a.clip_id = b.clip_id AND b.wi = a.wi + 1), " +
        "ksgn AS (SELECT clip_id, string_agg(bit, '' ORDER BY k) AS s FROM kbits GROUP BY 1), " +
        "kg AS MATERIALIZED (SELECT clip_id, unnest(generate_series(0, length(s) - 24)) AS kpos, s FROM ksgn), " +
        "kg2 AS MATERIALIZED (SELECT clip_id, kpos, substr(s, CAST(kpos + 1 AS INTEGER), 24) AS gram FROM kg), " +
        "tot AS (SELECT clip_id, count(*) AS t FROM kg2 GROUP BY 1), " +
        "j AS (SELECT clip_id, corpus_id, cpos - kpos AS offset_windows, count(*) AS n_grams FROM kg2 JOIN kept USING (gram) GROUP BY 1, 2, 3), " +
        "m AS (SELECT DISTINCT clip_id FROM j JOIN tot USING (clip_id) WHERE n_grams = t AND offset_windows >= 0), " +
        "surv AS (SELECT clip_id, oid FROM kid ANTI JOIN m USING (clip_id)) " +
        "SELECT ((SELECT count(*) FROM ids) + (SELECT count(*) FROM surv))::BIGINT AS n_rows, " +
        "0::BIGINT AS retracted_left, " +
        "(SELECT count(*) FROM surv WHERE oid % 10 = 3)::BIGINT AS reingest_of_retracted, " +
        "(SELECT count(*) FROM surv WHERE oid % 10 = 8)::BIGINT AS reingest_of_kept"),
    "q_audio_clip_containment_hop" ->
      // the hop = 8 replay: corpus windows OVERLAP at [wi*8, wi*8+16)
      // (full windows only — wi <= (n-16)//8); the clip (512 samples at
      // parent offset 136, gain x2) grams on the same hop grid. Same
      // sign-string/gram/hot-drop/full-alignment pipeline as the
      // aligned oracle, on the denser grid.
      ("WITH ids AS (SELECT doc_id AS media_id, 800 + doc_id % 400 AS n FROM documents WHERE doc_id % 3 = 2), " +
        "w AS (SELECT media_id, n, unnest(generate_series(0, (n - 16) // 8)) AS wi FROM ids), " +
        "sm AS (SELECT media_id, wi, (media_id * 31 + 17 * unnest(generate_series(wi * 8, wi * 8 + 15))) * 2654435761 AS m FROM w), " +
        "e AS MATERIALIZED (SELECT media_id, wi, sum(abs(xor(xor(m, m // 32768), m // 1073741824) % 2003 - 1001)) AS en FROM sm GROUP BY 1, 2), " +
        "bits AS (SELECT a.media_id, a.wi AS k, CASE WHEN b.en > a.en THEN '1' ELSE '0' END AS bit " +
        "FROM e a JOIN e b ON a.media_id = b.media_id AND b.wi = a.wi + 1), " +
        "sgn AS (SELECT media_id, string_agg(bit, '' ORDER BY k) AS s FROM bits GROUP BY 1), " +
        "cg AS MATERIALIZED (SELECT media_id AS corpus_id, unnest(generate_series(0, length(s) - 24)) AS cpos, s FROM sgn), " +
        "cg2 AS MATERIALIZED (SELECT corpus_id, cpos, substr(s, CAST(cpos + 1 AS INTEGER), 24) AS gram FROM cg), " +
        "hot AS (SELECT gram FROM cg2 GROUP BY 1 HAVING count(*) > 256), " +
        "kept AS (SELECT * FROM cg2 ANTI JOIN hot USING (gram)), " +
        "kid AS (SELECT doc_id + 90000 AS clip_id, doc_id AS oid FROM documents WHERE doc_id % 3 = 2), " +
        "kw AS (SELECT clip_id, oid, unnest(generate_series(0, 62)) AS wi FROM kid), " +
        "ksm AS (SELECT clip_id, wi, (oid * 31 + 17 * (unnest(generate_series(wi * 8, wi * 8 + 15)) + 136)) * 2654435761 AS m FROM kw), " +
        "ke AS MATERIALIZED (SELECT clip_id, wi, sum(2 * abs(xor(xor(m, m // 32768), m // 1073741824) % 2003 - 1001)) AS en FROM ksm GROUP BY 1, 2), " +
        "kbits AS (SELECT a.clip_id, a.wi AS k, CASE WHEN b.en > a.en THEN '1' ELSE '0' END AS bit " +
        "FROM ke a JOIN ke b ON a.clip_id = b.clip_id AND b.wi = a.wi + 1), " +
        "ksgn AS (SELECT clip_id, string_agg(bit, '' ORDER BY k) AS s FROM kbits GROUP BY 1), " +
        "kg AS MATERIALIZED (SELECT clip_id, unnest(generate_series(0, length(s) - 24)) AS kpos, s FROM ksgn), " +
        "kg2 AS MATERIALIZED (SELECT clip_id, kpos, substr(s, CAST(kpos + 1 AS INTEGER), 24) AS gram FROM kg), " +
        "tot AS (SELECT clip_id, count(*) AS t FROM kg2 GROUP BY 1), " +
        "j AS (SELECT clip_id, corpus_id, cpos - kpos AS offset_windows, count(*) AS n_grams FROM kg2 JOIN kept USING (gram) GROUP BY 1, 2, 3) " +
        "SELECT clip_id, corpus_id, offset_windows::BIGINT AS offset_windows, n_grams::BIGINT AS n_grams " +
        "FROM j JOIN tot USING (clip_id) WHERE n_grams = t AND offset_windows >= 0 ORDER BY clip_id, corpus_id, offset_windows"),
    "q_audio_containment_sweep" ->
      // the corpus-self replay: one gram CTE over originals (g=1,
      // offset 0, n = 800 + id % 400) AND re-cuts (g=2, sample offset
      // 128, n = 512) as peer recordings; sign strings, every 24-gram,
      // hot drop, gram SELF-join, full-alignment count, length-ordered
      // (gram-total, id) pairing rule
      ("WITH ids AS (SELECT doc_id AS media_id, doc_id AS oid, 1 AS g, 0 AS s0, 800 + doc_id % 400 AS n FROM documents WHERE doc_id % 3 = 2 " +
        "UNION ALL SELECT doc_id + 90000, doc_id, 2, 128, 512 FROM documents WHERE doc_id % 3 = 2), " +
        "w AS (SELECT media_id, oid, g, s0, n, unnest(generate_series(0, (n + 15) // 16 - 1)) AS wi FROM ids), " +
        "sm AS (SELECT media_id, wi, g, (oid * 31 + 17 * (unnest(generate_series(wi * 16, least(wi * 16 + 15, n - 1))) + s0)) * 2654435761 AS m FROM w), " +
        "e AS MATERIALIZED (SELECT media_id, wi, sum(g * abs(xor(xor(m, m // 32768), m // 1073741824) % 2003 - 1001)) AS en FROM sm GROUP BY 1, 2), " +
        "bits AS (SELECT a.media_id, a.wi AS k, CASE WHEN b.en > a.en THEN '1' ELSE '0' END AS bit " +
        "FROM e a JOIN e b ON a.media_id = b.media_id AND b.wi = a.wi + 1), " +
        "sgn AS (SELECT media_id, string_agg(bit, '' ORDER BY k) AS s FROM bits GROUP BY 1), " +
        "gr AS (SELECT media_id, unnest(generate_series(0, length(s) - 24)) AS pos, s FROM sgn), " +
        "gr2 AS MATERIALIZED (SELECT media_id, pos, substr(s, CAST(pos + 1 AS INTEGER), 24) AS gram FROM gr), " +
        "tot AS MATERIALIZED (SELECT media_id, count(*) AS t FROM gr2 GROUP BY 1), " +
        "hot AS (SELECT gram FROM gr2 GROUP BY 1 HAVING count(*) > 256), " +
        "kept AS (SELECT * FROM gr2 ANTI JOIN hot USING (gram)), " +
        "j AS (SELECT a.media_id AS id_short, b.media_id AS id_long, b.pos - a.pos AS offset_windows, count(*) AS n_grams " +
        "FROM kept a JOIN kept b USING (gram) WHERE a.media_id != b.media_id GROUP BY 1, 2, 3) " +
        "SELECT id_short, id_long, offset_windows::BIGINT AS offset_windows, n_grams::BIGINT AS n_grams " +
        "FROM j JOIN tot ta ON ta.media_id = id_short JOIN tot tb ON tb.media_id = id_long " +
        "WHERE n_grams = ta.t AND offset_windows >= 0 AND (ta.t < tb.t OR (ta.t = tb.t AND id_short < id_long)) " +
        "ORDER BY id_short, id_long, offset_windows"),
    "q_video_neardup" ->
      // the full video replay: per-frame mixer dHashes for originals
      // AND the +5-brightness copies, frame-aligned 8x8-bit pigeonhole
      // segments, per-(frame, segment) hot drop, per-frame bit_count
      // verify, full-frame-count gate with equal frame counts
      ("WITH ids AS (SELECT doc_id AS media_id, doc_id AS oid, 0 AS sh, 16 + doc_id % 16 AS w, 16 + doc_id % 8 AS h, 3 + doc_id % 3 AS nf FROM documents WHERE doc_id % 3 = 2 " +
        "UNION ALL SELECT doc_id + 120000, doc_id, 5, 16 + doc_id % 16, 16 + doc_id % 8, 3 + doc_id % 3 FROM documents WHERE doc_id % 3 = 2), " +
        "fr AS (SELECT media_id, oid, sh, w, h, unnest(generate_series(0, nf - 1)) AS f FROM ids), " +
        "args AS (SELECT media_id, sh, f, k, " +
        "(oid * 31 + 7 * (((k % 8) * w) // 9) + 13 * (((k // 8) * h) // 8) + 29 * f) * 2654435761 AS ma, " +
        "(oid * 31 + 7 * ((((k % 8) + 1) * w) // 9) + 13 * (((k // 8) * h) // 8) + 29 * f) * 2654435761 AS mb " +
        "FROM fr, (SELECT unnest(generate_series(0, 63)) AS k)), " +
        "bits AS (SELECT media_id, f, k, CASE WHEN (xor(xor(mb, mb // 32768), mb // 1073741824) + sh) % 256 > (xor(xor(ma, ma // 32768), ma // 1073741824) + sh) % 256 THEN 1::BIGINT ELSE 0::BIGINT END AS bit FROM args), " +
        "ph AS MATERIALIZED (SELECT media_id, f, sum(CASE WHEN k >= 32 THEN bit * (1::BIGINT << (k - 32)) ELSE 0 END)::BIGINT AS hi, " +
        "sum(CASE WHEN k < 32 THEN bit * (1::BIGINT << k) ELSE 0 END)::BIGINT AS lo FROM bits GROUP BY 1, 2), " +
        "seg AS MATERIALIZED (SELECT media_id, f, s, CASE WHEN s < 4 THEN (lo // (1::BIGINT << (8 * s))) % 256 ELSE (hi // (1::BIGINT << (8 * (s - 4)))) % 256 END AS segval " +
        "FROM ph, (SELECT unnest(generate_series(0, 7)) AS s)), " +
        "hot AS (SELECT f, s, segval FROM seg GROUP BY 1, 2, 3 HAVING count(*) > 256), " +
        "kept AS (SELECT * FROM seg ANTI JOIN hot USING (f, s, segval)), " +
        "cand AS (SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b, a.f AS f FROM kept a JOIN kept b ON a.f = b.f AND a.s = b.s AND a.segval = b.segval AND a.media_id < b.media_id), " +
        "v AS (SELECT id_a, id_b, cand.f, (bit_count(xor(pa.hi, pb.hi)) + bit_count(xor(pa.lo, pb.lo))) AS hd " +
        "FROM cand JOIN ph pa ON pa.media_id = id_a AND pa.f = cand.f JOIN ph pb ON pb.media_id = id_b AND pb.f = cand.f " +
        "WHERE bit_count(xor(pa.hi, pb.hi)) + bit_count(xor(pa.lo, pb.lo)) <= 7), " +
        "agg AS (SELECT id_a, id_b, count(*) AS n_frames, max(hd) AS mh FROM v GROUP BY 1, 2) " +
        "SELECT id_a, id_b, n_frames::BIGINT AS n_frames, mh::BIGINT AS max_frame_hamming " +
        "FROM agg JOIN ids ia ON ia.media_id = id_a JOIN ids ib ON ib.media_id = id_b " +
        "WHERE n_frames = ia.nf AND ia.nf = ib.nf ORDER BY id_a, id_b"),
    "q_video_neardup_incremental" ->
      // the incremental replay: per-frame phashes for both sides, the
      // batch side's (>= 120000) kept (frame, segment) keys select the
      // stored side's matches (per-side hot drops mirroring the
      // operator), frame-aligned candidates cross new x stored,
      // per-frame verify, full-frame-count gate on both sides
      ("WITH ids AS (SELECT doc_id AS media_id, doc_id AS oid, 0 AS sh, 16 + doc_id % 16 AS w, 16 + doc_id % 8 AS h, 3 + doc_id % 3 AS nf FROM documents WHERE doc_id % 3 = 2 " +
        "UNION ALL SELECT doc_id + 120000, doc_id, 5, 16 + doc_id % 16, 16 + doc_id % 8, 3 + doc_id % 3 FROM documents WHERE doc_id % 3 = 2), " +
        "fr AS (SELECT media_id, oid, sh, w, h, unnest(generate_series(0, nf - 1)) AS f FROM ids), " +
        "args AS (SELECT media_id, sh, f, k, " +
        "(oid * 31 + 7 * (((k % 8) * w) // 9) + 13 * (((k // 8) * h) // 8) + 29 * f) * 2654435761 AS ma, " +
        "(oid * 31 + 7 * ((((k % 8) + 1) * w) // 9) + 13 * (((k // 8) * h) // 8) + 29 * f) * 2654435761 AS mb " +
        "FROM fr, (SELECT unnest(generate_series(0, 63)) AS k)), " +
        "bits AS (SELECT media_id, f, k, CASE WHEN (xor(xor(mb, mb // 32768), mb // 1073741824) + sh) % 256 > (xor(xor(ma, ma // 32768), ma // 1073741824) + sh) % 256 THEN 1::BIGINT ELSE 0::BIGINT END AS bit FROM args), " +
        "ph AS MATERIALIZED (SELECT media_id, f, sum(CASE WHEN k >= 32 THEN bit * (1::BIGINT << (k - 32)) ELSE 0 END)::BIGINT AS hi, " +
        "sum(CASE WHEN k < 32 THEN bit * (1::BIGINT << k) ELSE 0 END)::BIGINT AS lo FROM bits GROUP BY 1, 2), " +
        "seg AS MATERIALIZED (SELECT media_id, f, s, CASE WHEN s < 4 THEN (lo // (1::BIGINT << (8 * s))) % 256 ELSE (hi // (1::BIGINT << (8 * (s - 4)))) % 256 END AS segval " +
        "FROM ph, (SELECT unnest(generate_series(0, 7)) AS s)), " +
        "hotn AS (SELECT f, s, segval FROM seg WHERE media_id >= 120000 GROUP BY 1, 2, 3 HAVING count(*) > 256), " +
        "kn AS (SELECT * FROM (SELECT * FROM seg WHERE media_id >= 120000) ANTI JOIN hotn USING (f, s, segval)), " +
        "nk AS (SELECT DISTINCT f, s, segval FROM kn), " +
        "mt AS MATERIALIZED (SELECT * FROM (SELECT * FROM seg WHERE media_id < 120000) SEMI JOIN nk USING (f, s, segval)), " +
        "hotb AS (SELECT f, s, segval FROM mt GROUP BY 1, 2, 3 HAVING count(*) > 256), " +
        "mk AS (SELECT * FROM mt ANTI JOIN hotb USING (f, s, segval)), " +
        "cand AS (SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b, a.f AS f FROM kn a JOIN mk b ON a.f = b.f AND a.s = b.s AND a.segval = b.segval), " +
        "v AS (SELECT id_a, id_b, cand.f, (bit_count(xor(pa.hi, pb.hi)) + bit_count(xor(pa.lo, pb.lo))) AS hd " +
        "FROM cand JOIN ph pa ON pa.media_id = id_a AND pa.f = cand.f JOIN ph pb ON pb.media_id = id_b AND pb.f = cand.f " +
        "WHERE bit_count(xor(pa.hi, pb.hi)) + bit_count(xor(pa.lo, pb.lo)) <= 7), " +
        "agg AS (SELECT id_a, id_b, count(*) AS n_frames, max(hd) AS mh FROM v GROUP BY 1, 2) " +
        "SELECT id_a, id_b, n_frames::BIGINT AS n_frames, mh::BIGINT AS max_frame_hamming " +
        "FROM agg JOIN ids ia ON ia.media_id = id_a JOIN ids ib ON ib.media_id = id_b " +
        "WHERE n_frames = ia.nf AND ia.nf = ib.nf ORDER BY id_a, id_b"),
    "q_video_clip_containment" ->
      // the containment replay: per-frame phashes for full originals
      // AND the 2-frame +5-brightness re-cuts (frame term f + 1), the
      // corpus-side hot drop, UNALIGNED pigeonhole candidates,
      // per-frame-pair bit_count verify, full-run count at one offset
      ("WITH ids AS (SELECT doc_id AS media_id, doc_id AS oid, 0 AS sh, 0 AS foff, 16 + doc_id % 16 AS w, 16 + doc_id % 8 AS h, 3 + doc_id % 3 AS nf FROM documents WHERE doc_id % 3 = 2 " +
        "UNION ALL SELECT doc_id + 150000, doc_id, 5, 1, 16 + doc_id % 16, 16 + doc_id % 8, 2 FROM documents WHERE doc_id % 3 = 2), " +
        "fr AS (SELECT media_id, oid, sh, foff, w, h, unnest(generate_series(0, nf - 1)) AS f FROM ids), " +
        "args AS (SELECT media_id, sh, f, k, " +
        "(oid * 31 + 7 * (((k % 8) * w) // 9) + 13 * (((k // 8) * h) // 8) + 29 * (f + foff)) * 2654435761 AS ma, " +
        "(oid * 31 + 7 * ((((k % 8) + 1) * w) // 9) + 13 * (((k // 8) * h) // 8) + 29 * (f + foff)) * 2654435761 AS mb " +
        "FROM fr, (SELECT unnest(generate_series(0, 63)) AS k)), " +
        "bits AS (SELECT media_id, f, k, CASE WHEN (xor(xor(mb, mb // 32768), mb // 1073741824) + sh) % 256 > (xor(xor(ma, ma // 32768), ma // 1073741824) + sh) % 256 THEN 1::BIGINT ELSE 0::BIGINT END AS bit FROM args), " +
        "ph AS MATERIALIZED (SELECT media_id, f, sum(CASE WHEN k >= 32 THEN bit * (1::BIGINT << (k - 32)) ELSE 0 END)::BIGINT AS hi, " +
        "sum(CASE WHEN k < 32 THEN bit * (1::BIGINT << k) ELSE 0 END)::BIGINT AS lo FROM bits GROUP BY 1, 2), " +
        "seg AS MATERIALIZED (SELECT media_id, f, s, CASE WHEN s < 4 THEN (lo // (1::BIGINT << (8 * s))) % 256 ELSE (hi // (1::BIGINT << (8 * (s - 4)))) % 256 END AS segval " +
        "FROM ph, (SELECT unnest(generate_series(0, 7)) AS s)), " +
        "hot AS (SELECT s, segval FROM seg WHERE media_id < 150000 GROUP BY 1, 2 HAVING count(*) > 256), " +
        "kept AS (SELECT * FROM (SELECT * FROM seg WHERE media_id < 150000) ANTI JOIN hot USING (s, segval)), " +
        "kseg AS (SELECT * FROM seg WHERE media_id >= 150000), " +
        "cand AS (SELECT DISTINCT a.media_id AS clip_id, a.f AS kf, b.media_id AS corpus_id, b.f AS cf " +
        "FROM kseg a JOIN kept b ON a.s = b.s AND a.segval = b.segval), " +
        "v AS (SELECT clip_id, corpus_id, kf, cf " +
        "FROM cand JOIN ph pa ON pa.media_id = clip_id AND pa.f = kf JOIN ph pb ON pb.media_id = corpus_id AND pb.f = cf " +
        "WHERE bit_count(xor(pa.hi, pb.hi)) + bit_count(xor(pa.lo, pb.lo)) <= 7), " +
        "agg AS (SELECT clip_id, corpus_id, cf - kf AS offset_frames, count(*) AS n_frames FROM v GROUP BY 1, 2, 3) " +
        "SELECT clip_id, corpus_id, offset_frames::BIGINT AS offset_frames, n_frames::BIGINT AS n_frames " +
        "FROM agg WHERE n_frames = 2 AND offset_frames >= 0 ORDER BY clip_id, corpus_id, offset_frames"),
    "q_video_containment_sweep" ->
      // the corpus-self video replay: per-frame phashes for originals
      // (foff 0) AND exact 2-frame re-cuts (foff 1) as peers in ONE
      // corpus-wide CTE; hot drop over the whole corpus, unaligned
      // segment SELF-join, per-frame-pair bit_count verify, full-run
      // count, frame-count-ordered (nf, id) pairing rule
      ("WITH ids AS (SELECT doc_id AS media_id, doc_id AS oid, 0 AS foff, 16 + doc_id % 16 AS w, 16 + doc_id % 8 AS h, 3 + doc_id % 3 AS nf FROM documents WHERE doc_id % 3 = 2 " +
        "UNION ALL SELECT doc_id + 150000, doc_id, 1, 16 + doc_id % 16, 16 + doc_id % 8, 2 FROM documents WHERE doc_id % 3 = 2), " +
        "fr AS (SELECT media_id, oid, foff, w, h, unnest(generate_series(0, nf - 1)) AS f FROM ids), " +
        "args AS (SELECT media_id, f, k, " +
        "(oid * 31 + 7 * (((k % 8) * w) // 9) + 13 * (((k // 8) * h) // 8) + 29 * (f + foff)) * 2654435761 AS ma, " +
        "(oid * 31 + 7 * ((((k % 8) + 1) * w) // 9) + 13 * (((k // 8) * h) // 8) + 29 * (f + foff)) * 2654435761 AS mb " +
        "FROM fr, (SELECT unnest(generate_series(0, 63)) AS k)), " +
        "bits AS (SELECT media_id, f, k, CASE WHEN xor(xor(mb, mb // 32768), mb // 1073741824) % 256 > xor(xor(ma, ma // 32768), ma // 1073741824) % 256 THEN 1::BIGINT ELSE 0::BIGINT END AS bit FROM args), " +
        "ph AS MATERIALIZED (SELECT media_id, f, sum(CASE WHEN k >= 32 THEN bit * (1::BIGINT << (k - 32)) ELSE 0 END)::BIGINT AS hi, " +
        "sum(CASE WHEN k < 32 THEN bit * (1::BIGINT << k) ELSE 0 END)::BIGINT AS lo FROM bits GROUP BY 1, 2), " +
        "seg AS MATERIALIZED (SELECT media_id, f, s, CASE WHEN s < 4 THEN (lo // (1::BIGINT << (8 * s))) % 256 ELSE (hi // (1::BIGINT << (8 * (s - 4)))) % 256 END AS segval " +
        "FROM ph, (SELECT unnest(generate_series(0, 7)) AS s)), " +
        "hot AS (SELECT s, segval FROM seg GROUP BY 1, 2 HAVING count(*) > 256), " +
        "kept AS MATERIALIZED (SELECT * FROM seg ANTI JOIN hot USING (s, segval)), " +
        "cand AS (SELECT DISTINCT a.media_id AS id_short, a.f AS kf, b.media_id AS id_long, b.f AS cf " +
        "FROM kept a JOIN kept b ON a.s = b.s AND a.segval = b.segval AND a.media_id != b.media_id), " +
        "v AS (SELECT id_short, id_long, kf, cf " +
        "FROM cand JOIN ph pa ON pa.media_id = id_short AND pa.f = kf JOIN ph pb ON pb.media_id = id_long AND pb.f = cf " +
        "WHERE bit_count(xor(pa.hi, pb.hi)) + bit_count(xor(pa.lo, pb.lo)) <= 7), " +
        "agg AS (SELECT id_short, id_long, cf - kf AS offset_frames, count(*) AS n_frames FROM v GROUP BY 1, 2, 3) " +
        "SELECT id_short, id_long, offset_frames::BIGINT AS offset_frames, n_frames::BIGINT AS n_frames " +
        "FROM agg JOIN ids ta ON ta.media_id = id_short JOIN ids tb ON tb.media_id = id_long " +
        "WHERE n_frames = ta.nf AND offset_frames >= 0 AND (ta.nf < tb.nf OR (ta.nf = tb.nf AND id_short < id_long)) " +
        "ORDER BY id_short, id_long, offset_frames"),
    "q_image_phash" ->
      // PNG is lossless, so the decoded gray channel IS the mixer
      // formula and every dHash bit re-derives in integers: nearest
      // sample coords, multiply + double-xor-fold pixel, right-neighbor
      // comparison, bits assembled into two 32-bit halves
      ("WITH ids AS (SELECT doc_id AS media_id, doc_id AS oid, 0 AS sh, 16 + doc_id % 16 AS w, 16 + doc_id % 8 AS h FROM documents WHERE doc_id % 3 = 0), " +
        "args AS (SELECT media_id, sh, k, " +
        "(oid * 31 + 7 * (((k % 8) * w) // 9) + 13 * (((k // 8) * h) // 8)) * 2654435761 AS ma, " +
        "(oid * 31 + 7 * ((((k % 8) + 1) * w) // 9) + 13 * (((k // 8) * h) // 8)) * 2654435761 AS mb " +
        "FROM ids, (SELECT unnest(generate_series(0, 63)) AS k)), " +
        "bits AS (SELECT media_id, k, CASE WHEN (xor(xor(mb, mb // 32768), mb // 1073741824) + sh) % 256 > (xor(xor(ma, ma // 32768), ma // 1073741824) + sh) % 256 THEN 1::BIGINT ELSE 0::BIGINT END AS bit FROM args) " +
        "SELECT media_id, sum(CASE WHEN k >= 32 THEN bit * (1::BIGINT << (k - 32)) ELSE 0 END)::BIGINT AS ph_hi, " +
        "sum(CASE WHEN k < 32 THEN bit * (1::BIGINT << k) ELSE 0 END)::BIGINT AS ph_lo " +
        "FROM bits GROUP BY 1 ORDER BY media_id"),
    "q_image_phash_neardup" ->
      // the full near-dup replay: formula phashes for originals AND the
      // +5-brightness copies, the same 8x8-bit pigeonhole segments, the
      // >maxBucket drop, candidate join, bit_count verify
      ("WITH ids AS (SELECT doc_id AS media_id, doc_id AS oid, 0 AS sh, 16 + doc_id % 16 AS w, 16 + doc_id % 8 AS h FROM documents WHERE doc_id % 3 = 0 " +
        "UNION ALL SELECT doc_id + 30000, doc_id, 5, 16 + doc_id % 16, 16 + doc_id % 8 FROM documents WHERE doc_id % 3 = 0), " +
        "args AS (SELECT media_id, sh, k, " +
        "(oid * 31 + 7 * (((k % 8) * w) // 9) + 13 * (((k // 8) * h) // 8)) * 2654435761 AS ma, " +
        "(oid * 31 + 7 * ((((k % 8) + 1) * w) // 9) + 13 * (((k // 8) * h) // 8)) * 2654435761 AS mb " +
        "FROM ids, (SELECT unnest(generate_series(0, 63)) AS k)), " +
        "bits AS (SELECT media_id, k, CASE WHEN (xor(xor(mb, mb // 32768), mb // 1073741824) + sh) % 256 > (xor(xor(ma, ma // 32768), ma // 1073741824) + sh) % 256 THEN 1::BIGINT ELSE 0::BIGINT END AS bit FROM args), " +
        "ph AS MATERIALIZED (SELECT media_id, sum(CASE WHEN k >= 32 THEN bit * (1::BIGINT << (k - 32)) ELSE 0 END)::BIGINT AS hi, " +
        "sum(CASE WHEN k < 32 THEN bit * (1::BIGINT << k) ELSE 0 END)::BIGINT AS lo FROM bits GROUP BY 1), " +
        "seg AS MATERIALIZED (SELECT media_id, s, CASE WHEN s < 4 THEN (lo // (1::BIGINT << (8 * s))) % 256 ELSE (hi // (1::BIGINT << (8 * (s - 4)))) % 256 END AS segval " +
        "FROM ph, (SELECT unnest(generate_series(0, 7)) AS s)), " +
        "hot AS (SELECT s, segval FROM seg GROUP BY 1, 2 HAVING count(*) > 256), " +
        "kept AS (SELECT * FROM seg ANTI JOIN hot USING (s, segval)), " +
        "cand AS (SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b FROM kept a JOIN kept b ON a.s = b.s AND a.segval = b.segval AND a.media_id < b.media_id) " +
        "SELECT id_a, id_b, (bit_count(xor(pa.hi, pb.hi)) + bit_count(xor(pa.lo, pb.lo)))::BIGINT AS hamming " +
        "FROM cand JOIN ph pa ON pa.media_id = id_a JOIN ph pb ON pb.media_id = id_b " +
        "WHERE bit_count(xor(pa.hi, pb.hi)) + bit_count(xor(pa.lo, pb.lo)) <= 7 ORDER BY id_a, id_b"),
    "q_image_phash_incremental" ->
      // the incremental replay: formula phashes for both sides, the
      // batch side's (>= 30000) kept segment keys select the stored
      // side's matches (per-side >maxBucket drops, mirroring the
      // operator), candidates cross new x stored, bit_count verify
      ("WITH ids AS (SELECT doc_id AS media_id, doc_id AS oid, 0 AS sh, 16 + doc_id % 16 AS w, 16 + doc_id % 8 AS h FROM documents WHERE doc_id % 3 = 0 " +
        "UNION ALL SELECT doc_id + 30000, doc_id, 5, 16 + doc_id % 16, 16 + doc_id % 8 FROM documents WHERE doc_id % 3 = 0), " +
        "args AS (SELECT media_id, sh, k, " +
        "(oid * 31 + 7 * (((k % 8) * w) // 9) + 13 * (((k // 8) * h) // 8)) * 2654435761 AS ma, " +
        "(oid * 31 + 7 * ((((k % 8) + 1) * w) // 9) + 13 * (((k // 8) * h) // 8)) * 2654435761 AS mb " +
        "FROM ids, (SELECT unnest(generate_series(0, 63)) AS k)), " +
        "bits AS (SELECT media_id, k, CASE WHEN (xor(xor(mb, mb // 32768), mb // 1073741824) + sh) % 256 > (xor(xor(ma, ma // 32768), ma // 1073741824) + sh) % 256 THEN 1::BIGINT ELSE 0::BIGINT END AS bit FROM args), " +
        "ph AS MATERIALIZED (SELECT media_id, sum(CASE WHEN k >= 32 THEN bit * (1::BIGINT << (k - 32)) ELSE 0 END)::BIGINT AS hi, " +
        "sum(CASE WHEN k < 32 THEN bit * (1::BIGINT << k) ELSE 0 END)::BIGINT AS lo FROM bits GROUP BY 1), " +
        "seg AS MATERIALIZED (SELECT media_id, s, CASE WHEN s < 4 THEN (lo // (1::BIGINT << (8 * s))) % 256 ELSE (hi // (1::BIGINT << (8 * (s - 4)))) % 256 END AS segval " +
        "FROM ph, (SELECT unnest(generate_series(0, 7)) AS s)), " +
        "hotn AS (SELECT s, segval FROM seg WHERE media_id >= 30000 GROUP BY 1, 2 HAVING count(*) > 256), " +
        "kn AS (SELECT * FROM (SELECT * FROM seg WHERE media_id >= 30000) ANTI JOIN hotn USING (s, segval)), " +
        "nk AS (SELECT DISTINCT s, segval FROM kn), " +
        "mt AS MATERIALIZED (SELECT * FROM (SELECT * FROM seg WHERE media_id < 30000) SEMI JOIN nk USING (s, segval)), " +
        "hotb AS (SELECT s, segval FROM mt GROUP BY 1, 2 HAVING count(*) > 256), " +
        "mk AS (SELECT * FROM mt ANTI JOIN hotb USING (s, segval)), " +
        "cand AS (SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b FROM kn a JOIN mk b ON a.s = b.s AND a.segval = b.segval) " +
        "SELECT id_a, id_b, (bit_count(xor(pa.hi, pb.hi)) + bit_count(xor(pa.lo, pb.lo)))::BIGINT AS hamming " +
        "FROM cand JOIN ph pa ON pa.media_id = id_a JOIN ph pb ON pb.media_id = id_b " +
        "WHERE bit_count(xor(pa.hi, pb.hi)) + bit_count(xor(pa.lo, pb.lo)) <= 7 ORDER BY id_a, id_b"),
    "q_audio_decode" ->
      ("WITH ids AS (SELECT doc_id AS media_id, 800 + doc_id % 400 AS n FROM documents WHERE doc_id % 3 = 2) " +
        "SELECT media_id, 8000::BIGINT AS sample_rate, 1::BIGINT AS channels, n::BIGINT AS n_samples, " +
        "list_sum(list_transform(generate_series(0, n - 1), i -> (media_id * 31 + 17 * i) % 2003 - 1001))::BIGINT AS sum_amp " +
        "FROM ids ORDER BY media_id"),
    "q_frame_sample" ->
      ("WITH v AS (SELECT doc_id AS media_id, text FROM documents WHERE doc_id % 3 = 2), " +
        "f AS (SELECT media_id, unnest(generate_series(0, greatest(length(text) // 1024 - 1, 0))) AS frame_idx, text FROM v) " +
        "SELECT media_id, frame_idx::BIGINT AS frame_idx, md5(substring(text, (frame_idx * 1024 + 1)::INT, 256)) AS frame_md5 " +
        "FROM f ORDER BY media_id, frame_idx"),
    "q_image_dedup" ->
      ("WITH m AS (SELECT doc_id, (doc_id // 2) % 256 AS g FROM documents) " +
        "SELECT min(doc_id) AS keep_id, count(*) AS copies FROM m GROUP BY g ORDER BY keep_id"),
    "q_video_frames" ->
      ("WITH m AS (SELECT doc_id AS media_id, 16 + doc_id % 16 AS w, 16 + doc_id % 8 AS h, 3 + doc_id % 3 AS nf " +
        "FROM documents WHERE doc_id % 3 = 2), " +
        "f AS (SELECT media_id, w, h, unnest(generate_series(0, nf - 1)) AS frame_idx FROM m), " +
        "xs AS (SELECT unnest(range(0, 32)) AS x), ys AS (SELECT unnest(range(0, 24)) AS y) " +
        "SELECT media_id, frame_idx::BIGINT AS frame_idx, w::BIGINT AS width, h::BIGINT AS height, " +
        "sum((media_id * 31 + 7 * x + 13 * y + 29 * frame_idx) % 256)::BIGINT AS px_sum " +
        "FROM f JOIN xs ON x < w JOIN ys ON y < h " +
        "GROUP BY media_id, frame_idx, w, h ORDER BY media_id, frame_idx"),
  )
}
