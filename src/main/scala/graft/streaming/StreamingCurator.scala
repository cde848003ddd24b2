package graft.streaming

import graft.core.{FlumeLog, LogRange, ParquetLog}
import graft.views.{AudioFingerprintTableView, EmbeddingSigTableView, FeatureTableView,
  FrameHashTableView, PhashTableView, SignatureTableView}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SessionBridge
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import org.apache.spark.storage.StorageLevel

import java.nio.file.{Files, Paths}

/** Modality binding for [[MediaStreamingCurator]]: the operations that
  * differ between corpus types (text minhash, image dHash, audio
  * fingerprint, video frame hashes, embedding hyperplane signatures)
  * while the curation ENGINE — one featurize per batch, self near-dup,
  * incremental check against the stored table, append + absorb under
  * the exactly-once cursor discipline — stays shared (ONE engine for
  * every modality; the text curator is the same loop with a quality
  * floor instead of a decodability floor).
  *
  * `featurize` must emit feature rows keyed by the id column for every
  * input that clears the modality's floor; `eligibleIds` is the floor
  * itself — by default the featurized ids (media that does not decode
  * is garbage and drops), overridden by text so documents too short to
  * shingle still pass its quality/exact floor and survive; `selfPairs`
  * emits within-batch near-dup pairs oriented `(id_a < id_b)` (the
  * higher id drops — keep-lowest); `crossPairs` emits batch-vs-stored
  * pairs with `id_a` = batch side (the batch id drops). */
trait MediaDedupBinding {
  /** Stored-table cursor (seq HWM of the last absorbed interval). */
  def since: Long
  /** Stored feature table, `None` until the first absorb. */
  def storedOption: Option[DataFrame]
  /** ROW-level floor applied once, before featurize; the engine
    * persists the result and every later stage reads it. Default
    * identity (media can only floor by decoding — that IS featurize);
    * text overrides with its quality + exact-dedup filter so the floor
    * is computed exactly ONCE per batch. */
  def floor(staged: DataFrame): DataFrame = staged
  /** Decode + feature the FLOORED batch ONCE: `(id, …features)`. */
  def featurize(media: DataFrame): DataFrame
  /** Ids eligible to survive. Default = the featurized ids
    * (decodability floor: absent from features ⇒ drop); text overrides
    * to the floored ids, which keeps featureless (empty-shingle) docs. */
  def eligibleIds(floored: DataFrame, features: DataFrame, idCol: String): DataFrame =
    features.select(idCol)
  /** Within-batch near-dup pairs `(id_a < id_b)` over the features. */
  def selfPairs(features: DataFrame): DataFrame
  /** Batch-vs-stored near-dup pairs (`id_a` = batch side). */
  def crossPairs(features: DataFrame, stored: DataFrame): DataFrame
  /** Attach curated-LOG metadata to the survivors' feature rows before
    * the absorb. Called after the append landed (or was found already
    * landed on replay) with the batch's curated-seq interval
    * `(curatedPre, curatedPost]`; `curatedPre` is `None` only when a
    * legacy single-token commit mark predates the interval recording —
    * bindings that stamp must then fall back to an unpruned join.
    * Default: identity (most bindings key their artifact by id only). */
  def stampCuratedSeqs(features: DataFrame, curatedPre: Option[Long], curatedPost: Long): DataFrame =
    features
  /** Land survivors' PRECOMPUTED feature rows, advance the cursor. */
  def absorb(features: DataFrame, upto: Long): Unit
}

object MediaDedupBinding {
  /** The shared half of every binding: featurize, absorb and read
    * through the view, so the features a curated batch stores are the
    * ones the view's own `absorb` computes. */
  private abstract class ViewBinding(view: FeatureTableView) extends MediaDedupBinding {
    def since: Long = view.since
    def storedOption: Option[DataFrame] = view.frameOption
    def featurize(media: DataFrame): DataFrame = view.features(media)
    def absorb(features: DataFrame, upto: Long): Unit = view.absorbFeatures(features, upto)
  }

  /** Text binding: quality floor + exact dedup + MinHash-LSH signatures
    * over the [[graft.views.SignatureTableView]] — the original
    * streaming curator expressed in the shared engine. The floor runs
    * ONCE per batch (the engine persists it); signatures are built from
    * the floored rows; docs whose shingle set is empty clear the floor
    * but have no feature row, so they bypass both near-dup stages and
    * survive. */
  def text(view: SignatureTableView,
      minQuality: Double = 0.2, threshold: Double = 0.6,
      bands: Int = 32, maxBucket: Int = 1000): MediaDedupBinding =
    new ViewBinding(view) {
      import view.{idCol, textCol}
      override def floor(staged: DataFrame): DataFrame = {
        val q = staged.where(graft.ops.TextAnalysis.qualityCol(col(textCol)) >= minQuality)
        val keep = q.groupBy(xxhash64(col(textCol)).as("__h"))
          .agg(min(col(idCol)).as(idCol)).select(idCol)
        q.join(keep, Seq(idCol), "left_semi")
      }
      override def featurize(media: DataFrame): DataFrame =
        view.features(media).withColumnRenamed("id", idCol)
      override def eligibleIds(floored: DataFrame, features: DataFrame, idCol: String): DataFrame =
        floored.select(idCol)
      def selfPairs(features: DataFrame): DataFrame =
        graft.ops.Dedup.minhashLshFromSigs(features.withColumnRenamed(idCol, "id"),
          perms = view.perms, threshold = threshold, verifyExact = true, bands = bands,
          maxBucket = maxBucket)
      def crossPairs(features: DataFrame, stored: DataFrame): DataFrame =
        graft.ops.Dedup.minhashLshIncrementalFromSigs(features.withColumnRenamed(idCol, "id"),
          stored, perms = view.perms, threshold = threshold, verifyExact = true, bands = bands,
          maxBucket = maxBucket)
      // through the named delegate: a job it runs keeps a
      // SignatureTableView frame for per-view attribution
      override def absorb(features: DataFrame, upto: Long): Unit =
        view.absorbSigs(features.withColumnRenamed(idCol, "id"), upto)
    }

  /** Image binding: dHash ([[graft.ops.Multimodal.perceptualHash]])
    * over the [[graft.views.PhashTableView]]. */
  def image(view: PhashTableView,
      maxHamming: Int = 7, maxBucket: Int = 256): MediaDedupBinding =
    new ViewBinding(view) {
      def selfPairs(features: DataFrame): DataFrame =
        graft.ops.Multimodal.perceptualNearDup(features, maxHamming, maxBucket)
      def crossPairs(features: DataFrame, stored: DataFrame): DataFrame =
        graft.ops.Multimodal.perceptualNearDupIncremental(
          features, stored, maxHamming, maxBucket)
    }

  /** Embedding binding: banded hyperplane signatures over the
    * [[graft.views.EmbeddingSigTableView]] — continuous curation for a
    * vector corpus (the SemDeDup-adjacent ingest shape). Unlike the
    * media bindings, the exact-cosine verify needs the stored VECTORS;
    * those are exactly the curator's own curated log, so the binding
    * takes the curated log itself and NO second vector artifact exists
    * — the signature table stays at 16 bytes/vector (`sig` + the
    * vector's curated-log `seq`).
    *
    * The `seq` column is what keeps the verify from rescanning history:
    * candidate rows carry their stored seq out of the signature stage,
    * the candidates' DISTINCT seq buckets (batch-scoped) are collected,
    * and on a seq-bucketed curated log the vector scan prunes to those
    * partition directories at planning time
    * ([[graft.ops.Dedup.embeddingNearDupIncrementalPruned]],
    * [[graft.core.ParquetLog.readBuckets]]) — per-batch verify cost
    * ∝ candidates, never ∝ corpus. On an unbucketed log (or legacy
    * absorbs without seq) it falls back to the full corpus read —
    * correct, just the pre-round-14 cost. Survivor seqs are stamped
    * from the batch's curated-append interval (itself a bucket-pruned
    * range read) via [[MediaDedupBinding.stampCuratedSeqs]]. The id and
    * vector columns and the LSH banding are the view's. */
  def embedding(view: EmbeddingSigTableView,
      curated: FlumeLog,
      threshold: Double = 0.95, maxBucket: Int = 1024): MediaDedupBinding =
    new ViewBinding(view) {
      import view.{bands, bitsPerBand, idCol, vecCol}
      private def bucketSize: Option[Long] = curated match {
        case p: ParquetLog => p.bucketSizeOpt
        case _ => None
      }
      // the SOURCE log's seq is not the curated log's: survivors are
      // stamped with theirs after the append
      override def featurize(media: DataFrame): DataFrame = view.features(media).drop("seq")
      def selfPairs(features: DataFrame): DataFrame =
        graft.ops.Dedup.embeddingNearDup(features.select(col(idCol), col(vecCol)),
          idCol, vecCol, bands, bitsPerBand, threshold, maxBucket)
      def crossPairs(features: DataFrame, stored: DataFrame): DataFrame = bucketSize match {
        case Some(bs) if stored.columns.contains("seq") =>
          graft.ops.Dedup.embeddingNearDupIncrementalPruned(
            features.select(col(idCol), col(vecCol)), stored, bs,
            {
              case Some(buckets) => curated.asInstanceOf[ParquetLog]
                .readBuckets(buckets).select(col(idCol), col(vecCol))
              case None => curated.read.select(col(idCol), col(vecCol))
            },
            idCol, vecCol, bands, bitsPerBand, threshold, maxBucket)
        case _ =>
          graft.ops.Dedup.embeddingNearDupIncrementalFromSigs(
            features.select(col(idCol), col(vecCol)), stored,
            curated.read.select(col(idCol), col(vecCol)),
            idCol, vecCol, bands, bitsPerBand, threshold, maxBucket)
      }
      override def stampCuratedSeqs(
          features: DataFrame, curatedPre: Option[Long], curatedPost: Long): DataFrame = {
        // survivors were just appended into (pre, post] — a bucket-pruned
        // range read on a bucketed log; the legacy-mark fallback joins
        // the full log (correct, unpruned)
        val interval = curatedPre match {
          case Some(pre) => curated.stream(LogRange(gt = Some(pre), lte = Some(curatedPost)))
          case None => curated.stream(LogRange(lte = Some(curatedPost)))
        }
        features.join(
          interval.select(col(curated.seqCol).as("seq"), col(idCol)), Seq(idCol))
      }
    }

  /** Video binding: per-frame dHash sequences
    * ([[graft.ops.Multimodal.videoFrameHashes]] — MULTIPLE feature rows
    * per item, which the engine's id-level semi/anti joins absorb
    * unchanged) over the [[graft.views.FrameHashTableView]]; near-dup
    * requires every aligned frame within `maxHamming` and equal frame
    * counts on both sides. */
  def video(view: FrameHashTableView,
      maxHamming: Int = 7, maxBucket: Int = 256): MediaDedupBinding =
    new ViewBinding(view) {
      def selfPairs(features: DataFrame): DataFrame =
        graft.ops.Multimodal.videoNearDup(features, maxHamming, maxBucket)
      def crossPairs(features: DataFrame, stored: DataFrame): DataFrame =
        graft.ops.Multimodal.videoNearDupIncremental(
          features, stored, maxHamming, maxBucket)
    }

  /** Audio binding: trim + duration-proportional window fingerprint
    * ([[graft.ops.Multimodal.audioFingerprint]]) over the
    * [[graft.views.AudioFingerprintTableView]]; the `n_windows` length
    * gate rides the feature row into both near-dup stages. */
  def audio(view: AudioFingerprintTableView,
      maxHamming: Int = 7, maxBucket: Int = 256): MediaDedupBinding =
    new ViewBinding(view) {
      def selfPairs(features: DataFrame): DataFrame =
        graft.ops.Multimodal.audioNearDup(features, maxHamming, maxBucket)
      def crossPairs(features: DataFrame, stored: DataFrame): DataFrame =
        graft.ops.Multimodal.audioNearDupIncremental(
          features, stored, maxHamming, maxBucket)
    }
}

object MediaStreamingCurator {
  /** Diagnostic batch tracing (`-Dgraft.debug.batchTrace=true`): prints
    * each micro-batch's source seqs, feature ids, and kept ids to
    * stderr — the discriminator that located the r17 silent-row-loss
    * recurrence (which stage a vanished row actually vanished at).
    * Costs extra evaluations of the batch; for stress/debug runs only. */
  private[streaming] val batchTrace: Boolean =
    java.lang.Boolean.getBoolean("graft.debug.batchTrace")

  /** Run every later plan of `session` interpreted: no whole-stage
    * code, and each projection, predicate and ordering built by its
    * interpreted factory. For the per-query session clone that
    * Structured Streaming hands a `foreachBatch`, which no other query
    * sees. Spark caches generated classes by (class loader, code), 100
    * by default (`spark.sql.codegen.cache.maxEntries`, static), and a
    * curate cycle needs about 150–200, so with codegen each batch
    * compiled most of them again: 0.7–1.2 s per batch, more than its
    * data cost. The per-row work stays in the native kernels, whose
    * `nullSafeEval` calls the kernel their generated code calls.
    * `factoryMode` is an internal Spark conf
    * (`SQLConf.CODEGEN_FACTORY_MODE`); InterpretedKernelSpec and
    * StreamingSpec pin what it changes. */
  private[graft] def interpreted(session: SparkSession): Unit = {
    session.conf.set("spark.sql.codegen.wholeStage", "false")
    session.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
  }

  /** The batch's highest seq, -1 for an empty batch, in ONE job with no
    * exchange that also fills a persisted batch's cache: a max folded
    * over the partitions on the driver. `agg(max)` took 3 jobs. */
  private[streaming] def maxSeq(raw: DataFrame, seqCol: String): Long =
    raw.select(col(seqCol)).queryExecution.toRdd.map(_.getLong(0))
      .fold(-1L)((a, b) => math.max(a, b))

  /** The curation decision for one batch — a PURE function of
    * (batch, stored feature state), shared by the live stream and any
    * crash-window replay: floor once, featurize once, drop the higher
    * id of every within-batch pair, drop batch ids matching the stored
    * table, survivors = the floored rows of the kept eligible ids.
    * Returns (survivors, the batch's persisted feature table, the
    * persisted frames to release); the caller unpersists the release
    * list after the absorb lands. */
  private[streaming] def decide(
      binding: MediaDedupBinding,
      batch: DataFrame,
      idCol: String,
      seqCol: String): (DataFrame, DataFrame, Seq[DataFrame]) = {
    // the live stream hands in a batch it already persisted
    val raw = if (batch.storageLevel == StorageLevel.NONE) batch.persist() else batch
    val floored = binding.floor(raw)
    // text's floor is an agg + semi-join over the batch: compute it
    // ONCE, persist, and feed featurize/eligibility/survivors from it
    val staged = if (floored eq raw) raw else floored.persist()
    val feats = binding.featurize(staged).persist() // decode ONCE per batch
    val selfDrop = binding.selfPairs(feats).select(col("id_b").as(idCol)).distinct()
    // the cross check reads its input more than once (band keys, then
    // the by-id attach): materialize the anti-join ONCE
    val crossIn = feats.join(selfDrop, Seq(idCol), "left_anti").persist()
    val crossDrop = binding.storedOption match {
      case Some(stored) =>
        // moved onto the batch's session: a join rooted at the stored
        // table would otherwise plan under the user's session
        binding.crossPairs(crossIn, SessionBridge.on(raw.sparkSession, stored))
          .select(col("id_a").as(idCol)).distinct()
      case None => selfDrop.limit(0)
    }
    val keptIds = binding.eligibleIds(staged, feats, idCol)
      .join(selfDrop.unionByName(crossDrop).distinct(), Seq(idCol), "left_anti")
    val survivors = staged.drop(seqCol).join(keptIds, Seq(idCol), "left_semi")
    (survivors, feats,
      crossIn +: (if (staged eq raw) Seq(feats, raw) else Seq(feats, staged, raw)))
  }
}

/** Continuous curation — ONE engine for every modality: a raw log's
  * live tail, per-batch featurize-ONCE (quality floor for text,
  * decodability floor for media), within-batch near-dedup, incremental
  * near-dedup against the stored feature table, survivors appended to
  * the curated log and their feature rows absorbed. This is the
  * operational shape of production pretraining ingest — crawls arrive
  * continuously, the curated corpus and its per-item feature artifact
  * grow together, and nothing ever rescans history: the incremental
  * check broadcasts the batch's count-fenced keys so the stored table
  * never shuffles, and the embedding binding's exact verify prunes the
  * curated log's seq buckets to the batch's candidates.
  *
  * Per micro-batch (the `(binding.since, logSince]` delta — the
  * reference build loop's interval):
  *  1. modality floor: `featurize` + `eligibleIds` (text: quality +
  *     exact dedup; media: a blob with no pixels/samples is garbage);
  *  2. near-dedup within the batch (`selfPairs`, drop the higher id);
  *  3. near-dedup against the STORED feature table (`crossPairs` on
  *     the self-survivors only, drop the batch id);
  *  4. survivors append to the curated log; their ALREADY-COMPUTED
  *     feature rows absorb into the table, advancing its cursor.
  *
  * Recovery (exactly-once): survivors are a deterministic function of
  * (batch, stored feature state). The whole batch is guarded by the
  * feature-table cursor (`upto > binding.since` — a replay after the
  * absorb committed is skipped outright, so survivors are never
  * recomputed against a state that already contains them), the curated
  * append by the seq high-water mark in `commitFile` (seq-based, so it
  * stays correct even if the streaming checkpoint is lost and epoch ids
  * restart), and the absorb again by the cursor. The mark also records
  * the curated log's pre-append HWM, so a replay that skips the append
  * still knows the batch's curated-seq interval for
  * [[MediaDedupBinding.stampCuratedSeqs]]. Every crash window therefore
  * replays to the same curated log + feature state the uninterrupted
  * run produces.
  *
  * 100 TB shape: the featurize (decode — the dominant media cost) runs
  * once per item ever; the self near-dup shuffles 8-byte hashes inside
  * pigeonhole buckets; the incremental check broadcasts the batch's
  * count-fenced keys, so the stored table — the corpus — never
  * shuffles; the media BYTES never enter any exchange (survivor
  * selection is an id anti-join against the staged batch). */
final class MediaStreamingCurator(
    source: FlumeLog,
    curated: FlumeLog,
    binding: MediaDedupBinding,
    commitFile: String,
    idCol: String = "media_id",
    checkpointDir: Option[String] = None) {

  private val seqCol = source.seqCol
  private val markPath = Paths.get(commitFile)

  // mark format: "<sourceUpto> <curatedPreAppendHWM>"; legacy marks
  // (single token) parse with an unknown interval start
  private def markTokens: Option[Array[String]] =
    if (Files.exists(markPath)) Some(Files.readString(markPath).trim.split("\\s+")) else None
  private def appendedUpto: Long = markTokens.fold(-1L)(_(0).toLong)
  private def markCuratedPre: Option[Long] =
    markTokens.filter(_.length >= 2).map(_(1).toLong)

  /** The curation decision for one batch — pure function of
    * (batch, stored feature state); see
    * [[MediaStreamingCurator.decide]]. */
  private[streaming] def surviveBatch(batch: DataFrame): (DataFrame, DataFrame, Seq[DataFrame]) =
    MediaStreamingCurator.decide(binding, batch, idCol, seqCol)

  val query: StreamingQuery = {
    var w = source.readStreamFrom(binding.since).writeStream
      .trigger(Trigger.ProcessingTime(0))
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        MediaStreamingCurator.interpreted(batch.sparkSession)
        val raw = batch.persist()
        val upto = MediaStreamingCurator.maxSeq(raw, seqCol)
        // empty, or a replay after the absorb committed: skip whole
        if (upto <= binding.since) raw.unpersist(blocking = false)
        else {
          if (MediaStreamingCurator.batchTrace)
            System.err.println(s"[graft-trace] batch seqs=" +
              raw.select(col(seqCol)).collect().map(_.getLong(0)).sorted.mkString(",") +
              s" bindingSince=${binding.since} upto=$upto")
          val (sv, feats, release) = surviveBatch(raw)
          if (MediaStreamingCurator.batchTrace)
            System.err.println(s"[graft-trace] feats ids=" +
              feats.select(col(idCol)).collect().map(_.getLong(0)).sorted.mkString(",") +
              " survivors=" +
              sv.select(col(idCol)).collect().map(_.getLong(0)).sorted.mkString(","))
          val survivors = sv.localCheckpoint(true)
          val curatedPre: Option[Long] =
            if (upto > appendedUpto) { // normal path: append, then mark
              val pre = curated.since
              curated.append(survivors) // 0 rows: writes nothing, cursor unchanged
              Files.writeString(markPath, s"$upto $pre") // append durable before the mark
              Some(pre)
            } else markCuratedPre // replay after the append committed: skip append
          // absorbed even when empty so the cursor tracks the log;
          // the survivors' rows of the ALREADY-COMPUTED feature
          // table land directly — no re-decode at absorb
          binding.absorb(
            binding.stampCuratedSeqs(
              feats.join(survivors.select(col(idCol)), Seq(idCol), "left_semi"),
              curatedPre, curated.since),
            upto)
          release.foreach(_.unpersist(blocking = false))
        }
        ()
      }
    checkpointDir.foreach(d => w = w.option("checkpointLocation", d))
    w.start()
  }

  /** Block until everything appended so far is curated (read gate). */
  def awaitParity(): Unit = query.processAllAvailable()

  def stop(): Unit = query.stop()
}

/** The TEXT curator — kept as the named front door (quality floor +
  * exact dedup + MinHash-LSH over the durable
  * [[graft.views.SignatureTableView]]), now a thin construction of the
  * shared [[MediaStreamingCurator]] engine with the
  * [[MediaDedupBinding.text]] binding: one curation loop for every
  * modality, one exactly-once discipline, zero duplicated engines. */
final class StreamingCurator(
    source: FlumeLog,
    curated: FlumeLog,
    sigView: SignatureTableView,
    commitFile: String,
    minQuality: Double = 0.2,
    threshold: Double = 0.6,
    bands: Int = 32,
    maxBucket: Int = 1000,
    checkpointDir: Option[String] = None) {

  private val inner = new MediaStreamingCurator(source, curated,
    MediaDedupBinding.text(sigView, minQuality, threshold, bands, maxBucket),
    commitFile, sigView.idCol, checkpointDir)

  /** The per-batch curation decision (pure; exposed for crash-window
    * tests): (survivors, the batch's persisted `(doc_id, hs, sig)`
    * signature table, the persisted frames to release). */
  private[streaming] def surviveBatch(batch: DataFrame): (DataFrame, DataFrame, Seq[DataFrame]) =
    inner.surviveBatch(batch)

  def query: StreamingQuery = inner.query

  /** Block until everything appended so far is curated (read gate). */
  def awaitParity(): Unit = inner.awaitParity()

  def stop(): Unit = inner.stop()
}
