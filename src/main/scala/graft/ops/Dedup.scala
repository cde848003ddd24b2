package graft.ops

import graft.core.Fence
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, each designed
  * around its shuffle profile at 100 TB:
  *
  *  - exact: one hash-aggregate on the text (or a 64-bit fingerprint of
  *    it, so the shuffle moves 8 bytes per doc, not the document).
  *  - MinHash+LSH: shingle → signature (narrow) → band-bucket join
  *    (shuffle on 8-byte band keys) → verify candidates only.
  *  - SimHash: signature (narrow) → pigeonhole segment join → verify by
  *    hamming distance.
  *  - n-gram Jaccard: inverted shingle index self-join — exact, heavier;
  *    rare-shingle filtering keeps the join skew-safe.
  */
object Dedup {

  /** Exact dedup by content: groups identical `textCol`, keeps the lowest
    * id as canonical. Shuffles a 64-bit hash + id per row, never the text
    * itself (two-level: hash group first, so at 100 TB the wide text
    * column stays columnar in the scan and off the wire). */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.groupBy(xxhash64(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("copies"))

  /** Word w-shingles of the lowercased token stream, as an array column. */
  def shingles(text: Column, w: Int = 3): Column = {
    val toks = TextAnalysis.tokens(text)
    array_distinct(
      when(size(toks) < w, toks) // short doc: each token is its own shingle
        .otherwise(transform(
          sequence(lit(0), size(toks) - w),
          i => concat_ws(" ", slice(toks, i + 1, lit(w))))))
  }

  /** Hashed word w-shingles in ONE pass over the raw text: lowercase
    * char-scan tokenization ([a-z0-9]+ runs), rolling token hashes, and a
    * mixed w-token shingle hash — no intermediate token or shingle
    * strings. At 10k docs this is ~30× cheaper than
    * split-regex → array<string> → concat_ws → xxhash64, and at 100 TB it
    * is the difference between one scan of the text bytes and four
    * materializations of them. Returns the SORTED distinct shingle-hash
    * set. Backed by the native codegen expression
    * [[graft.functions.HashedShingles]] (no ScalaUDF conversion wall);
    * [[hashedShinglesUdf]] below is its retained reference twin, pinned
    * bit-identical by OpsSpec. */
  def hashedShinglesCol(text: Column, w: Int = 3): Column =
    graft.functions.HashedShingles.hashed_shingles(text, w)

  /** Reference twin of [[hashedShinglesCol]] in plain Scala UDF form —
    * kept (test-visible, never planned in production paths) so the
    * native expression's bit-identity is continuously verifiable, the
    * same twin pattern as `Similarity.cosineUdf`. */
  private[graft] def hashedShinglesUdf(w: Int) = udf { text: String =>
    if (text == null) Seq.empty[Long]
    else {
      val tokens = scala.collection.mutable.ArrayBuffer.empty[Long]
      var h = 0L; var inTok = false
      var i = 0; val n = text.length
      while (i <= n) {
        val c = if (i < n) Character.toLowerCase(text.charAt(i)) else ' '
        if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) { h = h * 31 + c; inTok = true }
        else if (inTok) {
          tokens += (h ^ (h >>> 17)) * 0x9e3779b97f4a7c15L
          h = 0L; inTok = false
        }
        i += 1
      }
      val m = tokens.length
      val out = new java.util.LinkedHashSet[java.lang.Long]()
      if (m > 0 && m < w) tokens.foreach(t => out.add(t)) // short doc: token = shingle
      else {
        var j = 0
        while (j + w <= m) {
          var s = tokens(j)
          var k = 1
          while (k < w) { s = s * 0xc2b2ae3d27d4eb4fL + tokens(j + k); k += 1 }
          out.add((s ^ (s >>> 29)) * 0xff51afd7ed558ccdL)
          j += 1
        }
      }
      val res = new Array[Long](out.size)
      val it = out.iterator(); var r = 0
      while (it.hasNext) { res(r) = it.next(); r += 1 }
      // sorted output: set semantics are order-free, and sorted arrays
      // let the exact verify be a merge-count instead of hash-set ops
      java.util.Arrays.sort(res)
      res.toSeq
    }
  }

  /** Exact Jaccard of two hash arrays by merge-count — no intermediate
    * arrays or hash sets, ~10× cheaper per pair than
    * `array_intersect`/`array_union` when verifying hundreds of
    * thousands of LSH candidates. The merge needs sorted input;
    * [[hashedShinglesUdf]] emits sorted arrays, and anything else is
    * detected by an O(n) scan and sorted defensively — an unsorted
    * caller pays a sort per pair instead of silently undercounting. */
  private val jaccardSorted = udf { (a0: Seq[Long], b0: Seq[Long]) =>
    def sortedArr(s: Seq[Long]): Array[Long] = {
      val a = s.toArray
      var i = 1
      while (i < a.length && a(i - 1) <= a(i)) i += 1
      if (i < a.length) java.util.Arrays.sort(a)
      a
    }
    val a = sortedArr(a0); val b = sortedArr(b0)
    var i = 0; var j = 0; var inter = 0
    val n = a.length; val m = b.length
    while (i < n && j < m) {
      val x = a(i); val y = b(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    inter.toDouble / (n + m - inter)
  }

  /** MinHash signature from a column of pre-hashed shingles (`array<long>`):
    * `perms` independent min-hashes, each permutation re-mixing the base
    * hash with xxhash64(h, p) — long arithmetic only. Keep the base-hash
    * column materialized (persisted or stored) before applying this, or
    * Catalyst's projection collapse will inline the shingle computation
    * once per permutation. */
  def minhashSignature(hashedShingles: Column, perms: Int = 64): Column =
    transform(
      sequence(lit(0), lit(perms - 1)),
      p => array_min(transform(hashedShingles, h => xxhash64(h, p))))

  /** One-permutation MinHash (Li et al. 2012): a single pass over the
    * hashed shingles, bucketed by `h mod perms` with min per bucket, plus
    * rotation densification for empty buckets. O(K + perms) per document
    * versus O(K × perms) for classic MinHash — at 100 TB this is the
    * difference between one scan and sixty-four. Reference twin of the
    * native codegen expression [[graft.functions.MinhashOph]] — kept
    * test-visible for the bit-identity spec, like [[hashedShinglesUdf]]. */
  private[graft] def minhashOphUdf(perms: Int) = udf { hs: Seq[Long] =>
    val sig = Array.fill[Long](perms)(Long.MaxValue)
    hs.foreach { h =>
      val b = ((h % perms) + perms) % perms
      // re-mix so the bucket min is independent of the bucketing bits
      val m = java.lang.Long.rotateLeft(h, 21) * 0x9e3779b97f4a7c15L
      if (m < sig(b.toInt)) sig(b.toInt) = m
    }
    var i = 0
    while (i < perms) { // densify: borrow circularly from the next filled bucket
      if (sig(i) == Long.MaxValue) {
        var j = (i + 1) % perms
        var hops = 1
        while (sig(j) == Long.MaxValue && hops < perms) { j = (j + 1) % perms; hops += 1 }
        sig(i) = if (sig(j) == Long.MaxValue) 0L else sig(j) + hops
      }
      i += 1
    }
    sig.toSeq
  }

  /** MinHash + LSH near-duplicate pairs.
    *
    * Plan shape: (1) narrow signature computation; (2) explode into
    * `bands` 8-byte band keys; (3) self-join on (band, bandHash) — the
    * only shuffle, on small keys; (4) estimated Jaccard from signature
    * agreement, verified ≥ `threshold`. Bucket-size cap `maxBucket`
    * guards degenerate buckets (boilerplate-heavy corpora) from
    * quadratic blowup — capped buckets are dropped, trading recall for
    * bounded cost, the standard production compromise.
    */
  def minhashLsh(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      perms: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5,
      maxBucket: Int = 64,
      verifyExact: Boolean = false): DataFrame = {
    // Materialization barriers matter here: without them Catalyst's
    // projection collapse inlines the shingle pipeline into all `perms`
    // lambdas (a 64× recompute), and the self-join would recompute the
    // whole signature stage per side. At cluster scale these would be
    // stored signature tables; locally persist() plays that role. The
    // persists are released before returning (the small pair table is
    // checkpointed first), so repeated invocations don't accumulate
    // cached blocks for the session lifetime.
    val hashed = docs
      .select(col(idCol).as("id"), hashedShinglesCol(col(textCol)).as("hs"))
      .where(size(col("hs")) > 0)
      .persist()
    val out = minhashLshFromShingles(hashed, perms, bands, threshold, maxBucket, verifyExact)
    hashed.unpersist(blocking = false)
    out
  }

  /** [[minhashLsh]] over a precomputed shingle table `(id, hs:
    * array<long>)` — lets pipelines that already paid the text pass
    * (e.g. [[Curate]]) reuse it. `hashed` should be persisted (or a
    * stored table); the per-doc shingle sets are read twice: once for
    * signatures, once to re-attach for verification. The canonical
    * producer of `hs` is [[hashedShinglesCol]], which emits SORTED
    * arrays — the exact-verify path merge-counts them; unsorted input
    * is detected and sorted defensively (correct, but pays an extra
    * sort per candidate pair). */
  def minhashLshFromShingles(
      hashed: DataFrame,
      perms: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5,
      maxBucket: Int = 64,
      verifyExact: Boolean = false): DataFrame = Stage.checkpointed { persisted =>
    // `hashed` is caller-owned and stays cached until the caller releases it
    val sigs = hashed
      .select(col("id"), graft.functions.MinhashOph.minhash_oph(col("hs"), perms).as("sig"))
      .persist()
    persisted += sigs
    if (verifyExact) {
      // dup-tolerant candidate stream: the verify's broadcast
      // prefilter dedups survivors, so the full stream skips its
      // distinct shuffle
      val cand = lshCandidates(sigs, perms, bands, maxBucket, dedup = false)
      verifyCandidatesExact(cand, sigs, hashed, "hs", threshold, perms, "est_jaccard")
    } else {
      val cand = lshCandidates(sigs, perms, bands, maxBucket)
      cand
        .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
        .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
        .withColumn("est_jaccard",
          round(sigMatches(col("sig_a"), col("sig_b")).cast("double") / lit(perms.toDouble), 4))
        .where(col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    }
  }

  /** Incremental near-dedup: candidate pairs between a NEW batch and an
    * EXISTING corpus — the operational shape of production dedup, where
    * each crawl is checked against the already-kept corpus rather than
    * re-running the self-join over everything. Returns
    * `(id_a = new id, id_b = base id, est_jaccard)`.
    *
    * Id spaces must be disjoint (a new batch vs a stored corpus always
    * is). The base side would be a STORED signature table in a real
    * pipeline ([[minhashLshIncrementalStored]]), read once per batch, so
    * the recurring cost is proportional to the new batch, not the
    * corpus; see [[incrementalPairs]] for the plan. Hot band buckets are
    * capped on each side independently (fanout per key ≤ maxBucket²),
    * the same recall-for-bounded-cost trade as the self-join path. */
  def minhashLshIncremental(
      newDocs: DataFrame,
      baseDocs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      perms: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5,
      maxBucket: Int = 64,
      verifyExact: Boolean = false,
      maxBroadcastKeys: Long = 4L * 1000 * 1000): DataFrame =
    minhashLshIncrementalStored(newDocs,
      signatureTable(baseDocs, idCol, textCol, perms).persist(),
      idCol, textCol, perms, bands, threshold, maxBucket, verifyExact,
      ownsBase = true, maxBroadcastKeys = maxBroadcastKeys)

  /** The `(id, hs, sig)` signature table of a corpus — compute once,
    * store (parquet), and hand to [[minhashLshIncrementalStored]] for
    * every subsequent batch: the recurring dedup cost then scales with
    * the new batch, never the corpus. */
  def signatureTable(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      perms: Int = 64): DataFrame = {
    val hashed = docs
      .select(col(idCol).as("id"), hashedShinglesCol(col(textCol)).as("hs"))
      .where(size(col("hs")) > 0)
    // two-stage select: sig must not inline the shingle UDF per reference
    hashed.select(col("id"), col("hs"), graft.functions.MinhashOph.minhash_oph(col("hs"), perms).as("sig"))
  }

  /** [[minhashLshIncremental]] against a precomputed base signature
    * table (`(id, hs, sig)` as produced by [[signatureTable]], typically
    * read back from storage). The new side's signature table is built
    * once and persisted; `baseSigs` is read exactly once. */
  def minhashLshIncrementalStored(
      newDocs: DataFrame,
      baseSigs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      perms: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5,
      maxBucket: Int = 64,
      verifyExact: Boolean = false,
      ownsBase: Boolean = false,
      maxBroadcastKeys: Long = 4L * 1000 * 1000): DataFrame = {
    val newSigs = signatureTable(newDocs, idCol, textCol, perms).persist()
    val out = minhashLshIncrementalFromSigs(newSigs, baseSigs, perms, bands, threshold,
      maxBucket, verifyExact, ownsBase, maxBroadcastKeys)
    newSigs.unpersist(blocking = false)
    out
  }

  /** [[minhashLshIncrementalStored]] when the NEW side's signature table
    * `(id, hs, sig)` is ALSO precomputed (and persisted) — zero text or
    * shingle recompute on either side. The streaming curator's shape:
    * one signature pass per batch serves self-dedup, the incremental
    * check AND the absorb. */
  def minhashLshIncrementalFromSigs(
      newSigs: DataFrame,
      baseSigs: DataFrame,
      perms: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5,
      maxBucket: Int = 64,
      verifyExact: Boolean = false,
      ownsBase: Boolean = false,
      maxBroadcastKeys: Long = 4L * 1000 * 1000): DataFrame =
    Stage.checkpointed { persisted =>
      if (ownsBase) persisted += baseSigs
      incrementalPairs(newSigs, baseSigs, perms, bands, threshold, maxBucket,
        verifyExact, persisted, maxBroadcastKeys)
    }

  /** The incremental stage: ONE pass over the stored table per batch,
    * and each batch-side frame read from the caller's cache.
    *
    *  1–3. [[BandJoin.candidates]] over the band keys: the batch's capped
    *     key table broadcasts under the fence, and the stored side is one
    *     columnar scan with a map-side band explode and a broadcast-hash
    *     probe that carries the matched rows' `sig_b` (and, with
    *     `verifyExact`, `hs_b`), capped per key. Only matched rows (∝
    *     batch × bucket) enter an exchange.
    *  4. `sig_a`/`hs_a` attach from `newSigs` by id — the batch's own
    *     (cached) table; nothing counts or broadcasts batch ∪ stored. The
    *     signature prefilter and the size bound run before the exact
    *     merge-count (the gates of [[verifyCandidatesExact]]), and
    *     band-duplicate pairs collapse once, after the verify, where
    *     survivors are few.
    *
    * Frames persisted here are appended to `persisted` for the caller
    * to release after materialization. */
  private def incrementalPairs(
      newSigs: DataFrame,
      baseSigs: DataFrame,
      perms: Int,
      bands: Int,
      threshold: Double,
      maxBucket: Int,
      verifyExact: Boolean,
      persisted: scala.collection.mutable.Buffer[DataFrame],
      maxBroadcastKeys: Long): DataFrame = {
    val carry = if (verifyExact) Seq("sig", "hs") else Seq("sig")
    val withA = incrementalCandidates(newSigs, baseSigs, perms, bands, maxBucket, carry,
        persisted, maxBroadcastKeys)
      .join(newSigs.select(col("id").as("id_a") +: carry.map(c => col(c).as(s"${c}_a")): _*),
        Seq("id_a"))
    val scored =
      if (verifyExact)
        withA
          .where(sigPrefilter(threshold, perms))
          .where(sizeBound(threshold))
          .withColumn("est_jaccard", round(jaccardSorted(col("hs_a"), col("hs_b")), 4))
      else withA.withColumn("est_jaccard",
        round(sigMatches(col("sig_a"), col("sig_b")).cast("double") / lit(perms.toDouble), 4))
    scored.where(col("est_jaccard") >= threshold)
      .select("id_a", "id_b", "est_jaccard")
      .distinct()
  }

  /** Steps 1–3 of [[incrementalPairs]]: the band-duplicated candidate
    * stream `(id_a, id_b, <carry>_b…)` — a pair arrives once per band
    * key it shares — with the base side's `carry` columns riding from
    * the single stored scan. */
  private def incrementalCandidates(
      newSigs: DataFrame,
      baseSigs: DataFrame,
      perms: Int,
      bands: Int,
      maxBucket: Int,
      carry: Seq[String],
      persisted: scala.collection.mutable.Buffer[DataFrame],
      maxBroadcastKeys: Long): DataFrame = {
    def bandKey = explode(graft.functions.BandKeys.band_keys(col("sig"), perms, bands)).as("bandkey")
    BandJoin.candidates(
      newSigs.select(col("id").as("id_a"), bandKey),
      baseSigs.select((col("id").as("id_b") +: carry.map(c => col(c).as(s"${c}_b"))) :+ bandKey: _*),
      Seq("bandkey"), Nil, carry.map(c => s"${c}_b"), maxBucket, maxBroadcastKeys, persisted)
  }

  /** Dev/test access to the incremental stage before its checkpoint, so
    * plan assertions can see the broadcast shape and the stored scans:
    * the distinct `(id_a, id_b)` candidates, and the verified pairs
    * exactly as [[minhashLshIncrementalFromSigs]] builds them. */
  private[graft] def incrementalCandidatesPublic(
      newSigs: DataFrame, baseSigs: DataFrame,
      perms: Int = 64, bands: Int = 16, maxBucket: Int = 64,
      maxBroadcastKeys: Long = 4L * 1000 * 1000): DataFrame =
    incrementalCandidates(newSigs, baseSigs, perms, bands, maxBucket, Nil,
      scala.collection.mutable.Buffer.empty, maxBroadcastKeys).distinct()
  private[graft] def incrementalPairsPublic(
      newSigs: DataFrame, baseSigs: DataFrame,
      perms: Int = 64, bands: Int = 16, threshold: Double = 0.5, maxBucket: Int = 64,
      verifyExact: Boolean = false, maxBroadcastKeys: Long = 4L * 1000 * 1000): DataFrame =
    incrementalPairs(newSigs, baseSigs, perms, bands, threshold, maxBucket, verifyExact,
      scala.collection.mutable.Buffer.empty, maxBroadcastKeys)

  /** [[minhashLshFromShingles]] over a full precomputed `(id, hs, sig)`
    * signature table (persisted or stored) — the self-join dedup with
    * zero shingle or minhash recompute. */
  def minhashLshFromSigs(
      sigTable: DataFrame,
      perms: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5,
      maxBucket: Int = 64,
      verifyExact: Boolean = false): DataFrame = {
    val sigs = sigTable.select("id", "sig")
    val pairs =
      if (verifyExact) {
        val cand = lshCandidates(sigs, perms, bands, maxBucket, dedup = false)
        verifyCandidatesExact(cand, sigs, sigTable.select("id", "hs"), "hs",
          threshold, perms, "est_jaccard")
      } else {
        val cand = lshCandidates(sigs, perms, bands, maxBucket)
        cand
          .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
          .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
          .withColumn("est_jaccard",
            round(sigMatches(col("sig_a"), col("sig_b")).cast("double") / lit(perms.toDouble), 4))
          .where(col("est_jaccard") >= threshold)
          .select("id_a", "id_b", "est_jaccard")
      }
    pairs.localCheckpoint(true)
  }

  /** Exact Jaccard on the true shingle sets of candidate pairs — the
    * LSH narrows, the verify is authoritative (no estimator variance).
    * Two cheap gates run BEFORE the heavy arrays are attached: (1) a
    * signature-agreement prefilter — signatures are ~50 bytes/doc and
    * auto-broadcastable where the shingle sets are kilobytes and are
    * not, so estimating first means the candidate table never shuffles
    * full arrays for pairs that are nowhere near the threshold; the
    * slack (0.25 ≈ 4σ at 64 perms) makes a drop of a true ≥threshold
    * pair as unlikely as an LSH banding miss, which this path already
    * accepts. (2) the size bound (j ≤ min/max). Survivors pay one
    * merge-count over sorted hashes. Shared by the minhash and n-gram
    * exact-verify paths so the staging can never diverge. */
  private def verifyCandidatesExact(
      cand: DataFrame, sigs: DataFrame, shingleTable: DataFrame, shingleCol: String,
      threshold: Double, perms: Int, outCol: String): DataFrame = {
    // Broadcast the signature table when it is PROVABLY broadcast-sized:
    // every caller persists `sigs`, so count() materializes that cache
    // once (a barrier the pipeline wants anyway) and gives an exact row
    // count — the optimizer can't see through the shingle UDF's unknown
    // stats and would otherwise shuffle the (large) candidate table
    // twice just to attach 8-byte-per-perm signatures. Beyond the bound
    // (billions of docs) the joins fall back to the optimizer's shuffle
    // join on id — the right plan at that scale.
    val sigBytes = sigs.count() * (perms.toLong * 8L + 16L)
    val broadcastable = sigBytes <= (32L << 20)
    val sigsB = if (broadcastable) broadcast(sigs) else sigs
    // The candidate stream may carry band-duplicates (a pair colliding
    // in b bands arrives b times). With broadcast joins the prefilter is
    // narrow, so dedup AFTER it, where survivors are few. On the
    // shuffle-join fallback that ordering inverts: the joins would
    // shuffle the duplicated stream at band-multiplied volume, so drop
    // duplicates up front — one pair-key shuffle vs up to `bands`× the
    // join wire cost.
    val candIn = if (broadcastable) cand else cand.distinct()
    val prefiltered = candIn
      .join(sigsB.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(sigsB.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .where(sigPrefilter(threshold, perms))
      .select("id_a", "id_b")
      .distinct()
    prefiltered
      .join(shingleTable.select(col("id").as("id_a"), col(shingleCol).as("hs_a")), Seq("id_a"))
      .join(shingleTable.select(col("id").as("id_b"), col(shingleCol).as("hs_b")), Seq("id_b"))
      .where(sizeBound(threshold))
      .withColumn(outCol, round(jaccardSorted(col("hs_a"), col("hs_b")), 4))
      .where(col(outCol) >= threshold)
      .select(col("id_a"), col("id_b"), col(outCol))
  }

  /** The exact verify's signature gate on `(sig_a, sig_b)`: agreement
    * at least `threshold − 0.25` of the perms (the slack is ≈ 4σ at 64
    * perms; see [[verifyCandidatesExact]]). */
  private def sigPrefilter(threshold: Double, perms: Int): Column =
    sigMatches(col("sig_a"), col("sig_b")).cast("double") >= lit((threshold - 0.25) * perms)

  /** The exact verify's size gate on `(hs_a, hs_b)`: Jaccard ≤ min/max,
    * so a pair whose set sizes differ past the threshold cannot pass. */
  private def sizeBound(threshold: Double): Column =
    least(size(col("hs_a")), size(col("hs_b"))).cast("double") >=
      lit(threshold - 0.001) * greatest(size(col("hs_a")), size(col("hs_b"))).cast("double")

  /** Dev-tool access to the private stages (profilers live in
    * graft.tools). */
  private[graft] def minhashCol(hs: Column, perms: Int): Column =
    graft.functions.MinhashOph.minhash_oph(hs, perms)
  private[graft] def lshCandidatesPublic(sigs: DataFrame, perms: Int, bands: Int, maxBucket: Int): DataFrame =
    lshCandidates(sigs, perms, bands, maxBucket)
  private[graft] def sigMatchesPublic(a: Column, b: Column): Column = sigMatches(a, b)
  private[graft] def jaccardSortedPublic(a: Column, b: Column): Column = jaccardSorted(a, b)

  /** Positions where two signatures agree — the MinHash Jaccard
    * estimator's numerator, evaluated per candidate pair. Native codegen
    * expression: both the `size(filter(zip_with(...)))` HOF chain and a
    * Scala UDF measured ~5 µs/row from per-element boxing, which made
    * the estimator the most expensive part of the prefilter stage. */
  private def sigMatches(a: Column, b: Column): Column =
    graft.functions.SigAgreement.sig_agreement(a, b)

  /** All `bands` band keys of a signature in one pass — pure long
    * mixing (rotate/multiply/xor per row value, band index folded in).
    * The column-algebra form (`xxhash64(concat_ws(transform(slice(...))))`
    * per band) stringifies every signature value in every band: 32 bands
    * × 2 longs → 64 long→string conversions per row, which made
    * candidate generation the most expensive LSH stage. Key quality only
    * needs determinism + good mixing; equal row-groups hash equal either
    * way, so planted-pair recall is identical. */
  /** Reference twin of [[graft.functions.BandKeys]] — test-visible for
    * the bit-identity spec, like [[minhashOphUdf]]. */
  private[graft] def bandKeysUdf(perms: Int, bands: Int) = udf { sig: Seq[Long] =>
    val rows = perms / bands
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = 1125899906842597L ^ (b.toLong * 0x9e3779b97f4a7c15L)
      var r = 0
      while (r < rows) {
        h = java.lang.Long.rotateLeft(h * 0x87c37b91114253d5L, 31) ^ sig(b * rows + r)
        r += 1
      }
      out(b) = (h ^ (h >>> 33)) * 0xff51afd7ed558ccdL
      b += 1
    }
    out.toSeq
  }

  /** Banded-LSH candidate pairs from a signature table `(id, sig:
    * array<long>)`: each signature is cut into `bands` row-groups hashed
    * to an 8-byte band key (band index folded into the hash); candidate
    * pairs are expanded *inside* each hash bucket after ONE shuffle of
    * (bandKey, id) rows — sort each partition by (bandkey, id) and
    * stream pairs out of every key run — rather than a self-join (which
    * shuffles the banded table twice and probes a hash relation per
    * row) or a group-collect (whose `ObjectHashAggregate` id-array map
    * measured ~25% slower and spills worse than sort). `maxBucket` caps
    * degenerate buckets (boilerplate-heavy corpora) so no bucket can go
    * quadratic: oversize runs are dropped whole, trading recall for
    * bounded cost. */
  private def lshCandidates(
      sigs: DataFrame, perms: Int, bands: Int, maxBucket: Int,
      dedup: Boolean = true): DataFrame = {
    val spark = sigs.sparkSession
    import spark.implicits._
    val banded = sigs.select(
      col("id"),
      explode(graft.functions.BandKeys.band_keys(col("sig"), perms, bands)).as("bandkey"))
    val pairs = banded.repartition(col("bandkey")).sortWithinPartitions("bandkey", "id")
      .select(col("bandkey"), col("id")).as[(Long, Long)]
      .mapPartitions { it =>
        val buf = new scala.collection.mutable.ArrayBuffer[Long](64)
        var curKey = 0L
        var started = false
        def flush(): Iterator[(Long, Long)] =
          if (buf.length < 2 || buf.length > maxBucket) Iterator.empty
          else {
            val ids = buf.toArray
            val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](ids.length * (ids.length - 1) / 2)
            var i = 0
            while (i < ids.length) {
              var j = i + 1
              while (j < ids.length) { out += ((ids(i), ids(j))); j += 1 }
              i += 1
            }
            out.iterator
          }
        new Iterator[Iterator[(Long, Long)]] {
          def hasNext: Boolean = it.hasNext || buf.nonEmpty
          def next(): Iterator[(Long, Long)] =
            if (!it.hasNext) { val r = flush(); buf.clear(); r }
            else {
              val (k, id) = it.next()
              if (!started) { started = true; curKey = k; buf += id; Iterator.empty }
              else if (k == curKey) { buf += id; Iterator.empty }
              else { val r = flush(); buf.clear(); curKey = k; buf += id; r }
            }
        }.flatten
      }
      .toDF("id_a", "id_b")
    // A pair colliding in b bands is emitted b times. Exact-verify
    // callers dedup AFTER their cheap prefilter (dedup = false here),
    // so the full candidate stream never pays a shuffle of its own;
    // estimator-only callers need the distinct up front.
    if (dedup) pairs.distinct() else pairs
  }

  /** Reference twin of [[graft.functions.SimHash64]] over the tokenized
    * array — test-visible for the bit-identity spec, like
    * [[hashedShinglesUdf]]. (The native form fuses tokenization and
    * signing into one codegen'd pass over the raw text.) */
  private[graft] val simhash64Udf = udf { toks: Seq[String] =>
    val acc = new Array[Int](64)
    toks.foreach { t =>
      var h = scala.util.hashing.MurmurHash3.stringHash(t).toLong & 0xffffffffL
      h = h * 0x9e3779b97f4a7c15L // spread to 64 bits
      var i = 0
      while (i < 64) { if (((h >>> i) & 1L) == 1L) acc(i) += 1 else acc(i) -= 1; i += 1 }
    }
    var out = 0L
    var i = 0
    while (i < 64) { if (acc(i) > 0) out |= (1L << i); i += 1 }
    out
  }

  /** SimHash near-dup pairs with hamming distance ≤ `maxHamming`.
    * Pigeonhole blocking: split the 64-bit signature into `maxHamming+1`
    * segments — any pair within the distance must agree on ≥1 whole
    * segment, so candidates come from equi-joins on (segment index,
    * segment value): shuffle on 8-byte keys, verify with `bit_count`. */
  def simhashDedup(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxHamming: Int = 3): DataFrame = {
    val nSeg = maxHamming + 1
    val segBits = 64 / nSeg
    val sigs = docs.select(
      col(idCol).as("id"),
      graft.functions.SimHash64.simhash64(col(textCol)).as("sig"))

    val segmented = sigs.select(
      col("id"), col("sig"),
      posexplode(array((0 until nSeg).map(s =>
        shiftright(col("sig"), s * segBits).bitwiseAND(lit((1L << segBits) - 1))): _*)))
      .withColumnRenamed("pos", "seg").withColumnRenamed("col", "segval")

    val l = segmented.select(col("seg"), col("segval"), col("id").as("id_a"), col("sig").as("sig_a"))
    val r = segmented.select(col("seg"), col("segval"), col("id").as("id_b"), col("sig").as("sig_b"))
    l.join(r, Seq("seg", "segval")).where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      // hamming filter BEFORE the distinct: the verify is a narrow
      // bit_count, so the dedup shuffle only carries surviving pairs
      // (a pair agreeing on s segments arrives s times; survivors are
      // the selective minority)
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Exact n-gram Jaccard near-dup pairs.
    *
    * Default path (`exhaustive = false`) is LSH-candidates + exact
    * verify: banded-minhash buckets generate candidate pairs (the same
    * shared join as [[minhashLsh]] — shuffle on 8-byte band keys), and
    * the reported Jaccard is computed exactly on the true shingle sets of
    * candidates only. With 2 signature rows per band a true pair at the
    * 0.5 threshold is missed with probability (1 − 0.5²)³² ≈ 1e-4, and
    * near-dup corpora cluster well above threshold (every observed
    * fixture pair ≥ 0.7 ⇒ miss ≤ 4e-10) — while candidate volume stays
    * linear in documents instead of quadratic in hot postings.
    *
    * `exhaustive = true` keeps the inverted-index self-join: explode
    * shingles → self-join on shingle → shared counts are the
    * intersection. Guaranteed-exact recall, but pair generation is
    * quadratic inside hot postings; DF-filter `maxDocFreq` drops
    * boilerplate shingles (the skew guard — a shingle in 10k docs would
    * otherwise emit 10k² join rows). */
  def ngramJaccard(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      w: Int = 3,
      threshold: Double = 0.5,
      maxDocFreq: Int = 100,
      exhaustive: Boolean = false,
      perms: Int = 64,
      bands: Int = 32): DataFrame = Stage.checkpointed { persisted =>
    // Posting keys are 8-byte shingle hashes, not the shingle strings —
    // all shuffles move longs, not text. Collisions only perturb counts
    // at ~2^-64, irrelevant for a 0-1 Jaccard.
    val sh = docs.select(col(idCol).as("id"), hashedShinglesCol(col(textCol), w).as("sh"))
      .where(size(col("sh")) > 0)
      .persist()
    persisted += sh
    if (exhaustive) {
      val counts = sh.select(col("id"), size(col("sh")).as("n"))
      val inv = sh.select(col("id"), explode(col("sh")).as("shingle"))
      // document-frequency filter as a count-over-partition window: ONE
      // shuffle of the posting list (an aggregate + semi-join
      // formulation shuffles it twice and measured ~30% slower)
      val rare = inv.withColumn("df", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("shingle")))
        .where(col("df") <= maxDocFreq).drop("df")

      val shared = rare.select(col("shingle"), col("id").as("id_a"))
        .join(rare.select(col("shingle"), col("id").as("id_b")), Seq("shingle"))
        .where(col("id_a") < col("id_b"))
        .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))

      shared
        .join(counts.select(col("id").as("id_a"), col("n").as("n_a")), Seq("id_a"))
        .join(counts.select(col("id").as("id_b"), col("n").as("n_b")), Seq("id_b"))
        .select(col("id_a"), col("id_b"),
          round(col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")), 4).as("jaccard"))
        .where(col("jaccard") >= threshold)
    } else {
      // maxDocFreq plays the same role the bucket cap plays in
      // minhashLsh: it bounds the quadratic inside any degenerate
      // band bucket (boilerplate-heavy corpora). Verify staging shared
      // with minhashLshFromShingles (verifyCandidatesExact).
      val sigs = sh.select(col("id"), graft.functions.MinhashOph.minhash_oph(col("sh"), perms).as("sig")).persist()
      persisted += sigs
      val cand = lshCandidates(sigs, perms, bands, maxBucket = maxDocFreq, dedup = false)
      verifyCandidatesExact(cand, sigs, sh, "sh", threshold, perms, "jaccard")
    }
  }

  /** Asymmetric containment near-dup pairs: C = |A∩B| / min(|A|,|B|) on
    * word w-shingle sets — the subset/quote detector. A short document
    * fully embedded in a long one has containment ≈ 1 but Jaccard
    * ≈ |A|/|B| ≈ 0, so MinHash-LSH (which estimates JACCARD) is
    * structurally blind to it — its bands collide with probability
    * driven by the small Jaccard, not the large containment. Candidate
    * generation therefore uses the inverted index, not signatures: the
    * intersection |A∩B| is an exact per-pair count of shared shingle
    * hashes (one posting-list self-join, the [[ngramJaccard]]
    * `exhaustive` shape), and the df cap `maxDocFreq` is the skew guard
    * that bounds the quadratic inside hot postings. All shuffles carry
    * 8-byte hashes; output pairs are undirected (`id_a < id_b`) — the
    * contained side is the one with the smaller shingle count. */
  def containment(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      w: Int = 3,
      threshold: Double = 0.8,
      maxDocFreq: Int = 100,
      maxDocFreqPercentile: Option[Double] = None): DataFrame =
    containmentFromShingles(
      docs.select(col(idCol).as("id"), hashedShinglesCol(col(textCol), w).as("sh")),
      threshold, maxDocFreq, maxDocFreqPercentile)

  /** [[containment]] over PRECOMPUTED shingle sets `(id, sh)` — the
    * zero-reshingle form for pipelines that already hold the per-doc
    * feature table ([[graft.ops.Curate.curate]]'s containment stage,
    * anything holding a [[signatureTable]]'s `hs` column). */
  def containmentFromShingles(
      shingled: DataFrame,
      threshold: Double = 0.8,
      maxDocFreq: Int = 100,
      maxDocFreqPercentile: Option[Double] = None): DataFrame = Stage.checkpointed { persisted =>
    val sh = shingled.select(col("id"), col("sh"))
      .where(size(col("sh")) > 0)
      .persist()
    persisted += sh
    val counts = sh.select(col("id"), size(col("sh")).as("n"))
    val inv = sh.select(col("id"), explode(col("sh")).as("shingle"))
    // Two cap forms. The ABSOLUTE `maxDocFreq` is right when the
    // operator knows its boilerplate scale a priori; the PERCENTILE
    // form is the round-13 scale-probe rule (SCALING.md): candidate
    // volume is Σ df², and df grows with the corpus, so a cap that is
    // a fixed df QUANTILE of the corpus's own distribution bounds the
    // per-shingle quadratic by budget — a shingle in more documents
    // than (1-p) of all shingles is boilerplate by definition, at any
    // corpus size. The quantile is exact (interpolated `percentile`
    // over the distinct-shingle df table — far smaller than the
    // corpus; one scalar to the driver), so the oracle replays it with
    // `quantile_cont`.
    val rare = maxDocFreqPercentile match {
      case Some(p) =>
        require(p > 0 && p <= 1, s"maxDocFreqPercentile in (0,1], got $p")
        val dfTable = inv.groupBy("shingle").agg(count(lit(1)).as("df")).persist()
        persisted += dfTable
        // percentile over an EMPTY df table is null (every doc was
        // empty/whitespace after shingling) — degrade to the empty
        // postings frame like the absolute-cap arm does, instead of NPE.
        val capRow = dfTable.agg(expr(s"percentile(df, $p)")).head()
        if (capRow.isNullAt(0)) inv.limit(0)
        else {
          val cap = capRow.getDouble(0)
          // df >= 2: a shingle held by a single document can never
          // produce an (id_a < id_b) pair, so dropping singletons here
          // is result-identical and removes the bulk of the postings
          // (most shingles are unique) before the self-join's exchange
          // — guide §2.3, shuffle fewer bytes.
          inv.join(dfTable.where(col("df") <= cap && col("df") >= 2).select("shingle"),
            Seq("shingle"), "left_semi")
        }
      case None =>
        inv.withColumn("df", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy("shingle")))
          .where(col("df") <= maxDocFreq && col("df") >= 2).drop("df")
    }
    val shared = rare.select(col("shingle"), col("id").as("id_a"))
      .join(rare.select(col("shingle"), col("id").as("id_b")), Seq("shingle"))
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    shared
      .join(counts.select(col("id").as("id_a"), col("n").as("n_a")), Seq("id_a"))
      .join(counts.select(col("id").as("id_b"), col("n").as("n_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(col("inter").cast("double") / least(col("n_a"), col("n_b")).cast("double"), 4)
          .as("containment"))
      .where(col("containment") >= threshold)
  }

  /** Containment verdicts for a NEW batch against a STORED corpus —
    * [[containment]]'s recurring form, closing the last dedup-family
    * ladder: which stored documents contain (or are contained by) each
    * new quote/snippet. Consumes the `(id, hs)` columns the minhash
    * [[signatureTable]] already stores — the shingle sets are shared
    * infrastructure, no new artifact.
    *
    * 100 TB shape (the incremental discipline): the batch's distinct
    * shingle keys broadcast (count-fenced), the stored inverted index
    * is one explode + broadcast semi-join — it never shuffles — and
    * the document-frequency cap is computed over MATCHED postings only
    * (batch-scoped, never a corpus-wide aggregate; a hot boilerplate
    * shingle is dropped exactly as the one-shot drops it). The pair
    * aggregate and the size joins are batch-scoped. */
  def containmentIncremental(
      newDocs: DataFrame,
      baseSigs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      w: Int = 3,
      threshold: Double = 0.8,
      maxDocFreq: Int = 100,
      maxBroadcastKeys: Long = 4L * 1000 * 1000): DataFrame = Stage.checkpointed { persisted =>
    val hn = newDocs
      .select(col(idCol).as("id_a"), hashedShinglesCol(col(textCol), w).as("sh"))
      .where(size(col("sh")) > 0).persist()
    val na = hn.select(col("id_a"), size(col("sh")).as("n_a"))
    val invA = hn.select(col("id_a"), explode(col("sh")).as("shingle"))
    val keys = invA.select("shingle").distinct().persist()
    persisted ++= Seq(hn, keys)
    val storedInv = baseSigs.select(col("id").as("id_b"), explode(col("hs")).as("shingle"))
    val matched = storedInv.join(
      if (Fence.broadcastable(keys, maxBroadcastKeys)) broadcast(keys) else keys, Seq("shingle")).persist()
    persisted += matched
    val hot = matched.groupBy("shingle").count()
      .where(col("count") > maxDocFreq).select("shingle")
    val cold = matched.join(hot, Seq("shingle"), "left_anti")
    val shared = invA.join(cold, Seq("shingle"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    val nb = baseSigs.select(col("id").as("id_b"), size(col("hs")).as("n_b"))
    // the pair table is batch-scoped — broadcast it into the corpus-side
    // size lookup rather than shuffling the (id, n) table
    nb.join(broadcast(shared.join(broadcast(na), Seq("id_a"))), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(col("inter").cast("double") / least(col("n_a"), col("n_b")).cast("double"), 4)
          .as("containment"))
      .where(col("containment") >= threshold)
  }

  /** EXACT all-pairs Jaccard similarity join by prefix filtering — the
    * AllPairs/PPJoin family (Bayardo et al. WWW'07; Xiao et al. WWW'08)
    * over word w-shingle sets. Unlike [[minhashLsh]] (probabilistic,
    * recall < 1) and the [[ngramJaccard]] `exhaustive` path (joins the
    * FULL inverted index, candidate volume ∝ Σ df²  over every posting),
    * prefix filtering is exact with a certificate: order each set's
    * shingles by ascending global document frequency (rarest first,
    * hash tie-break) and index only each document's first
    * `n − ceil(t·n) + 1` shingles. If J(A,B) ≥ t then
    * |A∩B| ≥ ceil(t·max(|A|,|B|)), so the intersection cannot hide
    * entirely in either suffix (pigeonhole: each suffix holds
    * ≤ ceil(t·n) − 1 elements) — every qualifying pair shares a PREFIX
    * shingle, and only prefix postings are ever joined.
    *
    * 100 TB shape: the prefix index is the rarest (1−t) fraction of the
    * postings — the df ordering concentrates the join on the tokens
    * least likely to collide, so hot boilerplate shingles land in
    * suffixes and never generate candidates (the self-limiting property
    * the `maxDocFreq` cap approximates for the full-index path, here
    * with zero recall loss). All shuffles carry 8-byte hashes; the
    * per-pair verify is the [[jaccardSorted]] merge over stored sorted
    * arrays, bounded by candidate count, plus the size filter
    * t·|B| ≤ |A| ≤ |B|/t that removes length-incompatible candidates
    * before any array is touched. */
  def jaccardPrefixJoin(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      w: Int = 3,
      threshold: Double = 0.8): DataFrame = Stage.checkpointed { persisted =>
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1], got $threshold")
    // The final accept is on ROUNDED jaccard (round(J,4) >= t — the
    // oracle's and ngramJaccard's contract), so a pair with true
    // J ∈ [t − 5e-5, t) still qualifies. Every PRUNING stage therefore
    // uses tEff = t − 5e-5: prefixes a shade longer, size/positional
    // bounds a shade looser — strictly more candidates, never fewer, so
    // the no-false-negative certificate holds for the rounded accept.
    val tEff = threshold - 5e-5
    val sh = docs.select(col(idCol).as("id"), hashedShinglesCol(col(textCol), w).as("sh"))
      .where(size(col("sh")) > 0)
      .persist()
    persisted += sh
    val inv = sh.select(col("id"), size(col("sh")).as("n"), explode(col("sh")).as("g"))
    // global rarity order: df as a map-side-combined AGGREGATE (vocab-
    // sized result) joined back — AQE turns the join broadcast when the
    // vocabulary is small, so the full posting list shuffles ONCE (for
    // the per-doc rank window) instead of twice (a count-over-g window
    // would shuffle every posting a second time just to stamp df).
    val freq = inv.groupBy("g").agg(count(lit(1)).as("df"))
    val byDoc = org.apache.spark.sql.expressions.Window.partitionBy("id")
      .orderBy(col("df"), col("g"))
    val prefix = inv.join(freq, Seq("g"))
      .withColumn("rn", row_number().over(byDoc))
      .where(col("rn") <= col("n") - ceil(lit(tEff) * col("n")) + 1)
      .select("id", "n", "rn", "g")
    // PPJoin positional filter (Xiao et al. §3.2), applied per shared
    // prefix token BEFORE the pair distinct: J ≥ t needs overlap
    // O ≥ t/(1+t)·(n_a+n_b), and at a pair's FIRST common token (ranks
    // r_a, r_b in the shared df order) O ≤ 1 + min(n_a−r_a, n_b−r_b) —
    // so a qualifying pair always survives via that token's row, while
    // result-sparse corpora shed almost all candidates here (measured
    // sf0.1 documents @ t=0.3: 596k surviving pairs → ~300, the true
    // result plus noise, with the verify no longer the dominant stage).
    val cand = prefix.select(col("g"), col("id").as("id_a"), col("n").as("n_a"), col("rn").as("r_a"))
      .join(prefix.select(col("g"), col("id").as("id_b"), col("n").as("n_b"), col("rn").as("r_b")), Seq("g"))
      .where(col("id_a") < col("id_b") &&
        least(col("n_a"), col("n_b")).cast("double") >=
          lit(tEff - 1e-9) * greatest(col("n_a"), col("n_b")).cast("double") &&
        (lit(1) + least(col("n_a") - col("r_a"), col("n_b") - col("r_b"))).cast("double") >=
          lit(tEff / (1 + tEff)) * (col("n_a") + col("n_b")).cast("double") - lit(1e-9))
      .select("id_a", "id_b")
      .distinct()
    cand
      .join(sh.select(col("id").as("id_a"), col("sh").as("hs_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("hs_b")), Seq("id_b"))
      .withColumn("jaccard", round(jaccardSorted(col("hs_a"), col("hs_b")), 4))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Similar-document retrieval: for each document, its `k` nearest
    * neighbors among all documents with Jaccard ≥ `threshold` — the
    * "related documents" / duplicate-triage surface over the EXACT
    * [[jaccardPrefixJoin]] pair set (no recall loss to explain to a
    * reviewer). The per-doc top-k is the bounded-heap
    * [[graft.functions.TopKAggregator]] — a hash aggregate with
    * map-side combine over the (already sparse) pair list, never a
    * rank window over all pairs. Ties break (jaccard desc, neighbor
    * asc), same contract as the grouped top-k query. */
  def similarTopK(
      docs: DataFrame,
      k: Int = 3,
      threshold: Double = 0.3,
      w: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val pairs = jaccardPrefixJoin(docs, idCol, textCol, w, threshold)
    val sym = pairs.select(col("id_a").as("doc_id"), col("id_b").as("nbr"), col("jaccard"))
      .unionByName(pairs.select(col("id_b").as("doc_id"), col("id_a").as("nbr"), col("jaccard")))
    val topk = udaf(new graft.functions.TopKAggregator(k))
    sym.groupBy("doc_id").agg(topk(col("jaccard"), col("nbr")).as("top"))
      .select(col("doc_id"), posexplode(col("top")))
      .select(col("doc_id"), (col("pos") + 1).cast("bigint").as("rnk"),
        col("col._2").as("nbr"), col("col._1").as("jaccard"))
  }

  /** Substring-level exact dedup — the public Lee et al. "Deduplicating
    * Training Data Makes Language Models Better" ExactSubstr method,
    * restated as sorted k-gram fingerprints instead of a suffix array:
    * find maximal token spans of length ≥ k that recur across documents.
    * This catches cross-document repeated SPANS (boilerplate, licenses,
    * quoted passages) that document-pair methods miss — two documents can
    * sit far below any Jaccard threshold yet share a long verbatim run.
    *
    * Pipeline: tokenize → positional k-gram 64-bit fingerprints (one row
    * per token position) → document frequency per fingerprint → keep
    * fingerprints seen in ≥ `minDocs` distinct docs → merge each doc's
    * surviving positions into maximal spans (gaps-and-islands window per
    * doc). Output: `(doc_id, start_tok, end_tok, dup_tokens)`, token
    * positions 1-based inclusive.
    *
    * 100 TB shape: everything that shuffles is an 8-byte fingerprint +
    * id + position — never text; the frequency pass is two map-side
    * partial hash aggregates ((g, doc) then g, the vocabBuild shape);
    * the island merge windows per-document, never globally. Like the
    * minhash `signatureTable`, a production corpus stores the positional
    * fingerprint table once and re-derives spans per policy change; here
    * both derivations re-scan the text (two columnar scans of one
    * column), the same trade `Curate` makes over caching the corpus. */
  /** Reference twin of [[graft.functions.PositionalGrams]] in plain UDF
    * form — kept test-visible for the bit-identity spec, like
    * [[hashedShinglesUdf]]. (History: the column-algebra form
    * (`transform` + `concat_ws` + `xxhash64` per position)
    * re-materializes the gram text k times per token; this one-pass
    * kernel measured 1.4 s → 0.3 s for the gram pass at sf0.1, and now
    * runs natively in codegen.) Null text: the UDF returns an empty seq
    * where the native expression null-propagates — indistinguishable
    * under the `explode` every caller applies. */
  private[graft] def positionalGramsUdf(k: Int) = udf { text: String =>
    if (text == null) Seq.empty[(Long, Long)]
    else {
      val tokens = scala.collection.mutable.ArrayBuffer.empty[Long]
      var h = 0L; var inTok = false
      var i = 0; val n = text.length
      while (i <= n) {
        val c = if (i < n) Character.toLowerCase(text.charAt(i)) else ' '
        if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) { h = h * 31 + c; inTok = true }
        else if (inTok) {
          tokens += (h ^ (h >>> 17)) * 0x9e3779b97f4a7c15L
          h = 0L; inTok = false
        }
        i += 1
      }
      val m = tokens.length
      if (m < k) Seq.empty[(Long, Long)]
      else {
        val out = new Array[(Long, Long)](m - k + 1)
        var j = 0
        while (j + k <= m) {
          var s = tokens(j)
          var x = 1
          while (x < k) { s = s * 0xc2b2ae3d27d4eb4fL + tokens(j + x); x += 1 }
          out(j) = ((j + 1).toLong, (s ^ (s >>> 29)) * 0xff51afd7ed558ccdL)
          j += 1
        }
        out.toSeq
      }
    }
  }

  def substringSpans(
      docs: DataFrame,
      k: Int = 15,
      minDocs: Int = 2,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = Stage.checkpointed { persisted =>
    // Both derivations (doc-frequency and position hits) consume the
    // positional gram table; persist it so the corpus text is tokenized
    // and gram-hashed ONCE (the minhashLsh persist-and-release pattern —
    // at 100 TB this table is the stored artifact, like signatureTable).
    val grams = docs
      .select(col(idCol).as("doc_id"),
        explode(graft.functions.PositionalGrams.positional_grams(col(textCol), k)).as("pg"))
      .select(col("doc_id"), col("pg._1").as("pos"), col("pg._2").as("g"))
      .persist()
    persisted += grams
    // fingerprints recurring across ≥ minDocs docs. For the default
    // minDocs = 2, "appears in ≥2 distinct docs" is exactly
    // min(doc) != max(doc): ONE map-side-combined aggregate instead of
    // a distinct + count pair (two shuffles). The general case keeps the
    // (g, doc) pre-reduce so no count-distinct Expand is ever planned.
    val dupGrams =
      if (minDocs == 2)
        grams.groupBy("g").agg(min("doc_id").as("__lo"), max("doc_id").as("__hi"))
          .where(col("__lo") =!= col("__hi")).select("g")
      else
        grams.select("g", "doc_id").distinct()
          .groupBy("g").agg(count(lit(1)).as("nd"))
          .where(col("nd") >= minDocs).select("g")
    spansFromHits(grams.join(dupGrams, "g").select("doc_id", "pos"), k)
  }

  /** Gaps-and-islands over matched gram positions: positions p, p'
    * (p < p') merge when p' − p <= k — their k-token windows overlap or
    * touch, forming one duplicated run. Shared by [[substringSpans]]
    * and [[substringSpansIncremental]]. */
  private def spansFromHits(hits: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    hits
      .withColumn("prev", lag("pos", 1).over(byDoc))
      .withColumn("brk", when(col("prev").isNull || col("pos") - col("prev") > k, 1).otherwise(0))
      .withColumn("island", sum("brk").over(byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "island")
      .agg(
        min("pos").as("start_tok"),
        (max(col("pos")) + lit(k - 1)).cast("long").as("end_tok"),
        (max(col("pos")) + lit(k) - min(col("pos"))).cast("long").as("dup_tokens"))
      .drop("island")
  }

  /** Distinct k-gram fingerprint table of a corpus — the 8-bytes-per-
    * distinct-gram stored artifact behind [[substringSpansIncremental]]
    * (the substring family's analog of the minhash signature table /
    * phash table: pay the tokenize + gram-hash pass once, at ingest). */
  def gramTable(
      docs: DataFrame,
      k: Int = 15,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.select(explode(graft.functions.PositionalGrams.positional_grams(col(textCol), k)).as("pg"))
      .select(col("pg._2").as("g")).distinct()

  /** [[gramTable]] with DOC ATTRIBUTION: per-doc distinct `(doc_id, g)`
    * postings — what a durable store needs so a takedown can remove one
    * document's fingerprints (anonymous grams cannot be retracted).
    * Membership consumers project `g`; the distinct is per doc, so the
    * shuffle key is (doc_id, g) and hot grams don't skew it. */
  def docGramTable(
      docs: DataFrame,
      k: Int = 15,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        explode(graft.functions.PositionalGrams.positional_grams(col(textCol), k)).as("pg"))
      .select(col("doc_id"), col("pg._2").as("g")).distinct()

  /** Spans of a NEW batch that already exist in the STORED corpus — the
    * recurring form of [[substringSpans]] and the span-granular shape
    * of decontamination ("which parts of this crawl are already in the
    * corpus / benchmark"). A batch position is a hit when its k-gram
    * fingerprint appears in `storedGrams` ([[gramTable]] output);
    * islands merge exactly like the one-shot.
    *
    * 100 TB shape (the `minhashLshIncrementalStored` discipline): the
    * BATCH's distinct gram keys broadcast (count-fenced), the stored
    * table is one scan + semi-join against them — it never shuffles —
    * and the matched keys (≤ the batch's) broadcast back onto the
    * batch postings. Recurring cost ∝ batch; within-batch duplication
    * is the batch's own one-shot pass, not this one's. */
  def substringSpansIncremental(
      newDocs: DataFrame,
      storedGrams: DataFrame,
      k: Int = 15,
      maxBroadcastKeys: Long = 4L * 1000 * 1000,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    Stage.checkpointed(substringSpansIncrementalStage(newDocs, storedGrams, k,
      maxBroadcastKeys, idCol, textCol, _))

  /** The pre-checkpoint span stage — split out so PlanSpec can assert
    * the broadcast shape (`localCheckpoint` truncates the plan). */
  private[graft] def substringSpansIncrementalStage(
      newDocs: DataFrame,
      storedGrams: DataFrame,
      k: Int,
      maxBroadcastKeys: Long,
      idCol: String,
      textCol: String,
      persisted: scala.collection.mutable.Buffer[DataFrame]): DataFrame = {
    val grams = newDocs
      .select(col(idCol).as("doc_id"),
        explode(graft.functions.PositionalGrams.positional_grams(col(textCol), k)).as("pg"))
      .select(col("doc_id"), col("pg._1").as("pos"), col("pg._2").as("g"))
      .persist()
    persisted += grams
    val batchKeys = grams.select("g").distinct().persist()
    persisted += batchKeys
    val bcast = Fence.broadcastable(batchKeys, maxBroadcastKeys)
    val stored = storedGrams.select("g")
    // distinct AFTER the semi-join: matched is batch-sized, so the
    // dedup is cheap here — and it makes the operator duplicate-safe
    // on a stored table whose deltas repeat grams (GramTableView's raw
    // union), sparing that table a corpus-wide distinct per read
    val matched =
      (if (bcast) stored.join(broadcast(batchKeys), Seq("g"), "left_semi")
       else stored.join(batchKeys, Seq("g"), "left_semi")).distinct().persist()
    persisted += matched
    val hits =
      (if (bcast) grams.join(broadcast(matched), Seq("g"))
       else grams.join(matched, Seq("g"))).select("doc_id", "pos")
    spansFromHits(hits, k)
  }

  /** Embedding-cosine near-duplicates: banded random-hyperplane LSH →
    * capped bucket join → exact cosine verify on candidates only. The
    * hyperplanes are pseudo-random but deterministic (hashed from
    * (plane, dim)), so the operator is reproducible run to run with no
    * broadcast state.
    *
    * Same 100 TB shape as [[minhashLsh]]: one `bands × bitsPerBand`-bit
    * signature per vector (a single codegen'd pass,
    * [[graft.functions.HyperplaneSig]]), cut into `bands` band keys by
    * pure column algebra (shift/mask — no UDF), pair expansion ONLY
    * inside equal-band-key buckets, and buckets larger than `maxBucket`
    * dropped with a left-anti join before expansion (degenerate regions —
    * zero vectors, template embeddings — would otherwise expand
    * O(bucket²)). Banding makes the cap safe for recall: a pair survives
    * if ANY of its `bands` buckets is cold, so a true near-pair is lost
    * only when every band it shares is hot. Scale `bitsPerBand` with the
    * corpus (r ≈ log2(n / targetBucket)); `bands × bitsPerBand ≤ 64`
    * keeps the signature one long.
    *
    * Near-identical vectors agree on (almost) every plane sign, so they
    * share every band; exact scalar multiples share all of them. The
    * final exact-cosine verify means extra candidates can never change
    * the answer, only cost. */
  def embeddingNearDup(
      embeddings: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      bands: Int = 4,
      bitsPerBand: Int = 8,
      threshold: Double = 0.95,
      maxBucket: Int = 1024,
      checkpointResult: Boolean = true): DataFrame = {
    require(bands >= 1 && bitsPerBand >= 1 && bands * bitsPerBand <= 64,
      s"bands*bitsPerBand must fit one 64-bit signature, got $bands*$bitsPerBand")
    val sig = Similarity.hyperplaneSignature(col(vecCol), bands * bitsPerBand)
    val sigs = embeddings.select(col(idCol).as("id"), col(vecCol).as("v"), sig.as("sig"))
      .persist()
    val banded = sigs.select(col("id"),
      explode(array(hyperplaneBandKeys(bands, bitsPerBand): _*)).as("bandkey"))
    val hot = banded.groupBy("bandkey").count().where(col("count") > maxBucket).select("bandkey")
    val kept = banded.join(hot, Seq("bandkey"), "left_anti")
    val cand = kept.select(col("bandkey"), col("id").as("id_a"))
      .join(kept.select(col("bandkey"), col("id").as("id_b")), Seq("bandkey"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    val out = cand
      .join(sigs.select(col("id").as("id_a"), col("v").as("v_a")), Seq("id_a"))
      .join(sigs.select(col("id").as("id_b"), col("v").as("v_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(Similarity.cosine(col("v_a"), col("v_b")), 4).as("cos"))
      .where(col("cos") >= threshold)
    if (!checkpointResult) return out
    // eager pair table, then release the cached signatures
    val ck = out.localCheckpoint(true)
    sigs.unpersist(blocking = false)
    ck
  }

  /** The `bands × bitsPerBand` band keys of a hyperplane signature —
    * the banding shared by [[embeddingNearDup]] and its incremental
    * form (band index folded in so band b of one vector never collides
    * with band b' of another). */
  private def hyperplaneBandKeys(bands: Int, bitsPerBand: Int): Seq[Column] = {
    val width = 1L << bitsPerBand
    (0 until bands).map(b =>
      shiftrightunsigned(col("sig"), b * bitsPerBand).bitwiseAND(lit(width - 1)) +
        lit(b.toLong * width))
  }

  /** Incremental embedding near-dup: cosine ≥ `threshold` pairs between
    * a NEW embedding batch and the STORED corpus (`id_a` = batch,
    * `id_b` = stored) — the recurring form of [[embeddingNearDup]],
    * completing the modality ladder the text/image/audio/video sides
    * already have. Same 100 TB shape as every incremental here: the
    * batch's count-fenced BAND KEYS broadcast, the stored side
    * semi-joins against them and never shuffles, hot caps apply per
    * side, and the exact-cosine verify joins VECTORS by 8-byte id for
    * candidates only — embeddings move the wire only when a band
    * collides. Within-batch pairs are the batch's own one-shot pass. */
  def embeddingNearDupIncremental(
      newEmbeddings: DataFrame,
      storedEmbeddings: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      bands: Int = 4,
      bitsPerBand: Int = 8,
      threshold: Double = 0.95,
      maxBucket: Int = 1024,
      maxBroadcastKeys: Long = 4L * 1000 * 1000): DataFrame = {
    require(bands >= 1 && bitsPerBand >= 1 && bands * bitsPerBand <= 64,
      s"bands*bitsPerBand must fit one 64-bit signature, got $bands*$bitsPerBand")
    val sig = Similarity.hyperplaneSignature(col(vecCol), bands * bitsPerBand)
    embeddingNearDupIncrementalFromSigs(newEmbeddings,
      storedEmbeddings.select(col(idCol), sig.as("sig")), storedEmbeddings,
      idCol, vecCol, bands, bitsPerBand, threshold, maxBucket, maxBroadcastKeys)
  }

  /** The stored-artifact form: stored-side signatures come precomputed
    * (`(idCol, sig)` — [[graft.views.EmbeddingSigTableView]], hashed
    * once at ingest) and `storedVectors` supplies the verify join's
    * embeddings (usually the corpus table the signatures were built
    * from — vectors are NOT duplicated into the signature artifact). */
  def embeddingNearDupIncrementalFromSigs(
      newEmbeddings: DataFrame,
      storedSigs: DataFrame,
      storedVectors: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      bands: Int = 4,
      bitsPerBand: Int = 8,
      threshold: Double = 0.95,
      maxBucket: Int = 1024,
      maxBroadcastKeys: Long = 4L * 1000 * 1000): DataFrame =
    Stage.checkpointed(embeddingNearDupIncrementalStage(newEmbeddings, storedSigs, storedVectors,
      idCol, vecCol, bands, bitsPerBand, threshold, maxBucket, maxBroadcastKeys, _))

  /** The pre-checkpoint pair stage — split out so PlanSpec can assert
    * the broadcast shape (`localCheckpoint` truncates the visible
    * plan). Caches it creates are appended to `persisted`. */
  private[graft] def embeddingNearDupIncrementalStage(
      newEmbeddings: DataFrame,
      storedSigs: DataFrame,
      storedVectors: DataFrame,
      idCol: String,
      vecCol: String,
      bands: Int,
      bitsPerBand: Int,
      threshold: Double,
      maxBucket: Int,
      maxBroadcastKeys: Long,
      persisted: scala.collection.mutable.Buffer[DataFrame]): DataFrame = {
    val cand = embeddingIncrementalCandidates(newEmbeddings, storedSigs, idCol, vecCol,
      bands, bitsPerBand, maxBucket, maxBroadcastKeys, persisted)
    embeddingVerifyPairs(cand.select("id_a", "id_b"), newEmbeddings, storedVectors,
      idCol, vecCol, threshold)
  }

  /** Candidate stage of the incremental embedding dedup: `(id_a, id_b)`
    * band collisions between the batch and the stored signature table —
    * [[BandJoin.candidates]] over the hyperplane band keys, no vectors
    * touched. When `storedSigs` carries a `seq` column (the
    * [[graft.views.EmbeddingSigTableView]] curated-log layout) it rides
    * through as the stored row's log seq, so the caller can prune the
    * verify-side vector scan to candidate seq buckets. */
  private[graft] def embeddingIncrementalCandidates(
      newEmbeddings: DataFrame,
      storedSigs: DataFrame,
      idCol: String,
      vecCol: String,
      bands: Int,
      bitsPerBand: Int,
      maxBucket: Int,
      maxBroadcastKeys: Long,
      persisted: scala.collection.mutable.Buffer[DataFrame]): DataFrame = {
    require(bands >= 1 && bitsPerBand >= 1 && bands * bitsPerBand <= 64,
      s"bands*bitsPerBand must fit one 64-bit signature, got $bands*$bitsPerBand")
    val bandKey = explode(array(hyperplaneBandKeys(bands, bitsPerBand): _*)).as("bandkey")
    val sig = Similarity.hyperplaneSignature(col(vecCol), bands * bitsPerBand)
    val seq = storedSigs.columns.filter(_ == "seq").toSeq
    // seq is functional on id_b, so the distinct with it yields the same
    // pair set as the one without
    BandJoin.candidates(
      newEmbeddings.select(col(idCol).as("id_a"), sig.as("sig")).select(col("id_a"), bandKey),
      storedSigs.select(col(idCol).as("id_b") +: bandKey +: seq.map(col): _*),
      Seq("bandkey"), Nil, seq, maxBucket, maxBroadcastKeys, persisted).distinct()
  }

  /** Exact-cosine verify of an `(id_a, id_b)` candidate frame: vectors
    * join by 8-byte id — candidates only ever move the wire. */
  private[graft] def embeddingVerifyPairs(
      cand: DataFrame,
      newEmbeddings: DataFrame,
      storedVectors: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double): DataFrame =
    cand
      .join(newEmbeddings.select(col(idCol).as("id_a"), col(vecCol).as("v_a")), Seq("id_a"))
      .join(storedVectors.select(col(idCol).as("id_b"), col(vecCol).as("v_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(Similarity.cosine(col("v_a"), col("v_b")), 4).as("cos"))
      .where(col("cos") >= threshold)

  /** Seq-bucket-PRUNED incremental embedding dedup — the corpus-scale
    * form of [[embeddingNearDupIncrementalFromSigs]] for the continuous
    * curator, where the verify-side vector corpus is the curated log
    * itself (seq-bucketed parquet). The stored signature table carries
    * each vector's log `seq` (8 more bytes/vector); after the candidate
    * stage, the DISTINCT seq buckets of the candidates — a batch-scoped
    * set, bounded by the hot caps — are collected and handed to
    * `vectorsForBuckets(Some(buckets))`, whose scan then prunes to those
    * partition directories at planning time. The full-log scan every
    * micro-batch (∝ corpus) becomes a scan ∝ candidates.
    *
    * Fences, matching the incremental discipline: candidates whose seq
    * is unknown (< 0 — rows absorbed without a seq) or a bucket set
    * larger than `maxPrunedBuckets` fall back to
    * `vectorsForBuckets(None)` — the unpruned corpus read, which is
    * always correct, only slower. */
  def embeddingNearDupIncrementalPruned(
      newEmbeddings: DataFrame,
      storedSigs: DataFrame,
      bucketSize: Long,
      vectorsForBuckets: Option[Seq[Long]] => DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      bands: Int = 4,
      bitsPerBand: Int = 8,
      threshold: Double = 0.95,
      maxBucket: Int = 1024,
      maxBroadcastKeys: Long = 4L * 1000 * 1000,
      maxPrunedBuckets: Int = 100000): DataFrame = {
    require(bucketSize > 0, s"bucketSize must be positive, got $bucketSize")
    require(storedSigs.columns.contains("seq"),
      "pruned incremental dedup needs a stored (id, sig, seq) table")
    // eager candidate table: reused by the bucket collect AND the verify
    // join without re-running the band stage
    val cand = Stage.checkpointed(embeddingIncrementalCandidates(newEmbeddings, storedSigs,
      idCol, vecCol, bands, bitsPerBand, maxBucket, maxBroadcastKeys, _))
    // `div` truncates toward zero, so an unknown seq (-1) would land in
    // bucket 0 and silently prune AWAY its vector — map unknowns to -1
    // explicitly so the >= 0 fence actually fires and falls back
    val buckets = cand.select(
        expr(s"CASE WHEN `seq` < 0 THEN -1 ELSE `seq` div $bucketSize END").as("b")).distinct()
      .limit(maxPrunedBuckets + 1).collect().map(_.getLong(0)).toSeq
    val pruneOk = buckets.length <= maxPrunedBuckets && buckets.forall(_ >= 0)
    val vecs = vectorsForBuckets(if (pruneOk) Some(buckets) else None)
    embeddingVerifyPairs(cand.select("id_a", "id_b"), newEmbeddings, vecs,
      idCol, vecCol, threshold).localCheckpoint(true)
  }

  /** The pruned verify's pre-checkpoint plan, for plan assertions:
    * returns (candidate buckets, the verify frame) with the pruned
    * vector scan visible (`localCheckpoint` would truncate it). */
  private[graft] def embeddingNearDupIncrementalPrunedStage(
      newEmbeddings: DataFrame,
      storedSigs: DataFrame,
      bucketSize: Long,
      vectorsForBuckets: Option[Seq[Long]] => DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      bands: Int = 4,
      bitsPerBand: Int = 8,
      threshold: Double = 0.95,
      maxBucket: Int = 1024): (Seq[Long], DataFrame) = {
    val cand = Stage.checkpointed(embeddingIncrementalCandidates(newEmbeddings, storedSigs,
      idCol, vecCol, bands, bitsPerBand, maxBucket, 4L * 1000 * 1000, _))
    val buckets = cand.select(
        expr(s"CASE WHEN `seq` < 0 THEN -1 ELSE `seq` div $bucketSize END").as("b")).distinct()
      .collect().map(_.getLong(0)).toSeq
    (buckets, embeddingVerifyPairs(cand.select("id_a", "id_b"), newEmbeddings,
      vectorsForBuckets(Some(buckets)), idCol, vecCol, threshold))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster-then-prune
    * semantic dedup. The corpus is partitioned by a coarse quantizer
    * (the deterministic seed centroids shared with the IVF family —
    * [[Similarity.seedCentroids]]/[[Similarity.cellAssign]], so the
    * whole pipeline is replayable with no trained model); within each
    * cell, a vector is dropped when a lower-id cell-mate has cosine
    * ≥ `tau` to it. Unlike [[embeddingNearDup]] (which banded-LSH-pairs
    * the corpus to REPORT near-dup pairs), this emits a per-vector
    * keep/drop verdict — the form a pretraining pipeline consumes.
    *
    * Scale shape: assignment is one narrow pass (nCells cosines per
    * row, no shuffle); pairing is an equi-join on the 8-byte cell id
    * only — never all-pairs across cells. Cells over `maxCell` skip the
    * pairwise stage entirely and keep all members (the hot-bucket guard
    * every capped dedup here uses; at 100 TB you raise nCells ∝ N so
    * expected cell size stays constant, exactly how the paper scales k).
    * Pairwise cost within a cell is the algorithm as published — O(c²)
    * bounded by maxCell².
    */
  def semanticDedup(
      embeddings: DataFrame,
      nCells: Int = 16,
      tau: Double = 0.95,
      maxCell: Int = 4096,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = Stage.checkpointed { persisted =>
    val cents = Similarity.seedCentroids(embeddings, nCells, idCol, vecCol)
    val assigned = Similarity.assignCells(
        embeddings.select(col(idCol).as("id"), col(vecCol).as("v")),
        cents, "id", "v", "cell")
      .persist()
    persisted += assigned
    val hot = assigned.groupBy("cell").count()
      .where(col("count") > maxCell).select("cell")
    val small = assigned.join(hot, Seq("cell"), "left_anti")
    val dropped = small.select(col("cell"), col("id").as("id_a"), col("v").as("v_a"))
      .join(small.select(col("cell"), col("id").as("id_b"), col("v").as("v_b")), Seq("cell"))
      .where(col("id_a") < col("id_b") &&
        Similarity.cosine(col("v_a"), col("v_b")) >= tau)
      .select(col("id_b").as("id")).distinct()
    assigned
      .join(dropped.withColumn("__drop", lit(true)), Seq("id"), "left")
      .select(col("id").as(idCol), col("cell"), col("__drop").isNull.as("kept"))
  }
}
