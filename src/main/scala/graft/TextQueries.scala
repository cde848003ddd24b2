package graft

import graft.core._
import graft.ops.{Cluster, Decontaminate, Dedup, Multimodal, Packing, Similarity, TextAnalysis}
import graft.views._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-pipeline queries: dedup family, text analysis, BPE, sampling/selection, decontamination, curation (SURVEY §2.5).
  *
  * A pure round-8 relocation of [[SparkEntry]] catalog entries (r7
  * verdict #7) — zero renames, zero semantic changes; the driver
  * contract stays on [[SparkEntry.queries]]/[[SparkEntry.oracleSql]],
  * which merge the per-domain objects. Shared fixtures/caches live in
  * [[EntryHelpers]].
  */
private[graft] object TextQueries {
  import EntryHelpers._

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_pipeline_curate" -> ((s, dir) => {
      import s.implicits._
      // full curation pipeline over a corpus with planted dups: quality
      // floor -> exact dedup -> minhash near-dedup (exact-verified).
      // 32 bands × 2 rows makes candidate recall oracle-grade on the
      // fixture (planted pairs ≥0.7 jaccard ⇒ miss ~4e-10), so the whole
      // pipeline is deterministic and DuckDB-checkable end to end.
      val kept = graft.ops.Curate.curate(docsWithNearDups(s, dir),
        minQuality = 0.2, nearThreshold = 0.6, verifyExact = true,
        bands = 32, maxBucket = 1000)
      kept.agg(
        count(lit(1)).as("n_kept"),
        min("doc_id").as("min_id"),
        max("doc_id").as("max_id"),
        sum(when(col("doc_id") >= 10000, 1L).otherwise(0L)).as("perturbed_kept"))
    }),
    "q_pipeline_curate_budget" -> ((s, dir) => {
      import s.implicits._
      // the full pipeline with the CONTAINMENT stage on and the
      // percentile df-cap running as the operational default (the
      // round-13/14 probes' operating rule): quality floor → exact
      // dedup → minhash near-dedup → containment dedup, dropping the
      // CONTAINED side (fewer shingles; ties drop the higher id) of
      // every quote pair under the p99 df budget. The corpus plants
      // BOTH duplicate shapes: +10000 first-word-dropped near-dups
      // (LSH's catch) and +40000 25-token quote prefixes (Jaccard ≈ 0
      // — only the containment stage sees them).
      val d = t(s, dir, "documents").select("doc_id", "text")
      val corpus = docsWithNearDups(s, dir).unionByName(
        d.where(col("doc_id") % 5 === 0).select((col("doc_id") + 40000).as("doc_id"),
          concat_ws(" ", slice(graft.ops.TextAnalysis.tokens(col("text")), 1, 25)).as("text")))
      val kept = graft.ops.Curate.curate(corpus,
        minQuality = 0.2, nearThreshold = 0.6, verifyExact = true,
        bands = 32, maxBucket = 1000, containmentThreshold = Some(0.9))
      kept.agg(
        count(lit(1)).as("n_kept"),
        min("doc_id").as("min_id"),
        max("doc_id").as("max_id"),
        sum(when(col("doc_id") >= 10000 && col("doc_id") < 40000, 1L).otherwise(0L))
          .as("perturbed_kept"),
        sum(when(col("doc_id") >= 40000, 1L).otherwise(0L)).as("quotes_kept"))
    }),
    "q_retract_reingest" -> ((s, dir) => {
      // corpus takedown end-to-end, proving retracted signatures are
      // REALLY gone: corpus → (seq-bucketed log, durable signature
      // table); retract every doc_id % 10 == 3 through the intent-logged
      // family path (log rewrite + filtered view compaction); then
      // re-ingest near-dups of ALL % 5 == 3 docs. The half whose source
      // was RETRACTED (% 10 == 3) must SURVIVE the incremental check —
      // nothing left to match — while the half whose source was KEPT
      // (% 10 == 8) still drops against the stored table.
      // The retract+reingest lifecycle APPENDS, so reps cannot share a
      // live fixture — instead the deterministic pre-lifecycle state
      // (bucketed log + signature table) builds once per process as an
      // immutable TEMPLATE and each rep runs the real lifecycle on a
      // fresh byte-level clone (r18: the bench prices the takedown +
      // re-ingest check, not the corpus re-construction, every rep).
      val docSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
      val d = t(s, dir, "documents").select("doc_id", "text")
      val root = EntryHelpers.clonedFixture("graftret", dir) { tpl =>
        val log = new ParquetLog(s, s"$tpl/log", docSchema, bucketSize = 128L)
        log.append(d)
        new graft.views.SignatureTableView(s, s"$tpl/sig/sg", 1, "doc_id", "text")
          .absorb(d, log.since)
      }
      val intentDir = s"$root/intent"
      val curLog = new ParquetLog(s, s"$root/log", docSchema, bucketSize = 128L)
      val sigView = new graft.views.SignatureTableView(
        s, s"$root/sig/sg", 1, "doc_id", "text")
      // the id list stays a DataFrame end to end: log AND feature
      // rewrites plan count-fenced joins, never a collected isin literal
      graft.views.Retraction.retract(curLog, "doc_id",
        d.where(col("doc_id") % 10 === 3).select("doc_id"),
        (ids: org.apache.spark.sql.DataFrame) =>
          sigView.retractIds(ids.withColumnRenamed("doc_id", "id"), "id"),
        java.nio.file.Paths.get(intentDir, "_intent").toString)
      val batch = d.where(col("doc_id") % 5 === 3)
        .select((col("doc_id") + 50000).as("doc_id"),
          regexp_replace(col("text"), "^\\S+\\s+", "").as("text"))
      val drops = graft.ops.Dedup.minhashLshIncrementalStored(batch, sigView.sigs,
          threshold = 0.6, bands = 32, maxBucket = 1000, verifyExact = true)
        .select(col("id_a").as("doc_id")).distinct()
      val survivors = batch.join(drops, Seq("doc_id"), "left_anti").localCheckpoint(true)
      if (!survivors.isEmpty) curLog.append(survivors)
      val out = EntryHelpers.notePlan(curLog.read.agg(
        count(lit(1)).as("n_rows"),
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
    "q_dedup_exact" -> ((s, dir) =>
      Dedup.exact(t(s, dir, "documents"))
        .select("keep_id", "copies").orderBy("keep_id")),
    "q_dedup_minhash" -> ((s, dir) =>
      Dedup.minhashLsh(docsWithNearDups(s, dir), threshold = 0.35)
        .orderBy("id_a", "id_b")),
    "q_dedup_simhash" -> ((s, dir) =>
      Dedup.simhashDedup(docsWithNearDups(s, dir), maxHamming = 3)
        .orderBy("id_a", "id_b")),
    "q_dedup_ngram" -> ((s, dir) =>
      // LSH-candidates + exact-verify path (linear in docs); parity with
      // exhaustive = true is asserted in OpsSpec and against the DuckDB
      // exact-Jaccard oracle
      Dedup.ngramJaccard(docsWithNearDups(s, dir), threshold = 0.5, maxDocFreq = 1000)
        .orderBy("id_a", "id_b")),
    "q_bpe_train" -> ((s, dir) => {
      // the learned merge table itself — deterministic (count DESC,
      // left, right tie-break), replayed end-to-end by the oracle's
      // training chain
      import s.implicits._
      bpeMerges(s, dir).toDF()
        .select(col("rank").cast("bigint").as("rank"),
          col("left").as("left_sym"), col("right").as("right_sym"))
        .orderBy("rank")
    }),
    "q_bpe_encode" -> ((s, dir) => {
      // encode-as-a-column: a fold of 30 codegen'd string replaces over
      // the pipe-wrapped word (each one greedy merge pass), no UDF
      val merges = bpeMerges(s, dir)
      val enc = graft.ops.Bpe.applyMerges(graft.ops.Bpe.wrapSymbols(col("word")), merges)
      graft.ops.Bpe.wordCounts(t(s, dir, "documents"))
        .orderBy(col("freq").desc, col("word")).limit(300)
        .select(col("word"), enc.as("__enc"))
        .select(col("word"),
          size(graft.ops.Bpe.symbolsOf(col("__enc"))).cast("bigint").as("n_subtokens"),
          array_join(graft.ops.Bpe.symbolsOf(col("__enc")), " ").as("encoded"))
        .orderBy("word")
    }),
    "q_shard" -> ((s, dir) =>
      // deterministic export sharding: shard + in-shard position are
      // pure functions of (doc_id, salt) — reproducible epoch order,
      // per-shard windows only
      graft.ops.Sampling.shardByHash(
          t(s, dir, "documents").select("doc_id"), "doc_id", nShards = 8, salt = "v1")
        .orderBy("doc_id")),
    "q_budget_select" -> ((s, dir) =>
      // data selection under a token budget: best-quality-first greedy
      // keep, global prefix sum via the two-phase score-bucketed scan
      // (never a one-partition Window.orderBy) — the step between
      // quality scoring and training-set assembly
      graft.ops.Sampling.selectByBudget(
          t(s, dir, "documents"), budgetTokens = 15000L,
          score = graft.ops.TextAnalysis.qualityCol(col("text")))
        .orderBy("doc_id")),
    "q_chunk" -> ((s, dir) =>
      // sliding-window chunking, 64-token windows / 16-token overlap —
      // the RAG / context-window prep op; narrow explode, no shuffle
      graft.ops.TextAnalysis.chunkTokens(t(s, dir, "documents"), size = 64, overlap = 16)
        .orderBy("doc_id", "chunk_idx")),
    "q_bpe_doc_tokens" -> ((s, dir) => {
      // encode as a COLUMN over the whole corpus: the 30-replace encoding
      // fold runs once per DISTINCT word, and the exploded corpus meets
      // it in a broadcast join — tokens are never re-encoded per
      // occurrence (at 100 TB: encode the vocab, join the corpus)
      val merges = bpeMerges(s, dir)
      val docs = t(s, dir, "documents")
      val vocab = graft.ops.Bpe.wordCounts(docs).select(col("word"),
        size(graft.ops.Bpe.encodeWord(col("word"), merges)).cast("bigint").as("n_sub"))
      docs.select(col("doc_id"), explode(graft.ops.TextAnalysis.tokens(col("text"))).as("word"))
        .join(broadcast(vocab), "word")
        .groupBy("doc_id").agg(sum("n_sub").as("n_bpe_tokens"))
        .orderBy("doc_id")
    }),
    "q_dedup_containment" -> ((s, dir) =>
      // subset/quote duplication: containment over shingle sets via the
      // inverted index (LSH estimates Jaccard, which is ~0 here)
      Dedup.containment(docsWithQuotes(s, dir), threshold = 0.8, maxDocFreq = 1000)
        .orderBy("id_a", "id_b")),
    "q_dedup_containment_budget" -> ((s, dir) =>
      // the round-13 scale-probe operating rule executed end-to-end:
      // the df cap is the p99 of the corpus's OWN df distribution
      // (exact interpolated percentile over the distinct-shingle df
      // table), so the posting quadratic is bounded by budget at any
      // corpus size — never an absolute guess that df growth outruns
      Dedup.containment(docsWithQuotes(s, dir), threshold = 0.8,
          maxDocFreqPercentile = Some(0.99))
        .orderBy("id_a", "id_b")),
    "q_dedup_containment_incremental" -> ((s, dir) =>
      // quote-batch-vs-stored-corpus containment: the new snippets
      // check against the STORED signature table's shingle sets (hs) —
      // batch shingle keys broadcast, the stored inverted index never
      // shuffles, df cap over matched postings only
      Dedup.containmentIncremental(
          docsWithQuotes(s, dir).where(col("doc_id") >= 40000),
          baseSignatures(s, dir), threshold = 0.8, maxDocFreq = 1000)
        .orderBy("id_a", "id_b")),
    "q_dedup_substring" -> ((s, dir) =>
      // Lee et al. exact-substring dedup: maximal ≥15-token spans
      // recurring across documents, over the planted-span fixture the
      // pairwise dedup family cannot catch
      Dedup.substringSpans(docsWithPlantedSpans(s, dir), k = 15)
        .orderBy("doc_id", "start_tok")),
    "q_dedup_substring_incremental" -> ((s, dir) =>
      // span-granular "already in the corpus" check for a new crawl:
      // batch positions whose 15-gram fingerprint exists in the STORED
      // gram table (batch keys broadcast, stored table never shuffles),
      // gaps-and-islands merged exactly like the one-shot
      Dedup.substringSpansIncremental(docsWithCorpusSpansBatch(s, dir),
          storedGramTable(s, dir))
        .orderBy("doc_id", "start_tok")),
    "q_decontaminate" -> ((s, dir) => {
      // benchmark = 10-token prefixes of every 97th document; the corpus
      // (with near-dup copies) must flag exactly the source docs and the
      // copies that still contain a full 8-gram of the prefix
      val bench = t(s, dir, "documents")
        .where(col("doc_id") % 97 === 0)
        .select(concat_ws(" ", slice(TextAnalysis.tokens(col("text")), 1, 10)).as("text"))
      Decontaminate.sharedNgrams(docsWithNearDups(s, dir), bench, w = 8)
        .orderBy("doc_id")
    }),
    "q_dedup_clusters" -> ((s, dir) => {
      // pairs -> connected components -> survivor labels: the pair
      // generator emits the triangle edges; clustering must collapse
      // them (and any transitive chain) to the component minimum
      val corpus = docsWithDupChain(s, dir)
      val pairs = Dedup.ngramJaccard(corpus, threshold = 0.5, maxDocFreq = 1000)
      Cluster.dupClusters(corpus, pairs).orderBy("doc_id")
    }),
    "q_dedup_incremental" -> ((s, dir) => {
      // new-crawl-vs-kept-corpus shape: the perturbed copy is the new
      // batch, checked against the corpus's STORED signature table (the
      // operational setup — recurring cost scales with the batch, not
      // the corpus); 32 bands × 2 rows + exact verify, same oracle-grade
      // recall argument as q_dedup_verified
      val base = t(s, dir, "documents").select("doc_id", "text")
      val newBatch = base.select((col("doc_id") + 10000).as("doc_id"),
        regexp_replace(col("text"), "^\\S+\\s+", "").as("text"))
      Dedup.minhashLshIncrementalStored(newBatch, baseSignatures(s, dir),
          bands = 32, threshold = 0.6, maxBucket = 1000, verifyExact = true)
        .orderBy("id_a", "id_b")
    }),
    "q_dedup_verified" -> ((s, dir) =>
      // LSH candidate generation at 32 bands × 2 rows, authoritative
      // exact-Jaccard verify: output is exactly the ≥-threshold pairs
      Dedup.minhashLsh(docsWithNearDups(s, dir), bands = 32, threshold = 0.6,
          maxBucket = 1000, verifyExact = true)
        .orderBy("id_a", "id_b")),
    "q_stratified_sample" -> ((s, dir) =>
      // per-language quota of 30 docs, picked by md5 order of doc_id —
      // balanced, RNG-free, partition-invariant
      graft.ops.Sampling.stratifiedByHash(
          t(s, dir, "documents").select("doc_id", "lang"), "lang", "doc_id", nPerGroup = 30, salt = "v1")
        .orderBy("lang", "doc_id")),
    "q_hash_split" -> ((s, dir) =>
      // deterministic train/eval assignment: a pure function of the key,
      // reproduced bit-for-bit by the DuckDB oracle (md5 is the portable
      // hash); narrow projection, no shuffle
      graft.ops.Sampling.hashSplit(
          t(s, dir, "documents").select("doc_id"), "doc_id", evalPermille = 100, salt = "v1")
        .select("doc_id", "bucket", "split")
        .orderBy("doc_id")),
    "q_repetition" -> ((s, dir) =>
      TextAnalysis.repetition(t(s, dir, "documents")).orderBy("doc_id")),
    "q_vocab_build" -> ((s, dir) =>
      TextAnalysis.vocabBuild(t(s, dir, "documents"), minDf = 2, topN = 1000)),
    "q_compress_ratio" -> ((s, dir) =>
      // rows-only: SQL cannot deflate; determinism + ordering pinned in
      // TextOpsSpec (fixed level, single-thread JDK Deflater)
      TextAnalysis.compressionRatio(t(s, dir, "documents")).orderBy("doc_id")),
    "q_heavy_hitters" -> ((s, dir) =>
      // distributed Misra-Gries candidates (guaranteed superset) + exact
      // verify restricted to the candidate set; integer-math threshold
      TextAnalysis.heavyHitters(t(s, dir, "documents"), k = 30)),
    "q_seq_pack" -> ((s, dir) =>
      Packing.packSequences(t(s, dir, "documents"), capacity = 2048)
        .orderBy("doc_id")),
    "q_domain_mix" -> ((s, dir) => {
      // deterministic source labels planted on the corpus (the driver
      // tables carry no domain column), then weighted downsampling to
      // the 50/20/20/10 recipe
      val labeled = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 4 === 0, "web")
          .when(col("doc_id") % 4 === 1, "books")
          .when(col("doc_id") % 4 === 2, "code")
          .otherwise("wiki").as("source"))
      graft.ops.Sampling.mixDomains(labeled, "source", "doc_id",
        Map("web" -> 0.5, "books" -> 0.2, "code" -> 0.2, "wiki" -> 0.1), salt = "mix1")
        .orderBy("doc_id")
    }),
    "q_temperature_mix" -> ((s, dir) => {
      // skewed planted sources (60/30/10), flattened at alpha = 0.5;
      // keep-fraction per source is (n_min/n_i)^(1-alpha) — the
      // normalizing sum cancels, so the oracle replays pure pow/floor
      val labeled = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 10 <= 5, "web")
          .when(col("doc_id") % 10 <= 8, "books")
          .otherwise("wiki").as("source"))
      graft.ops.Sampling.mixByTemperature(labeled, "source", "doc_id",
        alpha = 0.5, salt = "temp1").orderBy("doc_id")
    }),
    "q_pii_scrub" -> ((s, dir) =>
      TextAnalysis.scrubPii(docsWithPii(s, dir))
        .select(col("doc_id"), col("n_emails"), col("n_ips"), col("n_phones"),
          md5(col("scrubbed")).as("scrub_md5"))
        .orderBy("doc_id")),
    "q_text_stats" -> ((s, dir) =>
      TextAnalysis.textStats(t(s, dir, "documents")).orderBy("doc_id")),
    "q_token_count" -> ((s, dir) =>
      t(s, dir, "documents")
        .groupBy("lang")
        .agg(sum(size(TextAnalysis.tokens(col("text"))).cast("bigint")).as("n_tokens"),
          count(lit(1)).as("n_docs"))
        .orderBy("lang")),
    "q_quality_score" -> ((s, dir) =>
      TextAnalysis.qualityScore(t(s, dir, "documents")).orderBy("doc_id")),
    "q_gopher_rules" -> ((s, dir) =>
      // Gopher/MassiveWeb structural gates (Rae et al. 2021 App. A):
      // measures + composite verdict in one narrow pass; word bounds
      // scaled to the fixture's 10-99-word documents
      TextAnalysis.gopherRules(t(s, dir, "documents"), minWords = 20, maxWords = 90)
        .orderBy("doc_id")),
    "q_quantile_filter" -> ((s, dir) =>
      // exact top-10%-by-quality cut: rank semantics via the two-phase
      // budget scan (unit weights), NOT an exact-percentile aggregate
      // (which buffers every value) — cum_before IS the global rank
      graft.ops.Sampling.topFraction(
          TextAnalysis.qualityScore(t(s, dir, "documents")), frac = 0.1, score = col("quality"))
        .select(col("doc_id"), col("score").as("quality"), col("rank_before"))
        .orderBy("doc_id")),
    "q_tfidf" -> ((s, dir) =>
      TextAnalysis.tfidfTopTerms(t(s, dir, "documents"), topK = 3)
        .orderBy("doc_id", "rnk")),
    "q_url_stats" -> ((s, dir) =>
      TextAnalysis.urlStats(docsWithUrls(s, dir))),
    "q_url_dedup" -> ((s, dir) =>
      // the planted https URLs differ only in their query string, so
      // canonicalization collapses them 500 docs -> 11 keepers; the
      // http URLs stay distinct (path carries the doc id)
      TextAnalysis.urlDedup(docsWithUrls(s, dir))),
    "q_token_entropy" -> ((s, dir) =>
      TextAnalysis.tokenEntropy(t(s, dir, "documents")).orderBy("doc_id")),
    "q_lang_id" -> ((s, dir) =>
      TextAnalysis.langId(t(s, dir, "documents")).orderBy("doc_id")),
    "q_fingerprint" -> ((s, dir) =>
      // md5 digest form: same normalization as the xxhash64 fingerprint
      // (OpsSpec covers that one), but externally checkable
      TextAnalysis.fingerprintMd5(t(s, dir, "documents")).orderBy("doc_id")),
    "q_lm_score" -> ((s, dir) =>
      // CCNet-style quality gate: average bigram negative log-likelihood
      // under a Laplace-smoothed model trained on the reference corpus
      // (here the corpus itself — the fixture shape; production trains
      // on a curated seed set and scores the crawl)
      TextAnalysis.bigramLmScore(t(s, dir, "documents"), t(s, dir, "documents"))
        .orderBy("doc_id")),
    "q_dsir_select" -> ((s, dir) =>
      // DSIR: domain-match the corpus to the English seed slice by
      // hashed-bigram importance weights, keep the top 100. The target
      // is a corpus slice, so the self variant hashes the text ONCE
      // (TextOpsSpec pins = the two-pass general form)
      graft.ops.Dsir.importanceSelectSelf(
        t(s, dir, "documents"), col("lang") === "en", k = 100)),
    "q_line_dedup" -> ((s, dir) =>
      // boilerplate-line removal (RefinedWeb-style): lines recurring in
      // >= 3 distinct docs vanish; cleaned text reassembled in order
      TextAnalysis.lineDedup(docsWithLines(s, dir), minDocs = 3)
        .orderBy("doc_id")),
    "q_line_dedup_incremental" -> ((s, dir) => {
      // clean a NEW crawl batch of the corpus's KNOWN boilerplate: the
      // stored line-frequency table's >= minDocs lines vanish; lines
      // novel to the batch survive (within-batch policy is a separate
      // one-shot pass). Batch line hashes broadcast; the stored
      // frequency table never shuffles.
      val batch = t(s, dir, "documents").where(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 50000).as("doc_id"),
          concat(
            lit("subscribe to our newsletter today\n"),
            col("text"),
            lit("\nshare this page on social media "), pmod(col("doc_id"), lit(5)).cast("string"),
            lit("\nfresh line "), col("doc_id").cast("string")).as("text"))
      TextAnalysis.lineDedupIncremental(batch, storedLineFreq(s, dir), minDocs = 3)
        .orderBy("doc_id")
    }),
    "q_jaccard_prefix" -> ((s, dir) =>
      // EXACT similarity join via prefix filtering (AllPairs/PPJoin):
      // no recall loss, candidates only from rarest-first prefixes
      Dedup.jaccardPrefixJoin(t(s, dir, "documents"), threshold = 0.8)
        .orderBy("id_a", "id_b")),
    "q_nb_classifier" -> ((s, dir) => {
      // train-then-classify quality/language filter loop: multinomial NB
      // log-odds trained on even doc_ids, scoring the odd half
      val docs = t(s, dir, "documents")
      graft.ops.NaiveBayes.trainAndClassify(
          docs.where(pmod(col("doc_id"), lit(2)) === 0),
          docs.where(pmod(col("doc_id"), lit(2)) === 1))
        .orderBy("doc_id")
    }),
  )

  def oracles: Map[String, String] = Map(
    "q_gopher_rules" ->
      ("WITH m AS (SELECT doc_id, " +
        "list_filter(string_split_regex(text, '\\s+'), w -> w <> '') AS words, " +
        "list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)), l -> l <> '') AS lines, " +
        "(length(text) - length(replace(text, '#', '')))::DOUBLE + (len(string_split(text, '...')) - 1)::DOUBLE AS symbols " +
        "FROM documents), " +
        "v AS (SELECT doc_id, len(words) AS n_words, " +
        "list_sum(list_transform(words, w -> length(w)))::DOUBLE / greatest(len(words), 1) AS mean_word_len, " +
        "symbols / greatest(len(words), 1) AS symbol_ratio, " +
        "len(list_filter(lines, l -> starts_with(l, '-') OR starts_with(l, '*') OR starts_with(l, '•')))::DOUBLE / greatest(len(lines), 1) AS bullet_ratio, " +
        "len(list_filter(lines, l -> ends_with(l, '...')))::DOUBLE / greatest(len(lines), 1) AS ellipsis_ratio, " +
        "len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]')))::DOUBLE / greatest(len(words), 1) AS alpha_frac, " +
        "len(list_filter(['the','be','to','of','and','that','have','with'], s -> list_contains(list_transform(words, w -> lower(w)), s))) AS stop_hits " +
        "FROM m) " +
        "SELECT doc_id, n_words::INT AS n_words, round(mean_word_len, 4) AS mean_word_len, round(symbol_ratio, 4) AS symbol_ratio, round(bullet_ratio, 4) AS bullet_ratio, round(ellipsis_ratio, 4) AS ellipsis_ratio, round(alpha_frac, 4) AS alpha_frac, stop_hits::BIGINT AS stop_hits, " +
        "(n_words BETWEEN 20 AND 90 AND mean_word_len >= 3.0 AND mean_word_len <= 10.0 AND symbol_ratio <= 0.1 AND bullet_ratio <= 0.9 AND ellipsis_ratio <= 0.3 AND alpha_frac >= 0.8 AND stop_hits >= 2) AS passes " +
        "FROM v ORDER BY doc_id"),
    "q_dedup_exact" ->
      "SELECT min(doc_id) AS keep_id, count(*) AS copies FROM documents GROUP BY text ORDER BY keep_id",
    "q_fingerprint" ->
      "SELECT doc_id, md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp_md5 FROM documents ORDER BY doc_id",
    "q_stratified_sample" ->
      ("SELECT doc_id, lang FROM (SELECT doc_id, lang, row_number() OVER (PARTITION BY lang ORDER BY md5(doc_id::VARCHAR || 'v1'), doc_id) AS rk FROM documents) " +
        "WHERE rk <= 30 ORDER BY lang, doc_id"),
    "q_hash_split" ->
      ("SELECT doc_id, bucket, CASE WHEN bucket < 100 THEN 'eval' ELSE 'train' END AS split " +
        "FROM (SELECT doc_id, CAST(concat('0x', substring(md5(doc_id::VARCHAR || 'v1'), 1, 7)) AS BIGINT) % 1000 AS bucket FROM documents) " +
        "ORDER BY doc_id"),
    "q_dedup_ngram" ->
      ("WITH corpus AS (SELECT doc_id, text FROM documents UNION ALL SELECT doc_id + 10000, regexp_replace(text, '^\\S+\\s+', '') FROM documents), " +
        "toks AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS tk FROM corpus), " +
        "sh AS (SELECT doc_id, CASE WHEN len(tk) = 0 THEN [] WHEN len(tk) < 3 THEN list_distinct(tk) ELSE list_distinct(list_transform(generate_series(1, len(tk) - 2), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) END AS sh FROM toks), " +
        "counts AS (SELECT doc_id, len(sh) AS n FROM sh WHERE len(sh) > 0), " +
        "inv AS (SELECT doc_id, unnest(sh) AS shingle FROM sh), " +
        "pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter FROM inv a JOIN inv b USING (shingle) WHERE a.doc_id < b.doc_id GROUP BY 1, 2) " +
        "SELECT id_a, id_b, round(inter::DOUBLE / (ca.n + cb.n - inter), 4) AS jaccard " +
        "FROM pairs JOIN counts ca ON ca.doc_id = id_a JOIN counts cb ON cb.doc_id = id_b " +
        "WHERE round(inter::DOUBLE / (ca.n + cb.n - inter), 4) >= 0.5 ORDER BY id_a, id_b"),
    "q_dedup_containment" ->
      ("WITH corpus AS (SELECT doc_id, text FROM documents UNION ALL " +
        "SELECT doc_id + 40000 AS doc_id, array_to_string(list_slice(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> ''), 1, 25), ' ') AS text " +
        "FROM documents WHERE doc_id % 5 = 0), " +
        "toks AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS tk FROM corpus), " +
        "sh AS (SELECT doc_id, CASE WHEN len(tk) = 0 THEN [] WHEN len(tk) < 3 THEN list_distinct(tk) ELSE list_distinct(list_transform(generate_series(1, len(tk) - 2), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) END AS sh FROM toks), " +
        "counts AS (SELECT doc_id, len(sh) AS n FROM sh WHERE len(sh) > 0), " +
        "inv AS (SELECT doc_id, unnest(sh) AS shingle FROM sh), " +
        "pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter FROM inv a JOIN inv b USING (shingle) WHERE a.doc_id < b.doc_id GROUP BY 1, 2) " +
        "SELECT id_a, id_b, round(inter::DOUBLE / least(ca.n, cb.n), 4) AS containment " +
        "FROM pairs JOIN counts ca ON ca.doc_id = id_a JOIN counts cb ON cb.doc_id = id_b " +
        "WHERE round(inter::DOUBLE / least(ca.n, cb.n), 4) >= 0.8 ORDER BY id_a, id_b"),
    "q_dedup_containment_budget" ->
      // the percentile-cap replay: quantile_cont over the
      // distinct-shingle df table == Spark's exact interpolated
      // percentile; postings above the p99 cap drop before pairing
      ("WITH corpus AS (SELECT doc_id, text FROM documents UNION ALL " +
        "SELECT doc_id + 40000 AS doc_id, array_to_string(list_slice(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> ''), 1, 25), ' ') AS text " +
        "FROM documents WHERE doc_id % 5 = 0), " +
        "toks AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS tk FROM corpus), " +
        "sh AS (SELECT doc_id, CASE WHEN len(tk) = 0 THEN [] WHEN len(tk) < 3 THEN list_distinct(tk) ELSE list_distinct(list_transform(generate_series(1, len(tk) - 2), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) END AS sh FROM toks), " +
        "counts AS (SELECT doc_id, len(sh) AS n FROM sh WHERE len(sh) > 0), " +
        "inv AS MATERIALIZED (SELECT doc_id, unnest(sh) AS shingle FROM sh), " +
        "dfs AS MATERIALIZED (SELECT shingle, count(*) AS df FROM inv GROUP BY 1), " +
        "cap AS (SELECT quantile_cont(df, 0.99) AS c FROM dfs), " +
        "rare AS (SELECT inv.doc_id, inv.shingle FROM inv JOIN dfs USING (shingle), cap WHERE df <= c), " +
        "pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter FROM rare a JOIN rare b USING (shingle) WHERE a.doc_id < b.doc_id GROUP BY 1, 2) " +
        "SELECT id_a, id_b, round(inter::DOUBLE / least(ca.n, cb.n), 4) AS containment " +
        "FROM pairs JOIN counts ca ON ca.doc_id = id_a JOIN counts cb ON cb.doc_id = id_b " +
        "WHERE round(inter::DOUBLE / least(ca.n, cb.n), 4) >= 0.8 ORDER BY id_a, id_b"),
    "q_shard" ->
      ("WITH h AS (SELECT doc_id, md5(doc_id::VARCHAR || 'v1') AS hh, " +
        "CAST(concat('0x', substring(md5(doc_id::VARCHAR || 'v1'), 1, 7)) AS BIGINT) % 1000 % 8 AS shard FROM documents) " +
        "SELECT doc_id, shard::BIGINT AS shard, row_number() OVER (PARTITION BY shard ORDER BY hh, doc_id)::BIGINT AS shard_pos " +
        "FROM h ORDER BY doc_id"),
    "q_budget_select" ->
      ("WITH toks AS (SELECT doc_id, text, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks FROM documents), " +
        "q AS (SELECT doc_id, len(toks)::BIGINT AS n_tokens, round(least(len(toks)::DOUBLE / 50.0, 1.0) * 0.4 + least((len(list_filter(toks, t -> list_contains(['the','and','of','to','a','in','is','it','that','for'], t)))::DOUBLE / greatest(len(toks)::DOUBLE, 1.0)) * 5.0, 1.0) * 0.4 + greatest(1.0 - (length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE / greatest(length(text), 1)) * 4.0, 0.0) * 0.2, 4) AS score FROM toks), " +
        "o AS (SELECT doc_id, score, n_tokens, coalesce(sum(n_tokens) OVER (ORDER BY score DESC, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cum_before FROM q) " +
        "SELECT doc_id, score, n_tokens, cum_before FROM o WHERE cum_before < 15000 ORDER BY doc_id"),
    "q_chunk" ->
      ("WITH toks AS (SELECT doc_id, text, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS tk FROM documents), " +
        "nz AS (SELECT doc_id, tk, len(tk) AS n FROM toks WHERE len(tk) > 0), " +
        "c AS (SELECT doc_id, tk, unnest(generate_series(0, CASE WHEN n <= 64 THEN 0 ELSE CAST(ceil((n - 64) / 48.0) AS BIGINT) END)) AS chunk_idx FROM nz) " +
        "SELECT doc_id, chunk_idx, len(tk[chunk_idx * 48 + 1 : chunk_idx * 48 + 64])::BIGINT AS n_tokens, " +
        "array_to_string(tk[chunk_idx * 48 + 1 : chunk_idx * 48 + 64], ' ') AS chunk_text " +
        "FROM c ORDER BY doc_id, chunk_idx"),
    "q_bpe_train" -> bpeTrainOracle,
    "q_bpe_encode" -> bpeEncodeOracle,
    "q_bpe_doc_tokens" -> bpeDocTokensOracle,
    "q_dedup_containment_incremental" ->
      // the q_dedup_containment replay restricted cross-set: batch
      // (quote) shingles vs stored corpus shingles, id_a = batch
      ("WITH batch AS (SELECT doc_id + 40000 AS doc_id, array_to_string(list_slice(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> ''), 1, 25), ' ') AS text " +
        "FROM documents WHERE doc_id % 5 = 0), " +
        "btoks AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS tk FROM batch), " +
        "bsh AS (SELECT doc_id, CASE WHEN len(tk) = 0 THEN [] WHEN len(tk) < 3 THEN list_distinct(tk) ELSE list_distinct(list_transform(generate_series(1, len(tk) - 2), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) END AS sh FROM btoks), " +
        "bc AS (SELECT doc_id, len(sh) AS n FROM bsh WHERE len(sh) > 0), " +
        "binv AS (SELECT doc_id, unnest(sh) AS shingle FROM bsh), " +
        "stoks AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS tk FROM documents), " +
        "ssh AS (SELECT doc_id, CASE WHEN len(tk) = 0 THEN [] WHEN len(tk) < 3 THEN list_distinct(tk) ELSE list_distinct(list_transform(generate_series(1, len(tk) - 2), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) END AS sh FROM stoks), " +
        "sc AS (SELECT doc_id, len(sh) AS n FROM ssh WHERE len(sh) > 0), " +
        "sinv AS (SELECT doc_id, unnest(sh) AS shingle FROM ssh), " +
        "pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter FROM binv a JOIN sinv b USING (shingle) GROUP BY 1, 2) " +
        "SELECT id_a, id_b, round(inter::DOUBLE / least(ca.n, cb.n), 4) AS containment " +
        "FROM pairs JOIN bc ca ON ca.doc_id = id_a JOIN sc cb ON cb.doc_id = id_b " +
        "WHERE round(inter::DOUBLE / least(ca.n, cb.n), 4) >= 0.8 ORDER BY id_a, id_b"),
    "q_dedup_substring" ->
      // string k-grams in the oracle vs 64-bit hashed k-grams in Spark:
      // identical span output modulo 2^-64 fingerprint collisions (the
      // decontaminate / exact-dedup argument)
      ("WITH d AS (SELECT doc_id, text FROM documents), " +
        "tk0 AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS tk FROM d), " +
        "planted AS (SELECT a.doc_id + 30000 AS doc_id, array_to_string(a.tk[1:20] || b.tk[1:20], ' ') AS text FROM tk0 a JOIN tk0 b ON b.doc_id = a.doc_id + 1 WHERE a.doc_id % 7 = 0), " +
        "corpus AS (SELECT doc_id, text FROM d UNION ALL SELECT doc_id, text FROM planted), " +
        "toks AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS tk FROM corpus), " +
        "grams AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(tk) - 14), i -> {'pos': i, 'g': array_to_string(tk[i:i+14], ' ')})) AS pg FROM toks WHERE len(tk) >= 15), " +
        "g2 AS (SELECT doc_id, pg.pos AS pos, pg.g AS g FROM grams), " +
        "dup AS (SELECT g FROM (SELECT DISTINCT g, doc_id FROM g2) GROUP BY g HAVING count(*) >= 2), " +
        "hits AS (SELECT doc_id, pos FROM g2 JOIN dup USING (g)), " +
        "lagd AS (SELECT doc_id, pos, lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM hits), " +
        "isl AS (SELECT doc_id, pos, sum(CASE WHEN prev IS NULL OR pos - prev > 15 THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island FROM lagd) " +
        "SELECT doc_id, min(pos) AS start_tok, max(pos) + 14 AS end_tok, max(pos) + 15 - min(pos) AS dup_tokens " +
        "FROM isl GROUP BY doc_id, island ORDER BY doc_id, start_tok"),
    "q_dedup_substring_incremental" ->
      // string 15-grams in the oracle vs 64-bit hashed fingerprints in
      // Spark (the q_dedup_substring argument); the batch fixture and
      // the novel-token tails replay token-for-token
      ("WITH d AS (SELECT doc_id, text FROM documents), " +
        "toks AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS tk FROM d), " +
        "sg AS (SELECT unnest(list_transform(generate_series(1, len(tk) - 14), i -> array_to_string(tk[i:i+14], ' '))) AS g FROM toks WHERE len(tk) >= 15), " +
        "stored AS MATERIALIZED (SELECT DISTINCT g FROM sg), " +
        "batch AS (SELECT doc_id + 40000 AS doc_id, array_to_string(tk[1:20], ' ') || ' zzq' || doc_id || ' zzr' || doc_id AS text FROM toks WHERE doc_id % 7 = 0 " +
        "UNION ALL SELECT doc_id + 45000, array_to_string(list_transform(generate_series(0, 19), j -> 'zzw' || doc_id || 'x' || j), ' ') FROM d WHERE doc_id % 11 = 0), " +
        "btoks AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS tk FROM batch), " +
        "bg AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(tk) - 14), i -> {'pos': i, 'g': array_to_string(tk[i:i+14], ' ')})) AS pg FROM btoks WHERE len(tk) >= 15), " +
        "g2 AS (SELECT doc_id, pg.pos AS pos, pg.g AS g FROM bg), " +
        "hits AS (SELECT doc_id, pos FROM g2 SEMI JOIN stored USING (g)), " +
        "lagd AS (SELECT doc_id, pos, lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM hits), " +
        "isl AS (SELECT doc_id, pos, sum(CASE WHEN prev IS NULL OR pos - prev > 15 THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island FROM lagd) " +
        "SELECT doc_id, min(pos) AS start_tok, max(pos) + 14 AS end_tok, max(pos) + 15 - min(pos) AS dup_tokens " +
        "FROM isl GROUP BY doc_id, island ORDER BY doc_id, start_tok"),
    "q_decontaminate" ->
      // string 8-grams in the oracle vs 64-bit hashed 8-grams in Spark:
      // identical join/count results modulo 2^-64 hash collisions (the
      // same argument as the exact-dedup and ngram oracles)
      ("WITH corpus AS (SELECT doc_id, text FROM documents UNION ALL SELECT doc_id + 10000, regexp_replace(text, '^\\S+\\s+', '') FROM documents), " +
        "btoks AS (SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')[1:10] AS tk FROM documents WHERE doc_id % 97 = 0), " +
        "bg AS (SELECT DISTINCT unnest(CASE WHEN len(tk) = 0 THEN [] WHEN len(tk) < 8 THEN list_distinct(tk) ELSE list_distinct(list_transform(generate_series(1, len(tk) - 7), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4] || ' ' || tk[i+5] || ' ' || tk[i+6] || ' ' || tk[i+7])) END) AS g FROM btoks), " +
        "dtoks AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS tk FROM corpus), " +
        "dg AS (SELECT doc_id, unnest(CASE WHEN len(tk) = 0 THEN [] WHEN len(tk) < 8 THEN list_distinct(tk) ELSE list_distinct(list_transform(generate_series(1, len(tk) - 7), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4] || ' ' || tk[i+5] || ' ' || tk[i+6] || ' ' || tk[i+7])) END) AS g FROM dtoks) " +
        "SELECT doc_id, count(*)::BIGINT AS shared_ngrams FROM dg JOIN bg USING (g) GROUP BY doc_id ORDER BY doc_id"),
    "q_dedup_clusters" ->
      // independent formulation: exact-Jaccard pairs (no LSH) symmetrized,
      // then a recursive-CTE transitive closure labels every doc with the
      // minimum reachable id. The Spark side's star-contraction loop must
      // produce the identical fixpoint. LSH candidate recall stays
      // oracle-grade on the chain fixture: at sf0.01 the minimum kept-pair
      // jaccard is 0.7 (band miss ~4e-10); see FIXTURES.md §C.
      ("WITH RECURSIVE corpus AS (SELECT doc_id, text FROM documents " +
        "UNION ALL SELECT doc_id + 10000, regexp_replace(text, '^\\S+\\s+', '') FROM documents " +
        "UNION ALL SELECT doc_id + 20000, regexp_replace(text, '^\\S+\\s+\\S+\\s+', '') FROM documents), " +
        "toks AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS tk FROM corpus), " +
        "sh AS (SELECT doc_id, CASE WHEN len(tk) = 0 THEN [] WHEN len(tk) < 3 THEN list_distinct(tk) ELSE list_distinct(list_transform(generate_series(1, len(tk) - 2), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) END AS sh FROM toks), " +
        "counts AS (SELECT doc_id, len(sh) AS n FROM sh WHERE len(sh) > 0), " +
        "inv AS (SELECT doc_id, unnest(sh) AS shingle FROM sh), " +
        "pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter FROM inv a JOIN inv b USING (shingle) WHERE a.doc_id < b.doc_id GROUP BY 1, 2), " +
        "good AS (SELECT id_a, id_b FROM pairs JOIN counts ca ON ca.doc_id = id_a JOIN counts cb ON cb.doc_id = id_b WHERE round(inter::DOUBLE / (ca.n + cb.n - inter), 4) >= 0.5), " +
        "sym AS (SELECT id_a AS s, id_b AS d FROM good UNION SELECT id_b, id_a FROM good), " +
        "reach AS (SELECT doc_id AS id, doc_id AS r FROM corpus UNION SELECT sym.s, reach.r FROM sym JOIN reach ON sym.d = reach.id) " +
        "SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id ORDER BY doc_id"),
    "q_dedup_incremental" ->
      ("WITH nw AS (SELECT doc_id + 10000 AS doc_id, regexp_replace(text, '^\\S+\\s+', '') AS text FROM documents), " +
        "tn AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS tk FROM nw), " +
        "tb AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS tk FROM documents), " +
        "sn AS (SELECT doc_id, CASE WHEN len(tk) = 0 THEN [] WHEN len(tk) < 3 THEN list_distinct(tk) ELSE list_distinct(list_transform(generate_series(1, len(tk) - 2), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) END AS sh FROM tn), " +
        "sb AS (SELECT doc_id, CASE WHEN len(tk) = 0 THEN [] WHEN len(tk) < 3 THEN list_distinct(tk) ELSE list_distinct(list_transform(generate_series(1, len(tk) - 2), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) END AS sh FROM tb), " +
        "cn AS (SELECT doc_id, len(sh) AS n FROM sn WHERE len(sh) > 0), " +
        "cb AS (SELECT doc_id, len(sh) AS n FROM sb WHERE len(sh) > 0), " +
        "ivn AS (SELECT doc_id, unnest(sh) AS shingle FROM sn), " +
        "ivb AS (SELECT doc_id, unnest(sh) AS shingle FROM sb), " +
        "pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter FROM ivn a JOIN ivb b USING (shingle) GROUP BY 1, 2) " +
        "SELECT id_a, id_b, round(inter::DOUBLE / (cn.n + cb.n - inter), 4) AS est_jaccard " +
        "FROM pairs JOIN cn ON cn.doc_id = id_a JOIN cb ON cb.doc_id = id_b " +
        "WHERE round(inter::DOUBLE / (cn.n + cb.n - inter), 4) >= 0.6 ORDER BY id_a, id_b"),
    "q_dedup_verified" ->
      ("WITH corpus AS (SELECT doc_id, text FROM documents UNION ALL SELECT doc_id + 10000, regexp_replace(text, '^\\S+\\s+', '') FROM documents), " +
        "toks AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS tk FROM corpus), " +
        "sh AS (SELECT doc_id, CASE WHEN len(tk) = 0 THEN [] WHEN len(tk) < 3 THEN list_distinct(tk) ELSE list_distinct(list_transform(generate_series(1, len(tk) - 2), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) END AS sh FROM toks), " +
        "counts AS (SELECT doc_id, len(sh) AS n FROM sh WHERE len(sh) > 0), " +
        "inv AS (SELECT doc_id, unnest(sh) AS shingle FROM sh), " +
        "pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter FROM inv a JOIN inv b USING (shingle) WHERE a.doc_id < b.doc_id GROUP BY 1, 2) " +
        "SELECT id_a, id_b, round(inter::DOUBLE / (ca.n + cb.n - inter), 4) AS est_jaccard " +
        "FROM pairs JOIN counts ca ON ca.doc_id = id_a JOIN counts cb ON cb.doc_id = id_b " +
        "WHERE round(inter::DOUBLE / (ca.n + cb.n - inter), 4) >= 0.6 ORDER BY id_a, id_b"),
    "q_pipeline_curate" ->
      // the full pipeline replayed declaratively: quality floor (same
      // formula as q_quality_score), exact dedup keyed on the text itself
      // (the Spark side keys on xxhash64(text) — identical mod 2^-64
      // collisions), then exact-Jaccard near-drop of id_b per ≥0.6 pair
      // among survivors (the Spark side's LSH+verify at 32 bands is
      // exhaustive-equivalent on the fixture)
      ("WITH corpus AS (SELECT doc_id, text FROM documents UNION ALL SELECT doc_id + 10000, regexp_replace(text, '^\\S+\\s+', '') FROM documents), " +
        "qual AS (SELECT doc_id, text FROM (SELECT doc_id, text, round(least(n::DOUBLE / 50.0, 1.0) * 0.4 + least((stop_hits::DOUBLE / greatest(n::DOUBLE, 1.0)) * 5.0, 1.0) * 0.4 + greatest(1.0 - punct * 4.0, 0.0) * 0.2, 4) AS quality FROM (SELECT doc_id, text, len(toks) AS n, len(list_filter(toks, t -> list_contains(['the','and','of','to','a','in','is','it','that','for'], t))) AS stop_hits, length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE / greatest(length(text), 1) AS punct FROM (SELECT doc_id, text, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks FROM corpus))) WHERE quality >= 0.2), " +
        "exact_keep AS (SELECT min(doc_id) AS doc_id FROM qual GROUP BY text), " +
        "kept1 AS (SELECT q.doc_id, q.text FROM qual q JOIN exact_keep e USING (doc_id)), " +
        "toks2 AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS tk FROM kept1), " +
        "sh AS (SELECT doc_id, CASE WHEN len(tk) = 0 THEN [] WHEN len(tk) < 3 THEN list_distinct(tk) ELSE list_distinct(list_transform(generate_series(1, len(tk) - 2), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) END AS sh FROM toks2), " +
        "counts AS (SELECT doc_id, len(sh) AS n FROM sh WHERE len(sh) > 0), " +
        "inv AS (SELECT doc_id, unnest(sh) AS shingle FROM sh), " +
        "pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter FROM inv a JOIN inv b USING (shingle) WHERE a.doc_id < b.doc_id GROUP BY 1, 2), " +
        "nears AS (SELECT DISTINCT id_b FROM pairs JOIN counts ca ON ca.doc_id = id_a JOIN counts cb ON cb.doc_id = id_b WHERE round(inter::DOUBLE / (ca.n + cb.n - inter), 4) >= 0.6), " +
        "kept AS (SELECT doc_id FROM kept1 WHERE doc_id NOT IN (SELECT id_b FROM nears)) " +
        "SELECT count(*) AS n_kept, min(doc_id) AS min_id, max(doc_id) AS max_id, sum(CASE WHEN doc_id >= 10000 THEN 1 ELSE 0 END)::BIGINT AS perturbed_kept FROM kept"),
    "q_retract_reingest" ->
      // independent replay of the takedown: kept = corpus minus the
      // retracted ids; the re-ingest batch drops only on exact-jaccard
      // ≥ 0.6 vs a KEPT doc (32-band LSH+verify is exhaustive-equivalent
      // on the fixture — the q_pipeline_curate argument); a drop vs a
      // RETRACTED doc is impossible because its signatures left storage
      ("WITH kept AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 3), " +
        "batch AS (SELECT doc_id + 50000 AS doc_id, regexp_replace(text, '^\\S+\\s+', '') AS text FROM documents WHERE doc_id % 5 = 3), " +
        "allc AS (SELECT * FROM kept UNION ALL SELECT * FROM batch), " +
        "toks AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS tk FROM allc), " +
        "sh AS (SELECT doc_id, CASE WHEN len(tk) = 0 THEN [] WHEN len(tk) < 3 THEN list_distinct(tk) ELSE list_distinct(list_transform(generate_series(1, len(tk) - 2), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) END AS sh FROM toks), " +
        "counts AS (SELECT doc_id, len(sh) AS n FROM sh WHERE len(sh) > 0), " +
        "inv AS (SELECT doc_id, unnest(sh) AS shingle FROM sh), " +
        "pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter FROM inv a JOIN inv b USING (shingle) WHERE a.doc_id >= 50000 AND b.doc_id < 50000 GROUP BY 1, 2), " +
        "drops AS (SELECT DISTINCT id_a FROM pairs JOIN counts ca ON ca.doc_id = id_a JOIN counts cb ON cb.doc_id = id_b WHERE round(inter::DOUBLE / (ca.n + cb.n - inter), 4) >= 0.6), " +
        "final AS (SELECT doc_id FROM kept UNION ALL SELECT doc_id FROM batch WHERE doc_id NOT IN (SELECT id_a FROM drops)) " +
        "SELECT count(*) AS n_rows, " +
        "sum(CASE WHEN doc_id < 50000 AND doc_id % 10 = 3 THEN 1 ELSE 0 END)::BIGINT AS retracted_left, " +
        "sum(CASE WHEN doc_id >= 50000 AND (doc_id - 50000) % 10 = 3 THEN 1 ELSE 0 END)::BIGINT AS reingest_of_retracted, " +
        "sum(CASE WHEN doc_id >= 50000 AND (doc_id - 50000) % 10 = 8 THEN 1 ELSE 0 END)::BIGINT AS reingest_of_kept FROM final"),
    "q_pipeline_curate_budget" ->
      // the pipeline + containment-stage replay: same chain as
      // q_pipeline_curate through the near-drop, then the quantile_cont
      // p99 df cap over the SURVIVORS' postings, pairs from the rare
      // postings, and the contained-side drop rule (fewer shingles;
      // ties drop the higher id)
      ("WITH corpus AS (SELECT doc_id, text FROM documents UNION ALL SELECT doc_id + 10000, regexp_replace(text, '^\\S+\\s+', '') FROM documents " +
        "UNION ALL SELECT doc_id + 40000, array_to_string(list_slice(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> ''), 1, 25), ' ') FROM documents WHERE doc_id % 5 = 0), " +
        "qual AS (SELECT doc_id, text FROM (SELECT doc_id, text, round(least(n::DOUBLE / 50.0, 1.0) * 0.4 + least((stop_hits::DOUBLE / greatest(n::DOUBLE, 1.0)) * 5.0, 1.0) * 0.4 + greatest(1.0 - punct * 4.0, 0.0) * 0.2, 4) AS quality FROM (SELECT doc_id, text, len(toks) AS n, len(list_filter(toks, t -> list_contains(['the','and','of','to','a','in','is','it','that','for'], t))) AS stop_hits, length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE / greatest(length(text), 1) AS punct FROM (SELECT doc_id, text, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks FROM corpus))) WHERE quality >= 0.2), " +
        "exact_keep AS (SELECT min(doc_id) AS doc_id FROM qual GROUP BY text), " +
        "kept1 AS (SELECT q.doc_id, q.text FROM qual q JOIN exact_keep e USING (doc_id)), " +
        "toks2 AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS tk FROM kept1), " +
        "sh AS MATERIALIZED (SELECT doc_id, CASE WHEN len(tk) = 0 THEN [] WHEN len(tk) < 3 THEN list_distinct(tk) ELSE list_distinct(list_transform(generate_series(1, len(tk) - 2), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) END AS sh FROM toks2), " +
        "counts AS (SELECT doc_id, len(sh) AS n FROM sh WHERE len(sh) > 0), " +
        "inv AS MATERIALIZED (SELECT doc_id, unnest(sh) AS shingle FROM sh), " +
        "pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter FROM inv a JOIN inv b USING (shingle) WHERE a.doc_id < b.doc_id GROUP BY 1, 2), " +
        "nears AS (SELECT DISTINCT id_b FROM pairs JOIN counts ca ON ca.doc_id = id_a JOIN counts cb ON cb.doc_id = id_b WHERE round(inter::DOUBLE / (ca.n + cb.n - inter), 4) >= 0.6), " +
        "kept2 AS MATERIALIZED (SELECT doc_id FROM kept1 WHERE doc_id NOT IN (SELECT id_b FROM nears)), " +
        "inv2 AS MATERIALIZED (SELECT i.doc_id, i.shingle FROM inv i JOIN kept2 USING (doc_id)), " +
        "dfs AS MATERIALIZED (SELECT shingle, count(*) AS df FROM inv2 GROUP BY 1), " +
        "cap AS (SELECT quantile_cont(df, 0.99) AS c FROM dfs), " +
        "rare AS (SELECT i.doc_id, i.shingle FROM inv2 i JOIN dfs USING (shingle), cap WHERE df <= c), " +
        "cpairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter FROM rare a JOIN rare b USING (shingle) WHERE a.doc_id < b.doc_id GROUP BY 1, 2), " +
        "cdrop AS (SELECT DISTINCT CASE WHEN ca.n < cb.n THEN id_a WHEN cb.n < ca.n THEN id_b ELSE greatest(id_a, id_b) END AS doc_id " +
        "FROM cpairs JOIN counts ca ON ca.doc_id = id_a JOIN counts cb ON cb.doc_id = id_b " +
        "WHERE round(inter::DOUBLE / least(ca.n, cb.n), 4) >= 0.9), " +
        "kept AS (SELECT doc_id FROM kept2 WHERE doc_id NOT IN (SELECT doc_id FROM cdrop)) " +
        "SELECT count(*) AS n_kept, min(doc_id) AS min_id, max(doc_id) AS max_id, " +
        "sum(CASE WHEN doc_id >= 10000 AND doc_id < 40000 THEN 1 ELSE 0 END)::BIGINT AS perturbed_kept, " +
        "sum(CASE WHEN doc_id >= 40000 THEN 1 ELSE 0 END)::BIGINT AS quotes_kept FROM kept"),
    "q_text_stats" ->
      "SELECT doc_id, length(text)::BIGINT AS n_chars, len(toks)::BIGINT AS n_tokens, round(CASE WHEN len(toks) = 0 THEN 0.0 ELSE list_sum(list_transform(toks, t -> length(t)))::DOUBLE / len(toks) END, 4) AS avg_token_len, round(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE / greatest(length(text), 1), 4) AS punct_ratio FROM (SELECT doc_id, text, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks FROM documents) ORDER BY doc_id",
    "q_token_count" ->
      "SELECT lang, sum(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')))::BIGINT AS n_tokens, count(*) AS n_docs FROM documents GROUP BY lang ORDER BY lang",
    "q_lang_id" ->
      "WITH toks AS (SELECT doc_id, list_filter(string_split_regex(lower(text),'[^a-z0-9]+'), t -> t <> '') AS tk FROM documents), h AS (SELECT doc_id, len(list_filter(tk, t -> list_contains(['der','die','das','und','ist','nicht','mit','ein','zu','den'], t))) AS h_de, len(list_filter(tk, t -> list_contains(['the','and','of','to','in','is','that','for','with','as'], t))) AS h_en, len(list_filter(tk, t -> list_contains(['el','la','los','las','es','y','en','que','una','por'], t))) AS h_es, len(list_filter(tk, t -> list_contains(['le','la','les','et','est','pas','des','une','que','pour'], t))) AS h_fr, len(list_filter(tk, t -> list_contains(['de','shi','le','zai','you','wo','ta','men','zhe','bu'], t))) AS h_zh FROM toks), u AS (SELECT doc_id, unnest([struct_pack(h := h_de, l := 'de'), struct_pack(h := h_en, l := 'en'), struct_pack(h := h_es, l := 'es'), struct_pack(h := h_fr, l := 'fr'), struct_pack(h := h_zh, l := 'zh')]) AS x FROM h) SELECT doc_id, pred_lang FROM (SELECT doc_id, x.l AS pred_lang, row_number() OVER (PARTITION BY doc_id ORDER BY x.h DESC, x.l DESC) AS rn FROM u) WHERE rn = 1 ORDER BY doc_id",
    "q_lm_score" ->
      ("WITH toks AS MATERIALIZED (SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS tk FROM documents), " +
        "uni AS MATERIALIZED (SELECT t AS w1, count(*) AS c1 FROM (SELECT unnest(tk) AS t FROM toks) GROUP BY 1), " +
        "v AS (SELECT count(*)::DOUBLE AS v FROM uni), " +
        "bg AS MATERIALIZED (SELECT doc_id, x.b AS bigram, x.w AS w1 FROM (SELECT doc_id, unnest(list_transform(generate_series(1, len(tk) - 1), i -> struct_pack(b := tk[i] || ' ' || tk[i+1], w := tk[i]))) AS x FROM toks WHERE len(tk) >= 2)), " +
        "bigc AS MATERIALIZED (SELECT bigram, count(*) AS c2 FROM bg GROUP BY 1), " +
        "scored AS (SELECT g.doc_id, -ln((coalesce(bc.c2, 0) + 1)::DOUBLE / (coalesce(u.c1, 0) + (SELECT v FROM v))) AS nl FROM bg g LEFT JOIN bigc bc USING (bigram) LEFT JOIN uni u ON u.w1 = g.w1) " +
        "SELECT doc_id, count(*)::BIGINT AS n_bigrams, round(avg(nl), 4) AS nll FROM scored GROUP BY 1 ORDER BY doc_id"),
    "q_dsir_select" ->
      // The full DSIR replay: portable md5 bucket (the hash-split
      // convention), Laplace-smoothed target/source models, identical
      // left-associated ln-ratio arithmetic, ordering on the ROUNDED
      // weight (budget-select convention)
      ("WITH toks AS MATERIALIZED (SELECT doc_id, lang, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS tk FROM documents), " +
        "fb AS MATERIALIZED (SELECT doc_id, lang, CAST(concat('0x', substring(md5(x.g), 1, 7)) AS BIGINT) % 4096 AS b FROM " +
        "(SELECT doc_id, lang, unnest(list_transform(generate_series(1, len(tk) - 1), i -> tk[i] || ' ' || tk[i+1])) AS g FROM toks WHERE len(tk) >= 2) x), " +
        "tot AS (SELECT count(*)::DOUBLE AS ns, sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::DOUBLE AS nt FROM fb), " +
        "cs AS (SELECT b, count(*) AS cs FROM fb GROUP BY 1), " +
        "ct AS (SELECT b, count(*) AS ct FROM fb WHERE lang = 'en' GROUP BY 1), " +
        "ratio AS (SELECT cs.b, ln((coalesce(ct.ct, 0) + 1.0) / ((SELECT nt FROM tot) + 4096.0)) - ln((cs.cs + 1.0) / ((SELECT ns FROM tot) + 4096.0)) AS r FROM cs LEFT JOIN ct USING (b)), " +
        "dc AS (SELECT doc_id, b, count(*) AS n FROM fb GROUP BY 1, 2), " +
        "w AS (SELECT doc_id, round(sum(n * r), 4) AS weight, sum(n)::BIGINT AS n_feats FROM dc JOIN ratio USING (b) GROUP BY 1) " +
        "SELECT doc_id, weight, n_feats FROM w ORDER BY weight DESC, doc_id LIMIT 100"),
    "q_domain_mix" ->
      ("WITH src AS (SELECT doc_id, CASE WHEN doc_id % 4 = 0 THEN 'web' WHEN doc_id % 4 = 1 THEN 'books' " +
        "WHEN doc_id % 4 = 2 THEN 'code' ELSE 'wiki' END AS source FROM documents), " +
        "cnt AS (SELECT source, count(*) AS n FROM src GROUP BY source), " +
        "shares(source, share) AS (VALUES ('web', 0.5::DOUBLE), ('books', 0.2::DOUBLE), ('code', 0.2::DOUBLE), ('wiki', 0.1::DOUBLE)), " +
        "j AS (SELECT c.source, c.n, s.share FROM cnt c JOIN shares s ON c.source = s.source), " +
        "t AS (SELECT min(n / share) AS total FROM j), " +
        "pm AS (SELECT source, least(1000, floor(1000.0 * share * total / n + 1e-9))::BIGINT AS p FROM j CROSS JOIN t) " +
        "SELECT s.doc_id, s.source FROM src s JOIN pm ON s.source = pm.source " +
        "WHERE CAST(concat('0x', substring(md5(s.doc_id::VARCHAR || 'mix1'), 1, 7)) AS BIGINT) % 1000 < pm.p " +
        "ORDER BY s.doc_id"),
    "q_temperature_mix" ->
      ("WITH src AS (SELECT doc_id, CASE WHEN doc_id % 10 <= 5 THEN 'web' WHEN doc_id % 10 <= 8 THEN 'books' ELSE 'wiki' END AS source FROM documents), " +
        "cnt AS (SELECT source, count(*) AS n FROM src GROUP BY source), " +
        "mn AS (SELECT min(n) AS nmin FROM cnt), " +
        "pm AS (SELECT source, least(1000, floor(1000.0 * pow(nmin::DOUBLE / n, 0.5) + 1e-9))::BIGINT AS p FROM cnt CROSS JOIN mn) " +
        "SELECT s.doc_id, s.source FROM src s JOIN pm USING (source) " +
        "WHERE CAST(concat('0x', substring(md5(s.doc_id::VARCHAR || 'temp1'), 1, 7)) AS BIGINT) % 1000 < pm.p " +
        "ORDER BY s.doc_id"),
    "q_seq_pack" ->
      ("WITH c AS (SELECT doc_id, len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> ''))::BIGINT AS n_tokens FROM documents), " +
        "s AS (SELECT doc_id, n_tokens, coalesce(sum(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum FROM c) " +
        "SELECT doc_id, n_tokens, (cum // 2048)::BIGINT AS seq_id, (cum % 2048)::BIGINT AS seq_offset " +
        "FROM s ORDER BY doc_id"),
    "q_vocab_build" ->
      ("WITH tk AS (SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS term FROM documents) " +
        "SELECT term, count(*)::BIGINT AS tf, count(DISTINCT doc_id)::BIGINT AS df " +
        "FROM tk GROUP BY term HAVING count(DISTINCT doc_id) >= 2 " +
        "ORDER BY tf DESC, term LIMIT 1000"),
    "q_heavy_hitters" ->
      ("WITH tk AS (SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS term FROM documents), " +
        "tot AS (SELECT count(*) AS n FROM tk) " +
        "SELECT term, count(*)::BIGINT AS cnt FROM tk GROUP BY term " +
        "HAVING count(*) * 30 > (SELECT n FROM tot) " +
        "ORDER BY cnt DESC, term"),
    "q_repetition" ->
      ("WITH toks AS (SELECT doc_id, text, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS tk FROM documents), " +
        "l AS (SELECT doc_id, list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)), x -> x <> '') AS lines, tk FROM toks), " +
        "b AS (SELECT doc_id, lines, CASE WHEN len(tk) < 2 THEN [] ELSE list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1]) END AS bg FROM l) " +
        "SELECT doc_id, len(lines)::BIGINT AS n_lines, " +
        "round(CASE WHEN len(lines) = 0 THEN 0.0 ELSE 1.0 - len(list_distinct(lines))::DOUBLE / len(lines) END, 4) AS dup_line_frac, " +
        "len(bg)::BIGINT AS n_bigrams, " +
        "round(CASE WHEN len(bg) = 0 THEN 0.0 ELSE 1.0 - len(list_distinct(bg))::DOUBLE / len(bg) END, 4) AS dup_bigram_frac " +
        "FROM b ORDER BY doc_id"),
    "q_pii_scrub" ->
      ("WITH pii AS (SELECT doc_id, text || ' contact user' || doc_id::VARCHAR || '@example.com' || ' backup ops-team@corp.example.org' || " +
        "' from 10.1.' || (doc_id % 256)::VARCHAR || '.7' || ' call 555-' || (doc_id % 9000 + 1000)::VARCHAR AS text FROM documents) " +
        "SELECT doc_id, " +
        "len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))::BIGINT AS n_emails, " +
        "len(regexp_extract_all(text, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b'))::BIGINT AS n_ips, " +
        "len(regexp_extract_all(text, '\\b\\d{3}-\\d{4}\\b'))::BIGINT AS n_phones, " +
        "md5(regexp_replace(regexp_replace(regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'), " +
        "'\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g'), '\\b\\d{3}-\\d{4}\\b', '<PHONE>', 'g')) AS scrub_md5 " +
        "FROM pii ORDER BY doc_id"),
    "q_quality_score" ->
      "SELECT doc_id, round(least(n::DOUBLE / 50.0, 1.0) * 0.4 + least((stop_hits::DOUBLE / greatest(n::DOUBLE, 1.0)) * 5.0, 1.0) * 0.4 + greatest(1.0 - punct * 4.0, 0.0) * 0.2, 4) AS quality FROM (SELECT doc_id, len(toks) AS n, len(list_filter(toks, t -> list_contains(['the','and','of','to','a','in','is','it','that','for'], t))) AS stop_hits, length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE / greatest(length(text), 1) AS punct FROM (SELECT doc_id, text, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks FROM documents)) ORDER BY doc_id",
    "q_quantile_filter" ->
      // the q_quality_score formula as a CTE, then the exact top-10% cut
      // by global (quality DESC, doc_id) rank — rank_before = rn - 1
      ("WITH q AS (SELECT doc_id, round(least(n::DOUBLE / 50.0, 1.0) * 0.4 + least((stop_hits::DOUBLE / greatest(n::DOUBLE, 1.0)) * 5.0, 1.0) * 0.4 + greatest(1.0 - punct * 4.0, 0.0) * 0.2, 4) AS quality FROM (SELECT doc_id, len(toks) AS n, len(list_filter(toks, t -> list_contains(['the','and','of','to','a','in','is','it','that','for'], t))) AS stop_hits, length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE / greatest(length(text), 1) AS punct FROM (SELECT doc_id, text, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks FROM documents))), " +
        "r AS (SELECT doc_id, quality, row_number() OVER (ORDER BY quality DESC, doc_id) - 1 AS rank_before FROM q), " +
        "n AS (SELECT count(*) AS n FROM q) " +
        "SELECT doc_id, quality, rank_before FROM r, n WHERE rank_before < greatest(CAST(floor(0.1 * n) AS BIGINT), 1) ORDER BY doc_id"),
    "q_tfidf" ->
      ("WITH toks AS (SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS term FROM documents), " +
        "tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term), " +
        "df AS (SELECT term, count(*) AS df FROM tf GROUP BY term), " +
        "n AS (SELECT count(*) AS n_docs FROM documents), " +
        "s AS (SELECT tf.doc_id, tf.term, tf.tf * ln((n.n_docs + 1) / (df.df + 1)) AS score FROM tf JOIN df USING (term) CROSS JOIN n), " +
        "r AS (SELECT doc_id, term, score, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rnk FROM s) " +
        "SELECT doc_id, rnk, term, round(score, 4) AS score FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk"),
    "q_url_stats" ->
      ("WITH planted AS (SELECT doc_id, text || ' see http://site' || CAST(doc_id % 37 AS VARCHAR) || '.example.com/p/' || CAST(doc_id AS VARCHAR) || ' and https://cdn' || CAST(doc_id % 11 AS VARCHAR) || '.example.org/a?x=' || CAST(doc_id AS VARCHAR) AS text FROM documents), " +
        "u AS (SELECT doc_id, unnest(regexp_extract_all(text, 'https?://[^\\s]+')) AS url FROM planted) " +
        "SELECT regexp_extract(url, 'https?://([^/\\s?]+)', 1) AS host, count(*) AS n_urls, count(DISTINCT doc_id) AS n_docs FROM u GROUP BY host ORDER BY host"),
    "q_url_dedup" ->
      ("WITH planted AS (SELECT doc_id, text || ' see http://site' || CAST(doc_id % 37 AS VARCHAR) || '.example.com/p/' || CAST(doc_id AS VARCHAR) || ' and https://cdn' || CAST(doc_id % 11 AS VARCHAR) || '.example.org/a?x=' || CAST(doc_id AS VARCHAR) AS text FROM documents), " +
        "u AS (SELECT doc_id, unnest(regexp_extract_all(text, 'https?://[^\\s]+')) AS url FROM planted) " +
        "SELECT lower(regexp_replace(url, '[?#].*$', '')) AS curl, min(doc_id) AS keeper, count(*) AS n_refs FROM u GROUP BY curl ORDER BY curl"),
    "q_token_entropy" ->
      ("WITH toks AS (SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS term FROM documents), " +
        "tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term), " +
        "h AS (SELECT doc_id, sum(tf)::BIGINT AS n, sum(tf * ln(tf)) AS s FROM tf GROUP BY doc_id) " +
        "SELECT doc_id, n, round(ln(n) - s / n, 4) AS entropy FROM h ORDER BY doc_id"),
    "q_line_dedup" ->
      ("WITH planted AS (SELECT doc_id, 'subscribe to our newsletter today' || chr(10) || text || chr(10) || 'share this page on social media ' || CAST(doc_id % 5 AS VARCHAR) || chr(10) || 'ref item ' || CAST(doc_id AS VARCHAR) AS text FROM documents), " +
        "l0 AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM planted), " +
        "l AS (SELECT doc_id, unnest(ls) AS line, generate_subscripts(ls, 1) AS pos FROM l0), " +
        "ne AS (SELECT * FROM l WHERE line <> ''), " +
        "perdoc AS (SELECT line, doc_id FROM ne GROUP BY 1, 2), " +
        "dup AS (SELECT line FROM perdoc GROUP BY line HAVING count(*) >= 3), " +
        "kept AS (SELECT ne.* FROM ne LEFT JOIN dup ON ne.line = dup.line WHERE dup.line IS NULL), " +
        "reb AS (SELECT doc_id, count(*) AS n_kept, string_agg(line, chr(10) ORDER BY pos) AS clean_text FROM kept GROUP BY doc_id), " +
        "tot AS (SELECT doc_id, count(*) AS n_lines FROM ne GROUP BY doc_id) " +
        "SELECT t.doc_id, t.n_lines, coalesce(r.n_kept, 0) AS n_kept, coalesce(r.clean_text, '') AS clean_text " +
        "FROM tot t LEFT JOIN reb r USING (doc_id) ORDER BY doc_id"),
    "q_line_dedup_incremental" ->
      // line-TEXT joins in the oracle vs xxhash64 in Spark (the
      // q_line_dedup collision argument), cross-set: corpus frequency,
      // batch cleaning
      ("WITH corpus AS (SELECT doc_id, 'subscribe to our newsletter today' || chr(10) || text || chr(10) || 'share this page on social media ' || CAST(doc_id % 5 AS VARCHAR) || chr(10) || 'ref item ' || CAST(doc_id AS VARCHAR) AS text FROM documents), " +
        "cl0 AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM corpus), " +
        "cl AS (SELECT doc_id, unnest(ls) AS line FROM cl0), " +
        "cne AS (SELECT DISTINCT line, doc_id FROM cl WHERE line <> ''), " +
        "freq AS MATERIALIZED (SELECT line, count(*) AS nd FROM cne GROUP BY 1), " +
        "batch AS (SELECT doc_id + 50000 AS doc_id, 'subscribe to our newsletter today' || chr(10) || text || chr(10) || 'share this page on social media ' || CAST(doc_id % 5 AS VARCHAR) || chr(10) || 'fresh line ' || CAST(doc_id AS VARCHAR) AS text FROM documents WHERE doc_id % 3 = 0), " +
        "bl0 AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM batch), " +
        "bl AS (SELECT doc_id, unnest(ls) AS line, generate_subscripts(ls, 1) AS pos FROM bl0), " +
        "bne AS (SELECT * FROM bl WHERE line <> ''), " +
        "dup AS (SELECT line FROM freq WHERE nd >= 3), " +
        "kept AS (SELECT bne.* FROM bne LEFT JOIN dup ON bne.line = dup.line WHERE dup.line IS NULL), " +
        "reb AS (SELECT doc_id, count(*) AS n_kept, string_agg(line, chr(10) ORDER BY pos) AS clean_text FROM kept GROUP BY doc_id), " +
        "tot AS (SELECT doc_id, count(*) AS n_lines FROM bne GROUP BY doc_id) " +
        "SELECT t.doc_id, t.n_lines, coalesce(r.n_kept, 0) AS n_kept, coalesce(r.clean_text, '') AS clean_text " +
        "FROM tot t LEFT JOIN reb r USING (doc_id) ORDER BY doc_id"),
    "q_jaccard_prefix" ->
      ("WITH toks AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS tk FROM documents), " +
        "sh AS (SELECT doc_id, CASE WHEN len(tk) = 0 THEN [] WHEN len(tk) < 3 THEN list_distinct(tk) ELSE list_distinct(list_transform(generate_series(1, len(tk) - 2), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) END AS sh FROM toks), " +
        "counts AS (SELECT doc_id, len(sh) AS n FROM sh WHERE len(sh) > 0), " +
        "inv AS (SELECT doc_id, unnest(sh) AS shingle FROM sh), " +
        "pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter FROM inv a JOIN inv b USING (shingle) WHERE a.doc_id < b.doc_id GROUP BY 1, 2) " +
        "SELECT id_a, id_b, round(inter::DOUBLE / (ca.n + cb.n - inter), 4) AS jaccard " +
        "FROM pairs JOIN counts ca ON ca.doc_id = id_a JOIN counts cb ON cb.doc_id = id_b " +
        "WHERE round(inter::DOUBLE / (ca.n + cb.n - inter), 4) >= 0.8 ORDER BY id_a, id_b"),
    "q_nb_classifier" ->
      ("WITH tr AS (SELECT * FROM documents WHERE doc_id % 2 = 0), " +
        "te AS (SELECT * FROM documents WHERE doc_id % 2 = 1), " +
        "trtok AS (SELECT lang AS cls, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS term FROM tr), " +
        "trtf AS (SELECT cls, term, count(*) AS tf FROM trtok GROUP BY 1, 2), " +
        "v AS (SELECT count(DISTINCT term) AS v FROM trtf), " +
        "ct AS (SELECT cls, sum(tf) AS t_c FROM trtf GROUP BY 1), " +
        "pr AS (SELECT lang AS cls, count(*) AS n_c FROM tr GROUP BY 1), " +
        "nt AS (SELECT count(*) AS n_train FROM tr), " +
        "classes AS (SELECT ct.cls, ln(n_c::DOUBLE / n_train) AS logprior, (t_c + v)::DOUBLE AS denom FROM ct JOIN pr USING (cls) CROSS JOIN nt CROSS JOIN v), " +
        "tetok AS (SELECT doc_id, lang AS label, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS term FROM te), " +
        "tetf AS (SELECT doc_id, label, term, count(*) AS tf FROM tetok GROUP BY 1, 2, 3), " +
        "sc AS (SELECT doc_id, label, c.cls, any_value(c.logprior) + sum(tf * coalesce(l.logp, ln(1.0 / c.denom))) AS score " +
        "FROM tetf CROSS JOIN classes c LEFT JOIN (SELECT cls, term, ln((tf + 1)::DOUBLE / denom) AS logp FROM trtf JOIN classes USING (cls)) l ON l.cls = c.cls AND l.term = tetf.term GROUP BY 1, 2, 3), " +
        "r AS (SELECT doc_id, label, cls, score, row_number() OVER (PARTITION BY doc_id ORDER BY round(score, 6) DESC, cls) AS rn FROM sc) " +
        "SELECT doc_id, label, cls AS pred, round(score, 4) AS score FROM r WHERE rn = 1 ORDER BY doc_id"),
  )
}
