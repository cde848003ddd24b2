package graft.ops

import graft.core.Fence
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, per-document statistics, quality scoring, language ID,
  * fingerprinting. All hot paths are built-in Catalyst functions (no
  * Python, no serialization walls); each is a narrow per-row transform —
  * no shuffle — so they scale linearly with input splits.
  */
object TextAnalysis {

  /** Lowercased alphanumeric word tokens (empty strings filtered — `split`
    * on a delimiter regex yields empties at string edges). */
  def tokens(text: Column): Column =
    filter(split(lower(text), "[^a-z0-9]+"), t => t =!= "")

  /** BPE-ish pre-tokenization: letter runs, digit runs, or single
    * non-space symbols — the shape of a GPT-2-style pre-tokenizer regex. */
  def bpeIshTokens(text: Column): Column =
    regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))

  /** Sliding-window document chunking (the RAG / context-window prep
    * shape): fixed-`size` token windows advancing by `size - overlap`,
    * the last window shortened to the document end. One narrow
    * explode-shaped pass — `(doc, chunk_idx)` rows with the chunk's
    * token count and text; no shuffle, no UDF. Chunk count is
    * `1 + ceil((n - size) / stride)` (1 for docs that fit in one
    * window), so every token is covered and consecutive chunks share
    * exactly `overlap` tokens. */
  def chunkTokens(
      docs: DataFrame,
      size: Int = 64,
      overlap: Int = 16,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(size > overlap && overlap >= 0, s"need size > overlap >= 0, got $size/$overlap")
    val stride = size - overlap
    val n = org.apache.spark.sql.functions.size(col("__tk"))
    val nChunks = when(n <= lit(size), lit(1))
      .otherwise(lit(1) + ceil((n - lit(size)).cast("double") / stride).cast("int"))
    docs
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("__tk"))
      .where(org.apache.spark.sql.functions.size(col("__tk")) > 0)
      .select(col("doc_id"), col("__tk"), explode(sequence(lit(0), nChunks - 1)).as("chunk_idx"))
      .select(
        col("doc_id"),
        col("chunk_idx").cast("bigint").as("chunk_idx"),
        slice(col("__tk"), col("chunk_idx") * stride + 1, lit(size)).as("__c"))
      .select(col("doc_id"), col("chunk_idx"),
        org.apache.spark.sql.functions.size(col("__c")).cast("bigint").as("n_tokens"),
        concat_ws(" ", col("__c")).as("chunk_text"))
  }

  /** Per-document statistics frame: char/token counts, average token
    * length, punctuation + whitespace ratios. */
  def textStats(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = tokens(col(textCol))
    docs.select(
      col(idCol),
      length(col(textCol)).cast("bigint").as("n_chars"),
      size(toks).cast("bigint").as("n_tokens"),
      round(
        when(size(toks) === 0, 0.0)
          .otherwise(aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") / size(toks)),
        4).as("avg_token_len"),
      round(length(regexp_replace(col(textCol), "[A-Za-z0-9\\s]", "")).cast("double") /
        greatest(length(col(textCol)), lit(1)).cast("double"), 4).as("punct_ratio"))
  }

  private val enStop = Seq("the", "and", "of", "to", "a", "in", "is", "it", "that", "for")

  /** Heuristic quality score in [0,1] as a composable column: rewards
    * mid-length documents, a plausible stopword rate and low punctuation
    * density — the standard cheap pre-filter stack (C4/Gopher-style
    * rules) expressed as one codegen-friendly arithmetic column, so
    * pipelines (e.g. [[Curate]]) can fuse it into a single pass over the
    * text alongside other per-doc features. */
  def qualityCol(text: Column): Column = {
    val toks = tokens(text)
    val nTok = size(toks).cast("double")
    val stopHits = size(filter(toks, t => t.isin(enStop: _*))).cast("double")
    val punct = length(regexp_replace(text, "[A-Za-z0-9\\s]", "")).cast("double") /
      greatest(length(text), lit(1)).cast("double")
    val lenScore = least(nTok / lit(50.0), lit(1.0))                       // too short = low quality
    val stopScore = least(stopHits / greatest(nTok, lit(1.0)) * lit(5.0), lit(1.0)) // ~20%+ stopwords saturates
    val punctScore = greatest(lit(1.0) - punct * lit(4.0), lit(0.0))      // >25% punctuation zeroes it
    round(lenScore * lit(0.4) + stopScore * lit(0.4) + punctScore * lit(0.2), 4)
  }

  def qualityScore(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol), qualityCol(col(textCol)).as("quality"))

  private val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "for", "with", "as"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den"),
    "fr" -> Seq("le", "la", "les", "et", "est", "pas", "des", "une", "que", "pour"),
    "es" -> Seq("el", "la", "los", "las", "es", "y", "en", "que", "una", "por"),
    "zh" -> Seq("de", "shi", "le", "zai", "you", "wo", "ta", "men", "zhe", "bu"))

  /** Column-algebra language ID (kept for reference/testing): score each
    * candidate language by its stopword hits in the token stream, take
    * the argmax by (hits, lang). */
  def langIdHof(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = tokens(col(textCol))
    val scored = stopwords.toSeq.sortBy(_._1).map { case (lang, words) =>
      struct(size(filter(toks, t => t.isin(words: _*))).as("hits"), lit(lang).as("lang"))
    }
    // argmax by (hits, lang) — deterministic tie-break on language code
    docs.select(
      col(idCol),
      array_max(array(scored: _*)).getField("lang").as("pred_lang"))
  }

  private val langList: Array[String] = stopwords.keys.toArray.sorted
  private val tokenLangs: Map[String, Array[Int]] =
    stopwords.toSeq.flatMap { case (lang, words) =>
      val i = langList.indexOf(lang); words.map(w => (w, i))
    }.groupBy(_._1).map { case (w, xs) => w -> xs.map(_._2).toArray }

  /** One-pass language ID: char-scan tokenization + a token→languages
    * map lookup, argmax with the same (hits, lang) tie-break as
    * [[langIdHof]] (equivalence asserted in OpsSpec; the DuckDB oracle
    * pins the semantics). The HOF form evaluates 5 langs × 10 words
    * interpreted string-compares per token (~10⁴ compares for a
    * 200-token doc); this is T hash lookups — measured ~3× faster at
    * sf0.1. */
  /** Bigram-LM document scoring — the CCNet-style quality gate: score
    * each document by its average negative log-likelihood under a
    * Laplace-smoothed bigram model trained on a REFERENCE corpus
    * (`P(w2|w1) = (c(w1 w2) + 1) / (c(w1) + V)`). Low `nll` ≈ looks
    * like the reference; high ≈ gibberish/boilerplate. Returns
    * `(doc_id, n_bigrams, nll)` for docs with ≥1 bigram.
    *
    * Scale shape: training is two map-side-combined hash aggregates
    * over the reference (unigram + bigram counts — at 100 TB these
    * tables are the stored model, written once and joined many times);
    * scoring is one explode + two equi-joins on the count tables (AQE
    * broadcasts them when the reference is seed-corpus-sized, the
    * common case) + one per-doc aggregate. Nothing driver-side; the
    * vocabulary size rides a broadcast 1-row frame. All arithmetic is
    * exact-rational into `ln`, so a SQL oracle replays it. */
  def bigramLmScore(
      docs: DataFrame,
      ref: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      refTextCol: String = "text"): DataFrame = {
    def bigrams(tk: Column): Column =
      transform(sequence(lit(1), size(tk) - 1), i =>
        struct(concat_ws(" ", element_at(tk, i), element_at(tk, i + 1)).as("bigram"),
          element_at(tk, i).as("w1")))
    val refToks = ref.select(tokens(col(refTextCol)).as("tk"))
    val uni = refToks.select(explode(col("tk")).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c1"))
    val vocab = uni.agg(count(lit(1)).cast("double").as("v"))
    val refBg = refToks.where(size(col("tk")) >= 2)
      .select(explode(bigrams(col("tk"))).as("x")).select(col("x.bigram").as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("c2"))
    val docBg = docs
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("tk"))
      .where(size(col("tk")) >= 2)
      .select(col("doc_id"), explode(bigrams(col("tk"))).as("x"))
      .select(col("doc_id"), col("x.bigram").as("bigram"), col("x.w1").as("w1"))
    docBg
      .join(refBg, Seq("bigram"), "left")
      .join(uni, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        (-log((coalesce(col("c2"), lit(0L)) + lit(1L)).cast("double") /
          (coalesce(col("c1"), lit(0L)).cast("double") + col("v")))).as("nl"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("bigint").as("n_bigrams"), round(avg(col("nl")), 4).as("nll"))
  }

  /** The kernel, shared by the native expression
    * [[graft.functions.LangId]] (interpreted + generated paths) and the
    * UDF twin below. */
  private[graft] def langIdKernel(text: String): String = {
    val counts = new Array[Int](langList.length)
    val sb = new java.lang.StringBuilder
    var i = 0; val n = text.length
    while (i <= n) {
      val c = if (i < n) Character.toLowerCase(text.charAt(i)) else ' '
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) sb.append(c)
      else if (sb.length > 0) {
        tokenLangs.get(sb.toString).foreach(_.foreach(counts(_) += 1))
        sb.setLength(0)
      }
      i += 1
    }
    var best = 0
    var j = 1
    while (j < counts.length) { if (counts(j) >= counts(best)) best = j; j += 1 }
    langList(best)
  }

  /** Reference twin of [[graft.functions.LangId]] — test-visible for the
    * bit-identity spec. */
  private[graft] val langIdUdf = udf { text: String =>
    if (text == null) null else langIdKernel(text)
  }

  /** N-gram/stopword-hit language ID: one native codegen'd pass per doc,
    * no shuffle. */
  def langId(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol), graft.functions.LangId.lang_id(col(textCol)).as("pred_lang"))

  /** BM25 ranked retrieval: top-`k` documents for a bag-of-terms query,
    * scored with the standard Okapi BM25 (idf·tf saturation·length
    * normalization; idf = ln(1 + (N−df+½)/(df+½))).
    *
    * Scale shape: the exploded token stream is filtered to the QUERY
    * terms before anything aggregates — the corpus-wide posting list is
    * never materialized, so the shuffle carries only matching (doc,
    * term) rows. Document frequencies and the (N, avgdl) corpus scalars
    * are tiny aggregates broadcast back; the final top-k is a
    * TakeOrderedAndProject, not a global sort. */
  def bm25Rank(
      docs: DataFrame,
      queryTerms: Seq[String],
      k: Int = 20,
      k1: Double = 1.2,
      b: Double = 0.75,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = Stage.checkpointed { persisted =>
    val terms = queryTerms.map(_.toLowerCase).distinct
    val base = docs.select(
      col(idCol).as("doc_id"),
      tokens(col(textCol)).as("tk"))
      .select(col("doc_id"), col("tk"), size(col("tk")).cast("double").as("dl"))
    // persisted so the df aggregate reads the (tiny) matched-postings
    // frame instead of re-scanning and re-tokenizing the corpus; released
    // after the k-row result is checkpointed, so repeated queries don't
    // accumulate cached blocks
    val tfs = base.select(col("doc_id"), col("dl"),
        explode(filter(col("tk"), t => t.isin(terms: _*))).as("term"))
      .groupBy("doc_id", "dl", "term")
      .agg(count(lit(1)).cast("double").as("tf"))
      .persist()
    persisted += tfs
    val globals = base.agg(
      count(lit(1)).cast("double").as("n_docs"),
      avg("dl").as("avgdl"))
    val dfs = tfs.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    tfs.join(broadcast(dfs), "term")
      .crossJoin(broadcast(globals))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("s", col("idf") * col("tf") * lit(k1 + 1.0) /
        (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy("doc_id")
      .agg(round(sum(col("s")), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Vocabulary construction: corpus-wide term frequency (total
    * occurrences) and document frequency (docs containing the term),
    * with a min-df floor and a deterministic top-N cut — the vocab-build
    * stage in front of any tokenizer/featurizer training run.
    *
    * Scale shape: two hash aggregations, both with map-side partials.
    * The first groups the exploded (term, doc) stream, so the shuffle
    * carries one row per DISTINCT (doc, term) — boilerplate terms that
    * appear thousands of times in one document cost one wire row. The
    * second re-keys that (already small) frame by term alone; tf is a
    * sum and df a count of the pre-reduced rows, so no count-distinct
    * expansion is ever planned. The top-N is a TakeOrderedAndProject
    * (bounded heap per partition), not a global sort. */
  def vocabBuild(
      docs: DataFrame,
      minDf: Int = 2,
      topN: Int = 1000,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val perDoc = docs
      .select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("term"))
      .groupBy("term", "doc_id").agg(count(lit(1)).as("cnt"))
    perDoc.groupBy("term")
      .agg(sum("cnt").cast("bigint").as("tf"), count(lit(1)).cast("bigint").as("df"))
      .where(col("df") >= minDf)
      .orderBy(col("tf").desc, col("term"))
      .limit(topN)
  }

  /** TF-IDF top-`topK` terms per document — the classic keyword /
    * relevance weighting (tf · ln((N+1)/(df+1)), smoothed idf). Shape:
    * the (doc, term) tf table is one map-side-combined hash agg; the
    * term df table aggregates THAT (never re-reading the corpus, never
    * a count-distinct Expand); the doc count is a broadcast scalar; the
    * final per-doc top-k window partitions by doc_id — all shuffles are
    * keyed and partial-aggregated, nothing global. Ties (same score —
    * same (tf, df) pair) break on term ASC, so output is deterministic
    * and the oracle replays it exactly (both engines compute the same
    * IEEE double for tf · ln(z)). */
  def tfidfTopTerms(
      docs: DataFrame,
      topK: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val tf = docs
      .select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfTable = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfTable, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("score", col("tf") * log((col("n_docs") + 1) / (col("df") + 1)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score").desc, col("term"))
    scored.withColumn("rnk", row_number().over(w).cast("bigint"))
      .where(col("rnk") <= topK)
      .select(col("doc_id"), col("rnk"), col("term"), round(col("score"), 4).as("score"))
  }

  /** URL / domain statistics — the crawl-pipeline census op (per-domain
    * doc and link counts drive domain filtering and mixing decisions).
    * URLs are pulled with one regexp pass, the host with another — both
    * RE2/Java-common regexes, so the oracle replays them verbatim. The
    * host agg is map-side combined; the per-host distinct-doc count
    * shuffles (host, doc) pairs once. */
  def urlStats(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val urls = docs.select(
      col(idCol).as("doc_id"),
      explode(regexp_extract_all(col(textCol), lit("https?://[^\\s]+"), lit(0))).as("url"))
    urls
      .select(col("doc_id"), regexp_extract(col("url"), "https?://([^/\\s?]+)", 1).as("host"))
      .groupBy("host")
      .agg(count(lit(1)).as("n_urls"), countDistinct("doc_id").as("n_docs"))
      .orderBy("host")
  }

  /** URL-keyed dedup — crawl dedup's first, cheapest pass: canonicalize
    * (lowercase, strip query string + fragment) and keep the lowest doc
    * per canonical URL. One regexp explode + one map-side-combined agg;
    * the shuffle key is the canonical URL, so a URL crawled a million
    * times costs one reduced row per partition. */
  def urlDedup(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        explode(regexp_extract_all(col(textCol), lit("https?://[^\\s]+"), lit(0))).as("url"))
      .withColumn("curl", lower(regexp_replace(col("url"), "[?#].*$", "")))
      .groupBy("curl")
      .agg(min("doc_id").as("keeper"), count(lit(1)).as("n_refs"))
      .orderBy("curl")

  /** Per-document Shannon entropy of the term distribution (nats) — the
    * diversity quality signal: templated/repetitive text has low
    * entropy even when its dup-line fraction is zero. Algebra:
    * H = ln n − (Σ tf·ln tf)/n, so one (doc, term) tf agg and one
    * per-doc agg — no per-doc probability arrays, both map-side
    * combined. */
  def tokenEntropy(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .groupBy("doc_id")
      .agg(sum("tf").as("n"), sum(col("tf") * log(col("tf"))).as("s"))
      .select(col("doc_id"), col("n"), round(log(col("n")) - col("s") / col("n"), 4).as("entropy"))

  /** Line-level deduplication — the RefinedWeb/Falcon boilerplate pass:
    * a LINE (navigation chrome, cookie banners, share buttons) that
    * recurs across ≥ `minDocs` distinct documents is removed from every
    * document; the cleaned text is reassembled in original line order.
    * This catches template boilerplate that document-level dedup can
    * never see (every page is unique, every header identical).
    *
    * Plan shape: posexplode lines once; the cross-document frequency
    * pass groups a 64-bit `xxhash64` of the line — never the line text —
    * pre-reduced by (hash, doc) so a line repeated within one document
    * costs one shuffled row; dup hashes anti-join the exploded lines;
    * per-document reassembly windows by (doc, pos) — never globally.
    * At 100 TB the dup-line table is the stored artifact (like the
    * minhash `signatureTable`): re-cleaning with a new `minDocs` policy
    * reuses the frequency table without re-reading the corpus.
    *
    * Output: `(doc_id, n_lines, n_kept, clean_text)` — `clean_text` is
    * '' when every line was boilerplate (the row is kept so the
    * drop-the-husk policy decision stays downstream). */
  def lineDedup(
      docs: DataFrame,
      minDocs: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val lines = docs
      .select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
      .where(col("line") =!= "")
      .withColumn("lh", xxhash64(col("line")))
    // distinct-doc frequency: (hash, doc) pre-reduce then a plain count —
    // no count-distinct Expand, both aggs map-side combined. The dup set
    // is aggregate-sized (lines recurring in ≥ minDocs docs are few
    // DISTINCT values however often they occur), so it broadcasts; the
    // line text then crosses the wire exactly once — in the per-doc
    // reassembly shuffle — instead of once for an anti join and again
    // for the regroup.
    val dup = lines.select("lh", "doc_id").distinct()
      .groupBy("lh").agg(count(lit(1)).as("nd"))
      .where(col("nd") >= minDocs)
      .select(col("lh"), lit(true).as("__dup"))
    lines.join(broadcast(dup), Seq("lh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_lines"),
        count(when(col("__dup").isNull, 1)).as("n_kept"),
        // collect_list skips nulls, so dropped lines vanish here and the
        // sort-by-(pos) reassembly sees only survivors
        concat_ws("\n",
          array_sort(collect_list(when(col("__dup").isNull, struct(col("pos"), col("line")))))
            .getField("line")).as("clean_text"))
      .select("doc_id", "n_lines", "n_kept", "clean_text")
  }

  /** The cross-document line-frequency table — [[lineDedup]]'s stored
    * artifact, named in its Scaladoc: `(lh, nd)` where `lh` is the
    * 64-bit line hash and `nd` its distinct-document frequency. 16
    * bytes per distinct line; re-cleaning with a new `minDocs` policy
    * (or cleaning NEW batches — [[lineDedupIncremental]]) reuses it
    * without re-reading the corpus. */
  def lineFrequencyTable(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("doc_id"), explode(split(col(textCol), "\n")).as("line"))
      .where(col("line") =!= "")
      .select(xxhash64(col("line")).as("lh"), col("doc_id"))
      .distinct()
      .groupBy("lh").agg(count(lit(1)).as("nd"))

  /** [[lineDedup]] for a NEW batch against the STORED corpus frequency
    * table — clean a new crawl of the corpus's KNOWN boilerplate
    * (lines in ≥ `minDocs` stored documents), the recurring form: the
    * policy is the corpus's, so a line novel to the batch survives
    * even if the batch repeats it (within-batch boilerplate is the
    * batch's own one-shot pass).
    *
    * The incremental discipline: the batch's distinct line hashes
    * broadcast (count-fenced), the stored frequency table is one scan
    * + semi-join — never shuffled — and the ≤-batch-sized matched dup
    * set broadcasts back into the reassembly join. */
  def lineDedupIncremental(
      newDocs: DataFrame,
      lineFreq: DataFrame,
      minDocs: Int = 3,
      maxBroadcastKeys: Long = 4L * 1000 * 1000,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = Stage.checkpointed { persisted =>
    val lines = newDocs
      .select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
      .where(col("line") =!= "")
      .withColumn("lh", xxhash64(col("line")))
      .persist()
    val keys = lines.select("lh").distinct().persist()
    persisted ++= Seq(lines, keys)
    val bcast = Fence.broadcastable(keys, maxBroadcastKeys)
    def fenced(df: DataFrame) = if (bcast) broadcast(df) else df
    val dup = lineFreq.where(col("nd") >= minDocs).select("lh")
      .join(fenced(keys), Seq("lh"), "left_semi")
      .distinct().select(col("lh"), lit(true).as("__dup"))
    lines.join(fenced(dup), Seq("lh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_lines"),
        count(when(col("__dup").isNull, 1)).as("n_kept"),
        concat_ws("\n",
          array_sort(collect_list(when(col("__dup").isNull, struct(col("pos"), col("line")))))
            .getField("line")).as("clean_text"))
      .select("doc_id", "n_lines", "n_kept", "clean_text")
  }

  /** Deflate compression ratio per document — the Gopher-style
    * "compressibility" quality signal: highly repetitive or templated
    * text compresses far below natural prose, so a low ratio flags
    * boilerplate and looping generations that n-gram rules miss. Uses
    * the JDK `Deflater` (public, deterministic for a fixed level)
    * partition-batched with one reused deflater per partition — the
    * compressor is the cost, so no per-row allocation. Rows-only at the
    * oracle (SQL cannot deflate); the spec pins the planted
    * repetitive-vs-prose ordering and determinism. */
  def compressionRatio(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      level: Int = 6): DataFrame = {
    val spark = docs.sparkSession
    val rdd = docs.select(col(idCol).cast("long"), col(textCol)).rdd.mapPartitions { it =>
      val deflater = new java.util.zip.Deflater(level)
      val buf = new Array[Byte](64 * 1024)
      it.map { r =>
        val raw = Option(r.getString(1)).getOrElse("")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        deflater.reset()
        deflater.setInput(raw)
        deflater.finish()
        var compressed = 0L
        while (!deflater.finished()) compressed += deflater.deflate(buf)
        val ratio = if (raw.length == 0) 1.0 else compressed.toDouble / raw.length
        org.apache.spark.sql.Row(r.getLong(0), raw.length.toLong, compressed,
          BigDecimal(ratio).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
    }
    spark.createDataFrame(rdd, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("n_bytes", org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("n_compressed", org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("compress_ratio", org.apache.spark.sql.types.DoubleType, nullable = false))))
  }

  /** Exact corpus heavy hitters: every term whose occurrence count
    * strictly exceeds `total/k` (the classic frequent-items threshold).
    * Shape: (1) one narrow pass computes the distributed Misra-Gries
    * candidate sketch (`stat.freqItems` — mergeable per-partition state
    * of ~k entries, guaranteed to contain every true heavy hitter, may
    * contain false positives); (2) one count pass for the threshold;
    * (3) one agg pass restricted to the <=~k candidates verifies exact
    * counts and drops the false positives. The verify agg's map side
    * discards every non-candidate row before the shuffle, so the
    * shuffle carries at most (partitions x k) rows regardless of corpus
    * size — the 100 TB shape for "find the stopwords". Threshold is
    * compared in integer math (`cnt * k > total`), so the output is
    * deterministic and oracle-able. */
  def heavyHitters(
      docs: DataFrame,
      k: Int = 30,
      textCol: String = "text"): DataFrame = {
    require(k >= 2, s"need k >= 2, got $k")
    val terms = docs.select(explode(tokens(col(textCol))).as("term"))
    val candidates = terms.stat.freqItems(Array("term"), 1.0 / k)
      .head.getSeq[String](0)
    val total = terms.count()
    terms.where(col("term").isin(candidates: _*))
      .groupBy("term").agg(count(lit(1)).cast("bigint").as("cnt"))
      .where(col("cnt") * k > total)
      .orderBy(col("cnt").desc, col("term"))
  }

  /** Approximate heavy hitters: same candidate sketch, but counts come
    * from a Count-Min Sketch (`stat.countMinSketch`, mergeable,
    * `O(1/eps * log(1/delta))` space) instead of an exact verify pass —
    * two narrow passes total, no shuffle at all. CMS never
    * underestimates, so with the same threshold the result is a
    * SUPERSET of [[heavyHitters]]; each estimate is within `eps*total`
    * of truth with probability `confidence`. The production shape when
    * the candidate pass and the counting pass must share one scan
    * budget. */
  def heavyHittersApprox(
      docs: DataFrame,
      k: Int = 30,
      eps: Double = 1e-3,
      confidence: Double = 0.99,
      seed: Int = 42,
      textCol: String = "text"): DataFrame = {
    require(k >= 2, s"need k >= 2, got $k")
    val spark = docs.sparkSession
    import spark.implicits._
    val terms = docs.select(explode(tokens(col(textCol))).as("term"))
    val candidates = terms.stat.freqItems(Array("term"), 1.0 / k)
      .head.getSeq[String](0)
    val cms = terms.stat.countMinSketch(col("term"), eps, confidence, seed)
    val total = cms.totalCount()
    candidates.map(t => (t, cms.estimateCount(t)))
      .filter { case (_, est) => est * k > total }
      .sortBy { case (t, est) => (-est, t) }
      .toDF("term", "est_cnt")
  }

  /** Intra-document repetition signals (Gopher-style quality rules):
    * the fraction of duplicate lines and duplicate word bigrams inside
    * each document. Boilerplate-heavy or looping generations score high
    * and get filtered before training. Narrow per-row column algebra —
    * no shuffle, no UDF. */
  def repetition(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // Staged projections: higher-order array expressions are not
    // whole-stage-codegen'd, so Project-level subexpression elimination
    // does not deduplicate them — a single flat select would recompute
    // the tokenizer once per reference. Each stage materializes an
    // expensive array once; CollapseProject leaves the stages alone
    // because the arrays are non-cheap and multiply referenced.
    val linesE = filter(transform(split(col(textCol), "\n"), l => trim(l)), l => l =!= "")
    val toksE = tokens(col(textCol))
    val staged = docs.select(col(idCol), linesE.as("__lines"), toksE.as("__toks"))
    // Bigrams as zip_with over two shifted slices: O(n) per document,
    // vs O(n^2) for the per-index slice-in-a-loop formulation.
    val tk = col("__toks")
    val bigramsE = when(size(tk) < 2, array().cast("array<string>"))
      .otherwise(zip_with(
        slice(tk, lit(1), size(tk) - 1),
        slice(tk, lit(2), size(tk) - 1),
        (a, b) => concat(a, lit(" "), b)))
    val withBigrams = staged.select(col(idCol), col("__lines"), bigramsE.as("__bigrams"))
    val counted = withBigrams.select(
      col(idCol),
      size(col("__lines")).as("__nl"),
      size(array_distinct(col("__lines"))).as("__ndl"),
      size(col("__bigrams")).as("__nb"),
      size(array_distinct(col("__bigrams"))).as("__ndb"))
    def dupFrac(n: Column, nd: Column): Column =
      when(n === 0, lit(0.0))
        .otherwise(lit(1.0) - nd.cast("double") / n.cast("double"))
    counted.select(
      col(idCol),
      col("__nl").cast("bigint").as("n_lines"),
      round(dupFrac(col("__nl"), col("__ndl")), 4).as("dup_line_frac"),
      col("__nb").cast("bigint").as("n_bigrams"),
      round(dupFrac(col("__nb"), col("__ndb")), 4).as("dup_bigram_frac"))
  }

  // Deliberately simple patterns sharing the common Java-regex/RE2
  // subset (no lookarounds, no backrefs) so the operator is replayable
  // by any engine, including the SQL oracle.
  private val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val ipRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  private val phoneRe = "\\b\\d{3}-\\d{4}\\b"

  /** PII detection + redaction: counts and scrubs emails, IPv4
    * addresses and (toy) phone numbers. Redaction order is fixed
    * (email → ip → phone) so the passes compose deterministically —
    * an email's host segment can never be re-matched as an IP. One
    * narrow pass, codegen'd `RegExpReplace`/`RegExpExtractAll` — the
    * shape of every compliance scrub that has to touch all 100 TB. */
  def scrubPii(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val scrubbed =
      regexp_replace(
        regexp_replace(
          regexp_replace(col(textCol), emailRe, "<EMAIL>"),
          ipRe, "<IP>"),
        phoneRe, "<PHONE>")
    docs.select(
      col(idCol),
      size(regexp_extract_all(col(textCol), lit(emailRe), lit(0))).cast("bigint").as("n_emails"),
      size(regexp_extract_all(col(textCol), lit(ipRe), lit(0))).cast("bigint").as("n_ips"),
      size(regexp_extract_all(col(textCol), lit(phoneRe), lit(0))).cast("bigint").as("n_phones"),
      scrubbed.as("scrubbed"))
  }

  /** 64-bit document fingerprint over whitespace-normalized lowercase
    * text: identical content → identical fingerprint regardless of
    * spacing/case. xxHash64 — the same hash family Spark uses for
    * shuffle — as a codegen'd built-in. */
  def fingerprint(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(
      col(idCol),
      xxhash64(regexp_replace(trim(lower(col(textCol))), "\\s+", " ")).as("fingerprint"))

  /** [[fingerprint]] with an md5 digest instead of xxhash64 — same
    * normalization, byte-for-byte checkable by any external system
    * (xxhash64 is Spark-internal). Use the 64-bit form in shuffles/joins
    * and this form where cross-system verification matters. */
  def fingerprintMd5(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(
      col(idCol),
      md5(regexp_replace(trim(lower(col(textCol))), "\\s+", " ")).as("fp_md5"))

  /** Gopher-style structural quality rules (public: Rae et al. 2021,
    * "Scaling Language Models", Appendix A — the MassiveWeb filters):
    * the hard per-document gates every large pretraining pipeline runs
    * BEFORE any model-based scoring, each a cheap whole-document
    * measure. Emits the measures plus the composite verdict so
    * downstream stages can re-threshold without re-reading text:
    *
    *  - word count within `[minWords, maxWords]`;
    *  - mean word length within `[minMeanWordLen, maxMeanWordLen]`;
    *  - `#`-or-`...` symbol-to-word ratio ≤ `maxSymbolRatio`;
    *  - fraction of lines starting with a bullet ≤ `maxBulletRatio`;
    *  - fraction of lines ending in `...` ≤ `maxEllipsisRatio`;
    *  - fraction of words containing an alphabetic char ≥ `minAlphaFrac`;
    *  - at least `minStopwords` distinct required stopwords present
    *    (the paper's the/be/to/of/and/that/have/with).
    *
    * Narrow single-pass projection — words and lines are split once and
    * every measure derives from those arrays; no shuffle, no UDF. The
    * defaults are the fixture-scaled variants the declared query uses
    * (the paper's absolute 50..100k word bounds assume web pages). */
  def gopherRules(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      minWords: Int = 20,
      maxWords: Int = 100000,
      minMeanWordLen: Double = 3.0,
      maxMeanWordLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1,
      maxBulletRatio: Double = 0.9,
      maxEllipsisRatio: Double = 0.3,
      minAlphaFrac: Double = 0.8,
      minStopwords: Int = 2): DataFrame = {
    val required = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    // Staged projections (the [[repetition]] discipline): the split
    // arrays are non-cheap, non-codegen HOF inputs referenced by many
    // measures — a flat select would re-split the text once per measure.
    // '...' counted by non-overlapping split on the literal — identical
    // semantics in DuckDB's string_split, so the oracle replays it.
    val staged = docs.select(
      col(idCol),
      filter(split(col(textCol), "\\s+"), w => w =!= "").as("__words"),
      filter(transform(split(col(textCol), "\n"), l => trim(l)), l => l =!= "").as("__lines"),
      ((length(col(textCol)) - length(regexp_replace(col(textCol), "#", ""))).cast("double") +
        (size(split(col(textCol), "\\.\\.\\.", -1)) - 1).cast("double")).as("__symbols"))
    val words = col("__words")
    val lines = col("__lines")
    val nw = size(words).cast("double")
    val nl = size(lines).cast("double")
    val measured = staged.select(
      col(idCol),
      size(words).as("n_words"),
      (aggregate(words, lit(0L), (acc, w) => acc + length(w)).cast("double") /
        greatest(nw, lit(1.0))).as("__mean_len"),
      (col("__symbols") / greatest(nw, lit(1.0))).as("__symbol_ratio"),
      (size(filter(lines, l =>
        l.startsWith("-") || l.startsWith("*") || l.startsWith("•"))).cast("double") /
        greatest(nl, lit(1.0))).as("__bullet_ratio"),
      (size(filter(lines, l => l.endsWith("..."))).cast("double") /
        greatest(nl, lit(1.0))).as("__ellipsis_ratio"),
      (size(filter(words, w => w.rlike("[A-Za-z]"))).cast("double") /
        greatest(nw, lit(1.0))).as("__alpha_frac"),
      size(filter(typedLit(required), s =>
        array_contains(transform(words, w => lower(w)), s))).cast("bigint").as("stop_hits"))
    measured.select(
      col(idCol),
      col("n_words"),
      round(col("__mean_len"), 4).as("mean_word_len"),
      round(col("__symbol_ratio"), 4).as("symbol_ratio"),
      round(col("__bullet_ratio"), 4).as("bullet_ratio"),
      round(col("__ellipsis_ratio"), 4).as("ellipsis_ratio"),
      round(col("__alpha_frac"), 4).as("alpha_frac"),
      col("stop_hits"),
      (col("n_words").between(minWords, maxWords) &&
        col("__mean_len") >= minMeanWordLen && col("__mean_len") <= maxMeanWordLen &&
        col("__symbol_ratio") <= maxSymbolRatio &&
        col("__bullet_ratio") <= maxBulletRatio &&
        col("__ellipsis_ratio") <= maxEllipsisRatio &&
        col("__alpha_frac") >= minAlphaFrac &&
        col("stop_hits") >= minStopwords).as("passes"))
  }
}
