package graft

import graft.core._
import graft.ops.{Cluster, Decontaminate, Dedup, Multimodal, Packing, Similarity, TextAnalysis}
import graft.views._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared fixtures, derived-artifact caches, and oracle-SQL generators
  * for the per-domain query catalogs ([[CoreQueries]] ...
  * [[StreamingQueries]]) — extracted verbatim from the pre-round-8
  * monolithic SparkEntry. Members are object-public behind a
  * package-private object: only the catalog objects (same package)
  * can see them.
  */
private[graft] object EntryHelpers {

  def t(s: SparkSession, dir: String, name: String): DataFrame = {
    // The driver has shipped events.ts both as parquet TIMESTAMP(NANOS)
    // (only readable as a raw nanos long under nanosAsLong) and as
    // timestamp[us] (read as TIMESTAMP_NTZ). The conf keeps the nanos
    // form readable; tsCol/tsMs/tsSec adapt to whichever form loaded.
    scala.util.Try(s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true"))
    s.read.parquet(s"$dir/$name.parquet")
  }

  /** Run `body` with the session conf keys set, then restore each key
    * — or unset it if it was unset before. The conf stays SESSION-GLOBAL
    * while `body` runs: any other query on the same session sees these
    * values, so this is not safe under concurrent queries. */
  def withConf[A](s: SparkSession, kvs: (String, String)*)(body: => A): A = {
    val prev = kvs.map { case (k, _) => k -> s.conf.getOption(k) }
    kvs.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** events.parquet as a read-only flume log: `event_id` is the seq. */
  def eventsLog(s: SparkSession, dir: String): TableLog =
    new TableLog(s, t(s, dir, "events"), "event_id")

  def eventsDb(s: SparkSession, dir: String): FlumeDb =
    new FlumeDb(eventsLog(s, dir))

  // events.ts physical type per data dir (cached: one parquet footer
  // read). All ts arithmetic below is schema-adaptive through these
  // three helpers; both physical forms denote the same UTC instants
  // (FIXTURES.md convention), and the TIMESTAMP_NTZ form re-interprets
  // as an instant under the UTC session timezone every main sets.
  def tsIsLong(s: SparkSession, dir: String): Boolean =
    Fixtures.shared("ts-is-long", dir)(
      t(s, dir, "events").schema("ts").dataType == org.apache.spark.sql.types.LongType)(_ => ())

  /** events.ts as a microsecond-precision timestamp. On the nanos-long
    * form, integer `div` (not `/`, which is double division and loses
    * precision at 1e18 nanos) keeps the floor-to-micros exact, matching
    * DuckDB's ns-aware arithmetic. */
  def tsCol(s: SparkSession, dir: String): Column =
    if (tsIsLong(s, dir)) expr("timestamp_micros(ts div 1000)")
    else col("ts").cast("timestamp")

  /** events.ts as epoch milliseconds (floored) — DuckDB `epoch_ms(ts)`. */
  def tsMs(s: SparkSession, dir: String): Column =
    if (tsIsLong(s, dir)) expr("ts div 1000000")
    else unix_millis(col("ts").cast("timestamp"))

  /** events.ts as epoch seconds (floored) — DuckDB `floor(epoch(ts))`. */
  def tsSec(s: SparkSession, dir: String): Column =
    if (tsIsLong(s, dir)) expr("ts div 1000000000")
    else unix_seconds(col("ts").cast("timestamp"))

  // Re-appending the events table through the ParquetLog write path is
  // part of q_append_scan; cache per scale factor so bench reuse is
  // O(1), per session: a restarted session reusing the dir must rebuild,
  // not read through a log pinned to the stopped session.
  def appendedEventsLog(s: SparkSession, dir: String): ParquetLog =
    Fixtures.perSession("graftlog", dir, s) {
      val ev = t(s, dir, "events").orderBy("event_id")
        .select("ts", "user_id", "event_type", "value", "props")
      val tmp = java.nio.file.Files.createTempDirectory("graftlog").toString
      // bucketed layout: range scans over the re-appended log prune
      // seq_bucket directories instead of scanning the whole log
      val log = new ParquetLog(s, tmp, ev.schema, bucketSize = 25000L)
      log.append(ev)
      log
    } { log =>
      scala.util.Try(log.close())
      // the log's temp dir holds a full events copy — delete it, or a
      // JVM cycling sessions accumulates one copy per restart
      deleteTree(log.dir)
    }

  // events re-laid-out as a range-bucketed directory table keyed on
  // event_id (graft.sources.Layout); cached per dir and session like
  // the other derived structures. The layout query demonstrates
  // plan-time partition pruning on the generic (non-log) path.
  def eventsRangeLayout(s: SparkSession, dir: String): String =
    Fixtures.tmpDir("graftlayout", dir, s) { tmp =>
      graft.sources.Layout.writeRangeBucketed(
        t(s, dir, "events").select("event_id", "user_id", "event_type", "value"),
        tmp, nBuckets = 32, key = "event_id")
    }

  // events re-laid-out on the Z-order curve over (user_id, event_id) —
  // the 2-D data-skipping layout; cached per dir like eventsRangeLayout
  def eventsZLayout(s: SparkSession, dir: String): String =
    Fixtures.tmpDir("graftzlayout", dir, s) { tmp =>
      graft.sources.Layout.writeZOrdered(
        t(s, dir, "events").select("event_id", "user_id", "event_type", "value"),
        tmp, keyX = "user_id", keyY = "event_id", bitsPerDim = 8, nBuckets = 64)
    }

  // orders + lineitem re-laid-out as co-located hash-bucketed tables on
  // the order key (graft.sources.Bucketed): both sides bucketed+sorted
  // into the same 8 buckets, so the fact-fact join in q_bucketed_join
  // plans with NO exchange on either side — the pay-the-shuffle-once-
  // at-write layout for joins where neither side broadcasts. Written
  // once per data dir; bucket METADATA lives in the session catalog, so
  // a stale session rebuilds (a cluster metastore would persist it and
  // Bucketed.register would re-attach instead).
  def bucketedOrdersLineitem(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val suffix = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
    val (ordName, liName) = (s"graft_orders_$suffix", s"graft_lineitem_$suffix")
    Fixtures.tmpDir("graftbucketed", dir, s) { tmp =>
      // repartition by the bucket key first (same Murmur3 hash as the
      // bucket function), so each task owns exactly one bucket and the
      // writer emits ONE sorted file per bucket — the join then needs
      // neither exchange nor sort
      graft.sources.Bucketed.write(
        t(s, dir, "orders").select("o_orderkey", "o_orderpriority")
          .repartition(8, col("o_orderkey")),
        s"$tmp/orders", ordName, "o_orderkey", 8)
      graft.sources.Bucketed.write(
        t(s, dir, "lineitem").select("l_orderkey", "l_extendedprice", "l_discount")
          .repartition(8, col("l_orderkey")),
        s"$tmp/lineitem", liName, "l_orderkey", 8)
    }
    (s.table(ordName), s.table(liName))
  }

  // the documents corpus's minhash signature table, written once per
  // data dir and read back as a stored parquet table — the base side of
  // q_dedup_incremental
  def baseSignatures(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(Fixtures.tmpDir("graftsigs", dir, s) { tmp =>
      graft.ops.Dedup.signatureTable(t(s, dir, "documents").select("doc_id", "text"))
        .write.mode("overwrite").parquet(tmp)
    })

  // the embeddings corpus with its hyperplane LSH signature as a stored
  // parquet column, written once per data dir — q_ann_lsh serves from
  // this instead of recomputing nBits × dim multiply-adds per row per
  // query
  def storedAnnSignatures(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(Fixtures.tmpDir("graftannsigs", dir, s) { tmp =>
      graft.ops.Similarity.withHyperplaneSignatures(
          t(s, dir, "embeddings").select("vec_id", "embedding"))
        .write.mode("overwrite").parquet(tmp)
    })

  // the PQ model (m x k x dim/m driver doubles) and the encoded code
  // table, built/written once per data dir — q_ann_pq serves ADC off
  // the stored codes, touching full vectors only for the re-rank rows.
  // Seed codebooks (first-k subvectors, like the IVF seed centroids)
  // keep the whole encode -> ADC -> re-rank chain DuckDB-replayable,
  // converting both PQ queries from rows-only to hash-matched; the
  // k-means-trained path stays covered by EmbeddingOpsSpec recall tests
  def storedPqIndex(s: SparkSession, dir: String): (graft.ops.Pq.Model, DataFrame) = {
    val (model, path) = Fixtures.perSession("graftpqcodes", dir, s) {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val model = graft.ops.Pq.seedModel(emb, m = 8, k = 16)
      val tmp = java.nio.file.Files.createTempDirectory("graftpqcodes").toString
      graft.ops.Pq.encode(emb, model).write.mode("overwrite").parquet(tmp)
      (model, tmp)
    }(e => deleteTree(e._2))
    (model, s.read.parquet(path))
  }

  // the composed IVF+PQ index: codes WITH the coarse cell id, written
  // once per data dir PARTITIONED BY cell — probing is plan-time
  // directory pruning over files already 32x smaller than the vectors
  def storedIvfPqIndex(s: SparkSession, dir: String): (graft.ops.Pq.Model, Array[(Long, Seq[Float])], DataFrame) = {
    val (model, cents, path) = Fixtures.perSession("graftivfpq", dir, s) {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val model = graft.ops.Pq.seedModel(emb, m = 8, k = 16)
      val cents = graft.ops.Similarity.seedCentroids(emb, nCentroids = 16)
      val tmp = java.nio.file.Files.createTempDirectory("graftivfpq").toString
      graft.ops.Pq.encodeWithCells(emb, model, cents)
        .write.mode("overwrite").partitionBy("cell").parquet(tmp)
      (model, cents, tmp)
    }(e => deleteTree(e._3))
    (model, cents, s.read.parquet(path))
  }

  /** documents ∪ a perturbed copy (first token dropped, doc_id+10000) —
    * the deterministic near-duplicate fixture for the dedup family (the
    * driver corpus itself is 100% distinct). */
  def docsWithNearDups(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select("doc_id", "text")
    d.unionByName(d.select(
      (col("doc_id") + 10000).as("doc_id"),
      regexp_replace(col("text"), "^\\S+\\s+", "").as("text")))
  }

  // the corpus BPE merge table, trained once per data dir (the model is
  // N small driver rows, like k-means centroids; training reads only the
  // distinct-word table) — q_bpe_train/q_bpe_encode share it
  def bpeMerges(s: SparkSession, dir: String): Seq[graft.ops.Bpe.Merge] =
    Fixtures.perSession("graftbpe", dir, s)(
      graft.ops.Bpe.train(t(s, dir, "documents"), nMerges = 30))(_ => ())

  // the chain fixture's cluster-assignment table, clustered once per
  // data dir and read back from parquet — the base side of
  // q_cluster_survivors
  def storedClusters(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(Fixtures.tmpDir("graftclusters", dir, s) { tmp =>
      val corpus = docsWithDupChain(s, dir)
      val pairs = graft.ops.Dedup.ngramJaccard(corpus, threshold = 0.5, maxDocFreq = 1000)
      graft.ops.Cluster.dupClusters(corpus, pairs)
        .write.mode("overwrite").parquet(tmp)
    })

  /** documents ∪ composite docs (id+30000) built from the first 20
    * tokens of doc d and the first 20 of doc d+1 (every 7th d) — the
    * planted fixture for SUBSTRING dedup: each composite shares a long
    * verbatim token run with each source while staying far below any
    * whole-document Jaccard threshold (40 tokens vs a full doc), i.e.
    * exactly the cross-document span duplication MinHash misses. */
  def docsWithPlantedSpans(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select("doc_id", "text")
    val tk = graft.ops.TextAnalysis.tokens(col("text"))
    val a = d.where(col("doc_id") % 7 === 0).select(col("doc_id"), tk.as("tka"))
    val b = d.select((col("doc_id") - 1).as("doc_id"), tk.as("tkb"))
    val planted = a.join(b, "doc_id")
      .select((col("doc_id") + 30000).as("doc_id"),
        concat_ws(" ", concat(slice(col("tka"), 1, 20), slice(col("tkb"), 1, 20))).as("text"))
    d.unionByName(planted)
  }

  // Stored line-frequency table per (data dir, generation) — lineDedup's
  // stored artifact (the baseSignatures pattern).
  def storedLineFreq(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(Fixtures.tmpDir("graftlinefreq", dir, s) { tmp =>
      graft.ops.TextAnalysis.lineFrequencyTable(docsWithLines(s, dir))
        .write.mode("overwrite").parquet(tmp)
    })

  /** New-crawl batch for INCREMENTAL substring dedup: every 7th corpus
    * doc contributes a batch doc (id+40000) opening with its first 20
    * tokens then two novel tokens (spans 1..20 exist in the corpus;
    * the tail grams straddle novel tokens and must not hit), and every
    * 11th contributes a fully novel 20-token doc (id+45000) that must
    * produce no spans at all. */
  def docsWithCorpusSpansBatch(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select("doc_id", "text")
    val tk = graft.ops.TextAnalysis.tokens(col("text"))
    val planted = d.where(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 40000).as("doc_id"),
        concat_ws(" ",
          concat_ws(" ", slice(tk, 1, 20)),
          concat(lit("zzq"), col("doc_id")),
          concat(lit("zzr"), col("doc_id"))).as("text"))
    val fresh = d.where(col("doc_id") % 11 === 0)
      .select((col("doc_id") + 45000).as("doc_id"),
        concat_ws(" ", (0 until 20).map(j =>
          concat(lit("zzw"), col("doc_id"), lit("x" + j))): _*).as("text"))
    planted.unionByName(fresh)
  }

  // Stored distinct-gram fingerprint table per (data dir, generation) —
  // the substring family's stored artifact (the baseSignatures pattern).
  def storedGramTable(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(Fixtures.tmpDir("graftgrams", dir, s) { tmp =>
      graft.ops.Dedup.gramTable(t(s, dir, "documents").select("doc_id", "text"))
        .write.mode("overwrite").parquet(tmp)
    })

  /** documents ∪ quote docs (id+40000): every 5th doc contributes its
    * first 25 tokens as a standalone "quote" document — the planted
    * fixture for CONTAINMENT dedup. Each quote's shingle set is a
    * subset of its source's (containment 1.0) while whole-document
    * Jaccard stays ≈ 23/n — far below any symmetric threshold, i.e.
    * exactly the subset duplication MinHash-LSH is blind to. */
  def docsWithQuotes(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select("doc_id", "text")
    val tk = graft.ops.TextAnalysis.tokens(col("text"))
    val quotes = d.where(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 40000).as("doc_id"),
        concat_ws(" ", slice(tk, 1, 25)).as("text"))
    d.unionByName(quotes)
  }

  /** Three-copy CHAIN fixture for duplicate clustering: original, first
    * token dropped (+10000), first two tokens dropped (+20000). Every
    * planted pair keeps jaccard ≥ (d-2)/d ≥ 0.75 on the driver corpus
    * (min distinct-shingle count is 8 at every SF), so LSH candidate
    * generation at 32 bands stays oracle-grade, while the components are
    * triangles — survivor selection must apply transitivity, not just
    * read pairs. */
  private[graft] def docsWithDupChain(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select("doc_id", "text")
    d.unionByName(d.select(
        (col("doc_id") + 10000).as("doc_id"),
        regexp_replace(col("text"), "^\\S+\\s+", "").as("text")))
      .unionByName(d.select(
        (col("doc_id") + 20000).as("doc_id"),
        regexp_replace(col("text"), "^\\S+\\s+\\S+\\s+", "").as("text")))
  }

  /** documents with deterministic synthetic PII appended (emails, an
    * IPv4, a toy phone number) — the driver corpus contains none, so the
    * scrub operator needs planted positives to prove it redacts. Pure
    * column arithmetic, replayed verbatim by the oracle. */
  def docsWithPii(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
      concat(
        col("text"),
        lit(" contact user"), col("doc_id").cast("string"), lit("@example.com"),
        lit(" backup ops-team@corp.example.org"),
        lit(" from 10.1."), pmod(col("doc_id"), lit(256)).cast("string"), lit(".7"),
        lit(" call 555-"), (pmod(col("doc_id"), lit(9000)) + 1000).cast("string")
      ).as("text"))

  // events rewritten once per data dir as an ORC table — the other
  // native columnar codec; q_orc_scan range-reads it through the same
  // TableLog surface
  def eventsOrcPath(s: SparkSession, dir: String): String =
    Fixtures.tmpDir("graftorc", dir, s) { tmp =>
      t(s, dir, "events").select("event_id", "user_id", "event_type", "value")
        .write.mode("overwrite").orc(tmp)
    }

  /** documents with deterministic planted URLs (the driver corpus has
    * none): one http URL whose host cycles over 37 subdomains plus one
    * https URL over 11 — every concat piece is a bigint-to-string cast
    * both engines print identically. */
  def docsWithUrls(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
      concat(
        col("text"),
        lit(" see http://site"), pmod(col("doc_id"), lit(37)).cast("string"),
        lit(".example.com/p/"), col("doc_id").cast("string"),
        lit(" and https://cdn"), pmod(col("doc_id"), lit(11)).cast("string"),
        lit(".example.org/a?x="), col("doc_id").cast("string")
      ).as("text"))

  /** Documents with planted multi-line structure: a sitewide boilerplate
    * line (every doc), a per-bucket share line (`doc_id % 5` — ~n/5 docs
    * each), the original text, and a unique per-doc ref line. Line-level
    * dedup must drop the first two and keep the last two. */
  def docsWithLines(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
      concat(
        lit("subscribe to our newsletter today\n"),
        col("text"),
        lit("\nshare this page on social media "), pmod(col("doc_id"), lit(5)).cast("string"),
        lit("\nref item "), col("doc_id").cast("string")
      ).as("text"))

  def embWithNearDups(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings").select("vec_id", "embedding")
    e.unionByName(e.select(
      (col("vec_id") + 10000).as("vec_id"),
      transform(col("embedding"), x => (x * lit(1.001)).cast("float")).as("embedding")))
  }

  val streamIds = new java.util.concurrent.atomic.AtomicLong()

  /** 64-bit hex fingerprint of the source table's identity AND content
    * generation (path + recursive mtime/length) — a regenerated table
    * gets a different stored-index location, so the parity check can
    * never "reopen" an index built from different data, and two data
    * dirs cannot collide onto one index (32-bit hashCode could). */
  def sourceFingerprint(path: String): String = {
    def stat(x: java.io.File): Long =
      if (x.isFile) x.lastModified ^ (x.length * 0x9e3779b97f4a7c15L)
      else { val cs = x.listFiles(); if (cs == null) 0L else cs.map(stat).sum }
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$path:${stat(new java.io.File(path))}".getBytes("UTF-8"))
    d.take(8).map(b => f"$b%02x").mkString
  }

  // Stored media fingerprint table per (data dir, content generation) —
  // the same durable-artifact discipline as the IVF index: built once,
  // reopened at parity from the manifest by every later mount.
  private def durableTable[V <: FlumeView](tag: String, s: SparkSession, dir: String)(
      open: String => V)(fill: V => Unit): V =
    Fixtures.perSession(tag, dir, s) {
      val v = open(java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
        s"graft-$tag-" + sourceFingerprint(s"$dir/documents.parquet")).toString)
      if (v.since < 0) fill(v)
      v
    }(_.close())

  def afpTable(s: SparkSession, dir: String): AudioFingerprintTableView =
    durableTable("afp", s, dir)(new AudioFingerprintTableView(s, _, 2)) { v =>
      v.absorb(Multimodal.syntheticWavMedia(t(s, dir, "documents"), textured = true), 1L)
    }

  def agramTable(s: SparkSession, dir: String): AudioGramTableView =
    durableTable("agram", s, dir)(new AudioGramTableView(s, _, 1)) { v =>
      v.absorb(Multimodal.syntheticWavMedia(t(s, dir, "documents"), textured = true), 1L)
    }

  def fhashTable(s: SparkSession, dir: String): FrameHashTableView =
    durableTable("fhash", s, dir)(new FrameHashTableView(s, _, 1)) { v =>
      v.absorb(Multimodal.syntheticTextureGifMedia(t(s, dir, "documents")), 1L)
    }

  def phashTable(s: SparkSession, dir: String): PhashTableView =
    durableTable("phash", s, dir)(new PhashTableView(s, _, 1)) { v =>
      v.absorb(Multimodal.syntheticTexturePngMedia(t(s, dir, "documents")), 1L)
    }

  /** Stored IVF index over the embeddings table (built once per scale
    * factor through the view framework; probing is partition pruning).
    * The view pins frames of the session that built it, so a different
    * (e.g. restarted) session re-using the same data dir must not see
    * it: the stale db is closed and the index remounted. */
  def ivfIndex(s: SparkSession, dir: String): IVFIndexView =
    Fixtures.perSession("ivf", dir, s) {
      val db = new FlumeDb(new TableLog(s, t(s, dir, "embeddings"), "vec_id"))
      // Deterministic on-disk location per (data dir, content
      // generation): the index is a DURABLE view — the first process to
      // touch a scale factor builds it, every later mount (same or new
      // JVM) reopens at parity from the manifest and goes straight to
      // probing. That is the 100 TB deployment shape: a long-lived
      // stored index serving queries, not a per-process rebuild. The
      // build must hold the key's lock: two concurrent IVFIndexView
      // constructions on the same stored dir could prune each other's
      // in-flight batch.
      val vdir = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
        "graft-ivf-" + sourceFingerprint(s"$dir/embeddings.parquet")).toString
      db.use("ivf", IVFIndexView(vdir))
      (db, db.gated("ivf")(_.asInstanceOf[IVFIndexView]))
    }(_._1.close())._2

  def queryVec(s: SparkSession, dir: String, id: Long): Seq[Float] =
    t(s, dir, "embeddings").where(col("vec_id") === id)
      .head().getAs[scala.collection.Seq[Float]]("embedding").toSeq


  // Immutable fixture TEMPLATES for the NON-idempotent lifecycle
  // queries (retract + RE-INGEST append new rows, so reps cannot share
  // a live fixture the way the cached-log queries above do): the
  // deterministic pre-lifecycle state (log + feature view) builds ONCE
  // per (name, data dir) into a template tree, and each rep FILE-COPIES
  // it into a fresh tmp dir — the takedown/re-ingest lifecycle then
  // runs for real on the pristine copy while the bench stops re-paying
  // the Spark jobs that construct the corpus state every rep. Safe
  // because both stores are path-relocatable by design: DeltaProtocol's
  // MANIFEST is "version seq" with batch=N dirs resolved under the
  // root, and ParquetLog recovers cursor/stats from names + footers.
  // Templates (plain bytes, no session handle) are deleted at exit.
  def clonedFixture(name: String, dir: String)(build: String => Unit): String = {
    val tpl = Fixtures.shared("tpl:" + name, dir) {
      val d = java.nio.file.Files.createTempDirectory(s"$name-tpl").toString
      build(d); d
    }(deleteTree)
    val dst = java.nio.file.Files.createTempDirectory(name).toString
    copyTree(tpl, dst)
    dst
  }

  /** [[clonedFixture]] for lifecycle queries whose RESULT frame reads the
    * clone lazily (the bench's noop sink materializes it after the lambda
    * returns, so the clone cannot be deleted in-line the way the eager
    * reingest queries do): each call sweeps the PREVIOUS clone handed out
    * under the same key — by the time a next rep starts, the prior rep's
    * result is fully consumed (the bench/verify/test runners are all
    * sequential; the no-concurrency rule is documented on the bench) —
    * and the process-exit sweep reclaims the last one. */
  val liveClones = Fixtures.shared("live-clones", "")(
    scala.collection.concurrent.TrieMap.empty[(String, String), String])(
    _.values.foreach(d => scala.util.Try(deleteTree(d))))
  def clonedFixtureLazy(name: String, dir: String)(build: String => Unit): String = {
    val dst = clonedFixture(name, dir)(build)
    liveClones.put((name, dir), dst).foreach(deleteTreeAsync)
    dst
  }
  private[graft] def copyTree(src: String, dst: String): Unit = {
    val sp = java.nio.file.Paths.get(src); val dp = java.nio.file.Paths.get(dst)
    val st = java.nio.file.Files.walk(sp)
    try {
      val it = st.iterator()
      while (it.hasNext) {
        val p = it.next(); val t = dp.resolve(sp.relativize(p).toString)
        if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
        else {
          java.nio.file.Files.createDirectories(t.getParent)
          java.nio.file.Files.copy(p, t,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        }
      }
    } finally st.close()
  }

  /** Plan visibility for lifecycle queries that `localCheckpoint(true)`
    * their result to decouple the async fixture teardown (their dumped
    * plan is otherwise an opaque `Scan ExistingRDD` — the r18 audit's
    * item 4): the lambda registers the PRE-checkpoint frame with
    * [[notePlan]], and the plan dumpers
    * ([[graft.tools.DumpPlans]]/[[graft.tools.DumpPlanFiles]]) build the
    * query inside [[capturePlan]], which hands that frame back. Outside
    * a capture notePlan stores nothing; a capture sees only the frames
    * its own build notes, so concurrent builds cannot cross plans. */
  private val planCapture =
    new scala.util.DynamicVariable[Option[java.util.concurrent.atomic.AtomicReference[DataFrame]]](None)
  def notePlan(df: DataFrame): DataFrame = { planCapture.value.foreach(_.set(df)); df }
  def capturePlan[A](body: => A): (A, Option[DataFrame]) = {
    val noted = new java.util.concurrent.atomic.AtomicReference[DataFrame]
    val r = planCapture.withValue(Some(noted))(body)
    (r, Option(noted.get))
  }

  // Stable per-(fixture, data dir) temp directories for DURABLE view
  // stores that are deterministic functions of a source table: the
  // first rep builds into the dir (callers guard their absorbs on the
  // view's cursor), later reps reopen at parity — no rebuild cost, no
  // one-tree-per-rep /tmp litter — and the process-exit sweep deletes
  // them.
  def stableTmpDir(name: String, dir: String): String =
    Fixtures.shared("stable:" + name, dir)(
      java.nio.file.Files.createTempDirectory(name).toString)(deleteTree)

  // Off-thread fixture teardown: build-and-destroy queries (reingest,
  // stream-curate, expire) delete their per-rep temp trees through this
  // single daemon worker so the I/O runs CONCURRENTLY with the next
  // computation instead of inside the timed lambda — the bench prices
  // the OPERATOR, /tmp still ends the run clean. The worker is a shared
  // fixture whose release drains the queue, so a process exit cannot
  // strand scheduled deletes.
  private lazy val sweepPool = Fixtures.shared("async-sweep", "")(
    java.util.concurrent.Executors.newSingleThreadExecutor(r => {
      val th = new Thread(r, "graft-fixture-async-sweep"); th.setDaemon(true); th
    })) { pool =>
    pool.shutdown()
    pool.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS)
  }
  def deleteTreeAsync(dir: String): Unit = {
    val _ = sweepPool.submit(new Runnable {
      override def run(): Unit = scala.util.Try(deleteTree(dir))
    })
  }

  def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Reclaim a per-execution fixture temp tree (no-op if absent) —
    * bench runs each query lambda repeatedly across three SFs, so
    * fixtures that build throwaway logs/views must delete them once the
    * result frame is materialized. */
  def deleteTree(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p))
      graft.views.FsLists.walkDeepestFirst(p).foreach(java.nio.file.Files.delete)
  }


  /** DuckDB oracles. Keys absent here (approximate / hash-seeded /
    * lifecycle operators) fall back to the driver's rows-only check and
    * are covered by ScalaTest instead. */
  /** The BPE training chain as generated DuckDB CTEs: w0 = distinct-word
    * frequencies with pipe-wrapped symbols; per rank i, b{i} = argmax
    * pair (count DESC, a, b) and w{i} = one greedy merge pass via
    * replace-all on the wrapped form (exactly the Spark semantics —
    * matches can only align on whole symbols and never share
    * characters). MATERIALIZED is load-bearing: w{i} is referenced by
    * both b{i+1} and w{i+1}, so inlining would blow up 2^N. */
  val bpeNMerges = 30
  def bpeChain: String = {
    val parts = scala.collection.mutable.ArrayBuffer(
      "w0 AS MATERIALIZED (SELECT word, count(*)::BIGINT AS freq, regexp_replace(word, '(.)', '|\\1|', 'g') AS s " +
        "FROM (SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS word FROM documents) GROUP BY word)")
    (1 to bpeNMerges).foreach { i =>
      parts += (s"b$i AS MATERIALIZED (SELECT pr.a AS a, pr.b AS b FROM " +
        "(SELECT freq, unnest(list_transform(generate_series(1, len(sy) - 1), j -> {'a': sy[j], 'b': sy[j+1]})) AS pr " +
        s"FROM (SELECT freq, string_split(trim(s, '|'), '||') AS sy FROM w${i - 1})) GROUP BY pr.a, pr.b ORDER BY sum(freq) DESC, pr.a, pr.b LIMIT 1)")
      parts += (s"w$i AS MATERIALIZED (SELECT word, freq, replace(s, coalesce((SELECT '|'||a||'||'||b||'|' FROM b$i), '~'), " +
        s"coalesce((SELECT '|'||a||b||'|' FROM b$i), '~')) AS s FROM w${i - 1})")
    }
    "WITH " + parts.mkString(", ")
  }
  def bpeTrainOracle: String =
    bpeChain + ", m AS (" +
      (1 to bpeNMerges).map(i => s"SELECT $i AS rank, a AS left_sym, b AS right_sym FROM b$i").mkString(" UNION ALL ") +
      ") SELECT rank::BIGINT AS rank, left_sym, right_sym FROM m ORDER BY rank"
  def bpeEncodeOracle: String =
    bpeChain + s", top AS (SELECT word, s FROM w$bpeNMerges ORDER BY freq DESC, word LIMIT 300) " +
      "SELECT word, len(string_split(trim(s, '|'), '||'))::BIGINT AS n_subtokens, " +
      "array_to_string(string_split(trim(s, '|'), '||'), ' ') AS encoded FROM top ORDER BY word"
  def bpeDocTokensOracle: String =
    bpeChain + s", vocab AS (SELECT word, len(string_split(trim(s, '|'), '||'))::BIGINT AS n_sub FROM w$bpeNMerges), " +
      "tok AS (SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS word FROM documents) " +
      "SELECT doc_id, sum(n_sub)::BIGINT AS n_bpe_tokens FROM tok JOIN vocab USING (word) GROUP BY doc_id ORDER BY doc_id"

  // Shared DuckDB fragments for the curation oracles: the quality floor
  // (same formula as q_quality_score) and 3-gram shingling (same rules
  // as hashedShinglesCol: distinct word trigrams, distinct words when
  // the doc is shorter than one trigram).
  def sqlQualityFilter(src: String): String =
    s"(SELECT doc_id, text FROM (SELECT doc_id, text, round(least(n::DOUBLE / 50.0, 1.0) * 0.4 + least((stop_hits::DOUBLE / greatest(n::DOUBLE, 1.0)) * 5.0, 1.0) * 0.4 + greatest(1.0 - punct * 4.0, 0.0) * 0.2, 4) AS quality FROM (SELECT doc_id, text, len(toks) AS n, len(list_filter(toks, t -> list_contains(['the','and','of','to','a','in','is','it','that','for'], t))) AS stop_hits, length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE / greatest(length(text), 1) AS punct FROM (SELECT doc_id, text, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks FROM $src))) WHERE quality >= 0.2)"

  def sqlShingles(src: String): String =
    s"(SELECT doc_id, CASE WHEN len(tk) = 0 THEN [] WHEN len(tk) < 3 THEN list_distinct(tk) ELSE list_distinct(list_transform(generate_series(1, len(tk) - 2), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) END AS sh FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS tk FROM $src))"

  /** One curation phase in SQL: quality floor → exact dedup → self
    * near-drop of id_b per verified ≥0.6 pair. Emits CTEs prefixed `p`
    * ending in `kept$p`; `c$p`/`i$p` (shingle counts / inverted index)
    * are reused by the cross-phase stage. */
  def sqlCuratePhase(p: String, src: String): String =
    s"q$p AS ${sqlQualityFilter(src)}, " +
      s"e$p AS (SELECT min(doc_id) AS doc_id FROM q$p GROUP BY text), " +
      s"k$p AS (SELECT q.doc_id, q.text FROM q$p q JOIN e$p USING (doc_id)), " +
      s"sh$p AS ${sqlShingles(s"k$p")}, " +
      s"c$p AS (SELECT doc_id, len(sh) AS n FROM sh$p WHERE len(sh) > 0), " +
      s"i$p AS (SELECT doc_id, unnest(sh) AS shingle FROM sh$p), " +
      s"p$p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter FROM i$p a JOIN i$p b USING (shingle) WHERE a.doc_id < b.doc_id GROUP BY 1, 2), " +
      s"n$p AS (SELECT DISTINCT id_b FROM p$p JOIN c$p ca ON ca.doc_id = id_a JOIN c$p cb ON cb.doc_id = id_b WHERE round(inter::DOUBLE / (ca.n + cb.n - inter), 4) >= 0.6), " +
      s"kept$p AS (SELECT doc_id, text FROM k$p WHERE doc_id NOT IN (SELECT id_b FROM n$p))"
}
