package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** North-star operator specs over the driver's sf0.001 tables. */
class OpsSpec extends SparkSpec {

  lazy val dir = "/root/testdata/sf0.001"
  lazy val docs = spark.read.parquet(s"$dir/documents.parquet")
  lazy val emb = spark.read.parquet(s"$dir/embeddings.parquet")

  /** documents plus perturbed near-duplicates (first token dropped). */
  lazy val docsND = {
    val d = docs.select("doc_id", "text")
    d.unionByName(d.select((col("doc_id") + 10000).as("doc_id"),
      regexp_replace(col("text"), "^\\S+\\s+", "").as("text")))
  }

  test("exact dedup groups identical content") {
    val dup = docs.select("doc_id", "text").unionByName(
      docs.select((col("doc_id") + 10000).as("doc_id"), col("text")))
    val r = Dedup.exact(dup)
    assert(r.count() === docs.count()) // every text has exactly one group
    assert(r.agg(sum("copies")).head().getLong(0) === 2 * docs.count())
    assert(r.where(col("copies") =!= 2).count() === 0)
  }

  test("minhash LSH finds planted near-duplicates with high recall") {
    val pairs = Dedup.minhashLsh(docsND, threshold = 0.35).collect()
    val planted = pairs.count(r => r.getLong(1) === r.getLong(0) + 10000)
    assert(planted >= 450, s"expected >=450 of 500 planted pairs, got $planted")
  }

  test("incremental minhash dedup matches the self-join on the cross-set pairs") {
    // new batch = perturbed copies; base = originals. Every planted pair
    // is cross-set, so incremental must find what the self-join finds.
    val base = docs.select("doc_id", "text")
    val newBatch = docs.select((col("doc_id") + 10000).as("doc_id"),
      regexp_replace(col("text"), "^\\S+\\s+", "").as("text"))
    val inc = Dedup.minhashLshIncremental(newBatch, base, bands = 32,
        threshold = 0.5, maxBucket = 1000, verifyExact = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val self = Dedup.minhashLsh(docsND, bands = 32, threshold = 0.5,
        maxBucket = 1000, verifyExact = true)
      .collect().map(r => (r.getLong(1), r.getLong(0), r.getDouble(2)))
      // the corpus has natural near-dups WITHIN each set too — the
      // self-join reports those, the incremental op must not. Compare on
      // the cross-set restriction, flipped to (new, base) orientation.
      .filter { case (b, a, _) => b >= 10000L && a < 10000L }.toSet
    assert(inc === self, s"incremental=${inc.size} self-cross=${self.size}")
    assert(inc.count { case (a, b, _) => a === b + 10000 } >= 450)
  }

  test("incremental minhash: both hot-bucket caps drop exactly their buckets (maxBucket = 2)") {
    import spark.implicits._
    // hand-built signatures, 64 perms in 16 bands of 4: every position
    // unique per doc except the bands a doc shares on purpose, so each
    // band key's bucket is known exactly
    def sig(id: Long, shared: Map[Int, Long]): Seq[Long] = (0 until 64).map { p =>
      shared.get(p / 4).fold(id * 1000003L + p)(g => g * 7919L + p % 4)
    }
    def table(docs: Seq[(Long, Map[Int, Long])]) =
      docs.map { case (id, sh) => (id, Seq(id), sig(id, sh)) }.toDF("id", "hs", "sig").persist()
    val batch = table(Seq(
      101L -> Map(0 -> 1L, 1 -> 2L),  // band 0: 3 batch ids, over the cap
      102L -> Map(0 -> 1L, 2 -> 3L),
      103L -> Map(0 -> 1L, 3 -> 4L),
      104L -> Map(3 -> 4L, 4 -> 5L))) // band 4: a second shared band with 8
    val stored = table(Seq(
      1L -> Map(0 -> 1L), 2L -> Map(0 -> 1L),
      3L -> Map(1 -> 2L), 4L -> Map(1 -> 2L), 5L -> Map(1 -> 2L), // band 1: 3 base ids, over the cap
      6L -> Map(2 -> 3L), 7L -> Map(2 -> 3L),
      8L -> Map(3 -> 4L, 4 -> 5L)))
    val want = Set((102L, 6L), (102L, 7L), (103L, 8L), (104L, 8L))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    try {
      for (fence <- Seq(4L * 1000 * 1000, 0L)) {
        assert(pairs(Dedup.incrementalCandidatesPublic(batch, stored, maxBucket = 2,
          maxBroadcastKeys = fence)) === want, s"candidates, fence $fence")
        for (exact <- Seq(false, true)) {
          // threshold 0: every candidate passes the verify, so the pair
          // set is the candidate set after both caps
          val out = Dedup.minhashLshIncrementalFromSigs(batch, stored, threshold = 0.0,
            maxBucket = 2, verifyExact = exact, maxBroadcastKeys = fence)
          assert(out.count() === want.size, s"one row per pair, fence $fence exact $exact")
          assert(pairs(out) === want, s"pairs, fence $fence exact $exact")
        }
      }
    } finally Seq(batch, stored).foreach(_.unpersist(blocking = false))
  }

  test("simhash finds planted near-duplicates") {
    val pairs = Dedup.simhashDedup(docsND, maxHamming = 3).collect()
    val planted = pairs.count(r => r.getLong(0) + 10000 === r.getLong(1))
    assert(planted >= 300, s"expected >=300 planted pairs, got $planted")
    assert(pairs.forall(_.getAs[Int]("hamming") <= 3))
  }

  test("ngram jaccard is exact on planted pairs") {
    val pairs = Dedup.ngramJaccard(docsND, threshold = 0.5, maxDocFreq = 10000).collect()
    val planted = pairs.count(r => r.getLong(1) === r.getLong(0) + 10000)
    assert(planted >= 450, s"expected >=450 planted pairs, got $planted")
    assert(pairs.forall(r => r.getAs[Double]("jaccard") >= 0.5 && r.getAs[Double]("jaccard") <= 1.0))
  }

  test("ngram jaccard: LSH-candidate path equals the exhaustive inverted index") {
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1), r.getDouble(2))
    val lsh = Dedup.ngramJaccard(docsND, threshold = 0.5, maxDocFreq = 10000)
      .collect().map(key).toSet
    val ex = Dedup.ngramJaccard(docsND, threshold = 0.5, maxDocFreq = 10000, exhaustive = true)
      .collect().map(key).toSet
    assert(lsh === ex,
      s"onlyLsh=${(lsh -- ex).take(5)} onlyExhaustive=${(ex -- lsh).take(5)}")
  }

  test("containment catches a short doc embedded in a long one that jaccard misses") {
    import spark.implicits._
    // doc 2 = 6 tokens quoted verbatim from the middle of doc 1's 60;
    // doc 3 is unrelated
    val long = (1 to 60).map(i => s"w$i").mkString(" ")
    val quote = (20 to 25).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, long), (2L, quote), (3L, "x1 x2 x3 x4 x5 x6 x7 x8"))
      .toDF("doc_id", "text")
    val c = Dedup.containment(docs, threshold = 0.8, maxDocFreq = 100).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // 4 shingles of the quote, all present in doc 1 → containment 1.0
    assert(c == Map((1L, 2L) -> 1.0))
    // symmetric jaccard on the same pair is 4/58 — invisible at any
    // sane threshold, even to the exhaustive path
    val j = Dedup.ngramJaccard(docs, threshold = 0.3, maxDocFreq = 100, exhaustive = true)
      .collect()
    assert(!j.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L))
  }

  test("containment df cap bounds hot postings without dropping cold pairs") {
    import spark.implicits._
    // a boilerplate shingle shared by many docs is dropped by the cap;
    // the planted subset pair survives on its rare shingles
    val boiler = "copyright notice follows"
    val docs = ((1 to 50).map(i => (100L + i, s"$boiler unique$i filler$i")) ++
      Seq((1L, (1 to 30).map(i => s"t$i").mkString(" ")),
        (2L, (5 to 12).map(i => s"t$i").mkString(" "))))
      .toDF("doc_id", "text")
    val c = Dedup.containment(docs, threshold = 0.9, maxDocFreq = 10).collect()
    assert(c.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L && r.getDouble(2) == 1.0))
    // no pair among the boilerplate docs: their only shared shingle is
    // over the df cap, so the quadratic never materializes
    assert(!c.exists(r => r.getLong(0) >= 100L))
  }

  test("budget selection keeps best-score-first exactly to the token budget") {
    import spark.implicits._
    // scores via a column; tokens = word count. budget 10: A(4 tok, s=3),
    // B(5 tok, s=2), C(3 tok, s=2), D(9 tok, s=1):
    // order = A, B, C (score desc, id) — cum_before 0, 4, 9; C straddles
    // (9 < 10), D dropped (12 >= 10)
    val fx = Seq(
      (1L, "a a a a", 3.0), (2L, "b b b b b", 2.0),
      (3L, "c c c", 2.0), (4L, "d d d d d d d d d", 1.0)).toDF("doc_id", "text", "s")
    val kept = Sampling.selectByBudget(fx, budgetTokens = 10L, score = col("s"), nBuckets = 2)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(3)))
    assert(kept.toSeq === Seq((1L, 0L), (2L, 4L), (3L, 9L)))
    // the lazy plan never collapses the corpus into one partition
    val plan = Sampling.selectByBudget(fx, 10L, col("s"), nBuckets = 2, checkpointResult = false)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange SinglePartition"),
      s"budget scan must stay bucketed, not single-partition:\n${plan.take(2000)}")
  }

  test("topFraction keeps exactly the top ceil-free floor(frac*n) by (score desc, id)") {
    import spark.implicits._
    // 10 rows, frac 0.3 -> keepN = 3; ties at score 5.0 break on id asc
    val fx = (1L to 10L).map(i => (i, if (i <= 4) 5.0 else 10.0 - i)).toDF("doc_id", "s")
    val kept = Sampling.topFraction(fx, frac = 0.3, score = col("s"))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(2)))
    // scores: ids 1-4 at 5.0 (ranks 0-3 by id), rest lower — top-3 = ids 1,2,3
    assert(kept.toSeq === Seq((1L, 0L), (2L, 1L), (3L, 2L)))
    // frac so small the floor hits zero still keeps one row
    val one = Sampling.topFraction(fx, frac = 0.01, score = col("s")).collect()
    assert(one.map(_.getLong(0)).toSeq === Seq(1L))
  }

  test("substring dedup finds cross-document spans that whole-doc jaccard misses") {
    import spark.implicits._
    // A: 30 unique tokens; B: 10 own + A's tokens 11..20 + 10 own —
    // shares a verbatim 10-token run with A at positions 11..20 of BOTH
    val aToks = (1 to 30).map(i => s"a$i")
    val bToks = (1 to 10).map(i => s"b$i") ++ aToks.slice(10, 20) ++ (1 to 10).map(i => s"c$i")
    // D: two 8-token runs of A (positions 1..8 and 21..28) separated by
    // 12 unrelated tokens — must come out as TWO spans, not one
    val dToks = aToks.slice(0, 8) ++ (1 to 12).map(i => s"d$i") ++ aToks.slice(20, 28)
    val fx = Seq(
      (1L, aToks.mkString(" ")),
      (2L, bToks.mkString(" ")),
      (3L, dToks.mkString(" "))).toDF("doc_id", "text")
    val spans = Dedup.substringSpans(fx, k = 5)
      .orderBy("doc_id", "start_tok")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // A: 11..20 shared with B; 1..8 and 21..28 shared with D — the
    // [1,8] and [11,20] islands are 3 apart (< k=5)… positions 9,10 are
    // not duplicated but the k-gram WINDOWS [6..10],[7..11] etc. only
    // fire where all 5 tokens match, so A's hits are at 1..4 (span
    // [1,8]), 11..16 (span [11,20]), 21..24 (span [21,28]).
    // gap 11-4=7 > 5 and 21-16=5 <= 5: the last two merge? No —
    // hit 16 covers [16,20], hit 21 covers [21,25]: touching runs, and
    // the operator merges touching runs by design (pos'-pos == k).
    assert(spans.filter(_._1 == 1L).toSeq === Seq((1L, 1L, 8L, 8L), (1L, 11L, 28L, 18L)))
    assert(spans.filter(_._1 == 2L).toSeq === Seq((2L, 11L, 20L, 10L)))
    assert(spans.filter(_._1 == 3L).toSeq === Seq((3L, 1L, 8L, 8L), (3L, 21L, 28L, 8L)))
    // …and the A-B pair is invisible to whole-document similarity at the
    // usual threshold: 8 shared 3-gram shingles of 48 → jaccard ≈ 0.17
    val mh = Dedup.ngramJaccard(fx, threshold = 0.5, w = 3)
    assert(mh.where((col("id_a") === 1L && col("id_b") === 2L) ||
      (col("id_a") === 2L && col("id_b") === 1L)).count() === 0L)
  }

  test("knn cosine: scaled copy of the query vector ranks first") {
    val q = emb.where(col("vec_id") === 7).head().getAs[scala.collection.Seq[Float]]("embedding").toSeq
    val top = Similarity.knnForVector(emb, q, 3).collect()
    assert(top(0).getLong(0) === 7L) // itself, cosine 1.0
    assert(top(0).getAs[Double]("cos") > 0.9999)
  }

  test("knn batch returns k neighbors per query, ranked") {
    val r = Similarity.knnBatch(emb, emb.where(col("vec_id") < 3), 5).collect()
    assert(r.length === 15)
    val byQ = r.groupBy(_.getAs[Long]("query_id"))
    assert(byQ.keySet === Set(0L, 1L, 2L))
    byQ.values.foreach { rows =>
      val cs = rows.sortBy(_.getAs[Int]("rnk")).map(_.getAs[Double]("cos"))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b }, "cos must be non-increasing in rank")
    }
  }

  test("ann lsh recall: hyperplane prefilter keeps most of the true top-k") {
    val q = emb.where(col("vec_id") === 0).head().getAs[scala.collection.Seq[Float]]("embedding").toSeq
    val exact = Similarity.knnForVector(emb, q, 10, excludeId = Some(0L)).collect().map(_.getLong(0)).toSet
    val approx = Similarity.annForVector(emb, q, 10, maxHamming = 8, excludeId = Some(0L)).collect().map(_.getLong(0)).toSet
    assert((exact & approx).size >= 5, s"ANN recall too low: ${(exact & approx).size}/10")
  }

  test("native hyperplane_sig expression is bit-identical to the UDF form") {
    for (nBits <- Seq(16, 32)) {
      val both = emb.select(
        Similarity.hyperplaneSignature(col("embedding"), nBits).as("native"),
        Similarity.hyperplaneSignatureUdf(col("embedding"), nBits).as("hof"))
      assert(both.where(col("native") =!= col("hof")).count() === 0L,
        s"native vs UDF signatures diverge at nBits=$nBits")
    }
  }

  test("ANN over a stored signature column equals recomputed signatures") {
    val q = emb.where(col("vec_id") === 0).head().getAs[scala.collection.Seq[Float]]("embedding").toSeq
    // make "stored" real: write the signed corpus to parquet, read back
    val dirSig = java.nio.file.Files.createTempDirectory("graft-sig-test").toString
    Similarity.withHyperplaneSignatures(emb.select("vec_id", "embedding")).write.parquet(s"$dirSig/corpus")
    val stored = spark.read.parquet(s"$dirSig/corpus")
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getAs[Double]("cos"))
    val fromStored = Similarity.annForVector(stored, q, 10, maxHamming = 8,
      excludeId = Some(0L), sigCol = Some("sig")).collect().map(key).toSeq
    val recomputed = Similarity.annForVector(emb, q, 10, maxHamming = 8,
      excludeId = Some(0L)).collect().map(key).toSeq
    assert(fromStored === recomputed)
  }

  test("stored IVFIndexView search equals the one-shot ivfSearch") {
    import graft.core.{FlumeDb, TableLog}
    import graft.views.IVFIndexView
    val q = emb.where(col("vec_id") === 5).head().getAs[scala.collection.Seq[Float]]("embedding").toSeq
    val vdir = java.nio.file.Files.createTempDirectory("graft-ivf-test").toString
    val db = new FlumeDb(new TableLog(spark, emb, "vec_id"))
    db.use("ivf", IVFIndexView(vdir))
    val view = db.gated("ivf")(_.asInstanceOf[IVFIndexView])
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getAs[Double]("cos"))
    for (probe <- Seq(4, 16)) {
      val stored = view.search(q, 10, nProbe = probe, excludeId = Some(5L)).collect().map(key).toSeq
      val oneShot = Similarity.ivfSearch(emb, q, 10, nCentroids = 16, nProbe = probe, excludeId = Some(5L))
        .collect().map(key).toSeq
      assert(stored === oneShot, s"nProbe=$probe stored=$stored oneShot=$oneShot")
    }
    // restart: centroids + manifest recover; results unchanged
    val view2 = new IVFIndexView(spark, s"$vdir/ivf", 1, "vec_id", "embedding", 16)
    assert(view2.since === view.since)
    assert(view2.search(q, 10, nProbe = 4, excludeId = Some(5L)).collect().map(key).toSeq
      === view.search(q, 10, nProbe = 4, excludeId = Some(5L)).collect().map(key).toSeq)
  }

  test("ivf search prunes to probed cells and finds near neighbors") {
    val q = emb.where(col("vec_id") === 5).head().getAs[scala.collection.Seq[Float]]("embedding").toSeq
    val full = Similarity.ivfSearch(emb, q, 10, nCentroids = 16, nProbe = 16, excludeId = Some(5L))
      .collect().map(_.getLong(0)).toSet
    val exact = Similarity.knnForVector(emb, q, 10, excludeId = Some(5L))
      .collect().map(_.getLong(0)).toSet
    assert(full === exact, "probing ALL cells must equal exact knn")
    val pruned = Similarity.ivfSearch(emb, q, 10, nCentroids = 16, nProbe = 4, excludeId = Some(5L))
      .collect().map(_.getLong(0)).toSet
    assert(pruned.nonEmpty)
    assert((pruned & exact).nonEmpty, "probed cells should retain some true neighbors")
  }

  test("embedding near-dup finds planted scaled copies (cosine-invariant LSH)") {
    val e = emb.select("vec_id", "embedding")
    val planted = e.unionByName(e.select((col("vec_id") + 10000).as("vec_id"),
      transform(col("embedding"), x => (x * lit(1.001)).cast("float")).as("embedding")))
    val pairs = Dedup.embeddingNearDup(planted, threshold = 0.95).collect()
    val found = pairs.count(r => r.getLong(1) === r.getLong(0) + 10000)
    assert(found === 500, s"expected all 500 planted cosine-1 pairs, got $found")
  }

  test("embedding near-dup caps deliberately hot buckets, keeps cold-bucket pairs") {
    import spark.implicits._
    // 50 identical vectors (same signature in every band ⇒ one bucket of
    // 50 per band) + one planted near-pair far from them in angle
    val hotVec = Array.tabulate(64)(i => (1.0f + i * 0.01f))
    val pairVec = Array.tabulate(64)(i => (if (i % 2 == 0) 1.0f else -1.0f) * (1.0f + i * 0.005f))
    val rows =
      (0L until 50L).map(i => (i, hotVec.toSeq)) ++
        Seq((100L, pairVec.toSeq), (101L, pairVec.map(x => x * 1.001f).toSeq))
    val df = rows.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    // uncapped: the 50 identical vectors yield 50*49/2 cosine-1 pairs
    val uncapped = Dedup.embeddingNearDup(df, maxBucket = 1024, checkpointResult = false).collect()
    assert(uncapped.count(r => r.getLong(0) < 50 && r.getLong(1) < 50) === 1225)
    // maxBucket=10: every band bucket of the hot clump exceeds the cap ⇒
    // its pairs are dropped; the cold planted pair must survive
    val capped = Dedup.embeddingNearDup(df, maxBucket = 10, checkpointResult = false).collect()
    assert(capped.count(r => r.getLong(0) < 50 && r.getLong(1) < 50) === 0,
      "hot-bucket pairs must be dropped by the cap")
    assert(capped.exists(r => r.getLong(0) === 100L && r.getLong(1) === 101L),
      "the cold-bucket planted pair must survive the cap")
  }

  test("native cosine expression is bit-identical to the HOF formulation") {
    val a = emb.select(col("vec_id").as("ia"), col("embedding").as("va")).limit(30)
    val b = emb.select(col("vec_id").as("ib"), col("embedding").as("vb")).limit(30)
    val both = a.crossJoin(b).select(
      Similarity.cosine(col("va"), col("vb")).as("native"),
      Similarity.cosineHof(col("va"), col("vb")).as("hof")).collect()
    assert(both.length === 900)
    both.foreach(r => assert(r.getDouble(0) === r.getDouble(1),
      s"native=${r.getDouble(0)} hof=${r.getDouble(1)}"))
  }

  test("GraftExtensions injects cosine_similarity into a fresh session") {
    import org.apache.spark.sql.SparkSession
    val prev = spark // keep the shared session alive (same SparkContext)
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // spark.sql.extensions=graft.GraftExtensions does the same at
      // cluster startup; tests share one SparkContext, so inject via the
      // builder hook (identical code path inside the session)
      val s2 = SparkSession.builder()
        .withExtensions(new graft.GraftExtensions().apply(_))
        .getOrCreate()
      val r = s2.sql("SELECT cosine_similarity(array(1.0f, 0.0f), array(1.0f, 0.0f)) AS c").head()
      assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
      val m = s2.sql("SELECT sig_agreement(array(1L, 2L, 3L), array(1L, 9L, 3L)) AS m").head()
      assert(m.getInt(0) === 2)
    } finally {
      SparkSession.setDefaultSession(prev)
      SparkSession.setActiveSession(prev)
    }
  }

  test("native cosine works through SQL registration and codegen") {
    graft.functions.GraftFunctions.register(spark)
    emb.createOrReplaceTempView("emb_cos_test")
    val r = spark.sql(
      "SELECT cosine_similarity(a.embedding, a.embedding) AS c FROM emb_cos_test a LIMIT 5").collect()
    r.foreach(row => assert(math.abs(row.getDouble(0) - 1.0) < 1e-9))
  }

  test("salted join equals the plain equi-join (skew-safe path)") {
    val ev = spark.read.parquet(s"$dir/events.parquet").select("event_id", "user_id", "value")
    val dim = spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey").as("user_id"), col("c_name"))
    val plain = ev.join(dim, Seq("user_id")).select("event_id", "user_id", "c_name")
    val salted = Skew.saltedJoin(ev, dim, Seq("user_id")).select("event_id", "user_id", "c_name")
    assert(salted.count() === plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("hash split is stable, disjoint, and close to the asked fraction") {
    val s1 = Sampling.hashSplit(docs.select("doc_id"), "doc_id", evalPermille = 100, salt = "v1")
    val s2 = Sampling.hashSplit(docs.select("doc_id").repartition(7), "doc_id", evalPermille = 100, salt = "v1")
    // assignment is a pure function of the key: partitioning must not matter
    assert(s1.exceptAll(s2).isEmpty && s2.exceptAll(s1).isEmpty)
    val evalN = s1.where(col("split") === "eval").count().toDouble
    val n = s1.count().toDouble
    assert(evalN / n > 0.05 && evalN / n < 0.15, s"~10% expected, got ${evalN / n}")
    // independent salt draws an (almost surely) different assignment
    val other = Sampling.hashSplit(docs.select("doc_id"), "doc_id", evalPermille = 100, salt = "v2")
    assert(other.exceptAll(s1).count() > 0)
    // sampleByHash keeps exactly the under-threshold buckets
    val kept = Sampling.sampleByHash(docs.select("doc_id"), "doc_id", 100, salt = "v1")
    assert(kept.count() === evalN.toLong)
  }

  test("stratified hash sample honors quotas and is partition-invariant") {
    val base = docs.select("doc_id", "lang")
    val s1 = Sampling.stratifiedByHash(base, "lang", "doc_id", nPerGroup = 30)
    val s2 = Sampling.stratifiedByHash(base.repartition(11), "lang", "doc_id", nPerGroup = 30)
    assert(s1.exceptAll(s2).isEmpty && s2.exceptAll(s1).isEmpty)
    val perGroup = s1.groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perGroup.values.forall(_ <= 30))
    val available = base.groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    perGroup.foreach { case (g, n) => assert(n === math.min(30L, available(g))) }
  }

  test("domain mix hits the target proportions and keeps the binding source whole") {
    import spark.implicits._
    // skewed corpus: 4000 web, 1000 books, 400 code — recipe wants 50/25/25.
    // code is binding (400/0.25 = 1600 feasible): kept whole, others downsampled.
    val rows = (0L until 4000L).map((_, "web")) ++
      (10000L until 11000L).map((_, "books")) ++ (20000L until 20400L).map((_, "code"))
    val df = rows.toDF("doc_id", "source")
    val mixed = Sampling.mixDomains(df, "source", "doc_id",
      Map("web" -> 0.5, "books" -> 0.25, "code" -> 0.25), salt = "t")
    val got = mixed.groupBy("source").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got("code") === 400L, s"binding source must be kept whole, got $got")
    // permille quantization + hash variance: ±15% around 800/400
    assert(math.abs(got("web") - 800L) < 120, s"web ~800 expected, got $got")
    assert(math.abs(got("books") - 400L) < 60, s"books ~400 expected, got $got")
    // partition-invariant
    val again = Sampling.mixDomains(df.repartition(13), "source", "doc_id",
      Map("web" -> 0.5, "books" -> 0.25, "code" -> 0.25), salt = "t")
    assert(mixed.exceptAll(again).isEmpty && again.exceptAll(mixed).isEmpty)
    // a source absent from the recipe is dropped
    val dropped = Sampling.mixDomains(df, "source", "doc_id", Map("web" -> 1.0), salt = "t")
    assert(dropped.where(col("source") =!= "web").count() === 0L)
  }

  test("temperature mix flattens skew: alpha=1 natural, alpha=0 uniform, monotone between") {
    import spark.implicits._
    val rows = (0L until 3600L).map((_, "web")) ++
      (10000L until 10900L).map((_, "books")) ++ (20000L until 20100L).map((_, "wiki"))
    val df = rows.toDF("doc_id", "source")
    def countsAt(alpha: Double) =
      Sampling.mixByTemperature(df, "source", "doc_id", alpha, salt = "t")
        .groupBy("source").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // alpha = 1: natural distribution — nothing dropped
    assert(countsAt(1.0) === Map("web" -> 3600L, "books" -> 900L, "wiki" -> 100L))
    // alpha = 0: uniform — every source cut to ~n_min (permille + hash variance)
    val flat = countsAt(0.0)
    assert(flat("wiki") === 100L)
    assert(math.abs(flat("web") - 100L) < 30 && math.abs(flat("books") - 100L) < 30, s"$flat")
    // alpha = 0.5: between natural and uniform — keep-fraction
    // (100/3600)^0.5 ≈ 0.167 for web, (100/900)^0.5 ≈ 0.333 for books
    val half = countsAt(0.5)
    assert(half("wiki") === 100L)
    assert(math.abs(half("web") - 600L) < 90, s"web ~600 expected, got $half")
    assert(math.abs(half("books") - 300L) < 50, s"books ~300 expected, got $half")
  }

  test("salted aggregation matches plain groupBy (skew-safe path)") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val plain = ev.groupBy(col("event_type")).agg(count(lit(1)).as("cnt"), sum("value").as("sum_v"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val salted = Skew.saltedSumCount(ev, col("event_type"), col("value"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(salted.keySet === plain.keySet)
    salted.foreach { case (k, (c, s)) =>
      assert(c === plain(k)._1)
      assert(math.abs(s - plain(k)._2) < 1e-6 * math.max(1.0, math.abs(plain(k)._2)))
    }
  }

  test("curation pipeline drops planted near-dups, keeps originals") {
    val kept = Curate.curate(docsND, minQuality = 0.0, nearThreshold = 0.6, verifyExact = true)
      .collect().map(_.getLong(0)).toSet
    val originals = kept.count(_ < 10000)
    val perturbed = kept.count(_ >= 10000)
    assert(originals >= 450, s"originals should survive, got $originals")
    assert(perturbed <= 50, s"perturbed near-dups should be dropped, got $perturbed kept")
  }

  test("curation containment stage drops the quote side under the percentile budget") {
    import spark.implicits._
    // distinct word-salad docs (no shared shingles between docs) + a
    // 10-token quote prefix of doc 1: Jaccard quote/doc ≈ 10/40 < 0.6
    // (minhash keeps both), containment = 1.0 (the stage drops the
    // quote — the CONTAINED side, fewer shingles)
    def salad(i: Long, n: Int): String =
      (0 until n).map(j => s"w${i}x$j").mkString(" ")
    val docs = ((1L to 20L).map(i => (i, salad(i, 40))) :+
      (500L, salad(1L, 40).split(" ").take(10).mkString(" "))).toDF("doc_id", "text")
    val base = Curate.curate(docs, minQuality = 0.0, nearThreshold = 0.6, verifyExact = true)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(base.contains(500L), "without the containment stage the quote survives (LSH-blind)")
    val kept = Curate.curate(docs, minQuality = 0.0, nearThreshold = 0.6, verifyExact = true,
        containmentThreshold = Some(0.9), maxDocFreqPercentile = 1.0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === (1L to 20L).toSet, s"the quote (500) must drop, sources survive, got $kept")
    // the budget trade, pinned: on this DEGENERATE corpus (every doc
    // fully unique) the only repeated shingles ARE the quote's, so the
    // p99 cap lands at df≈1 and classifies them as boilerplate — the
    // quote becomes invisible and survives. The percentile rule assumes
    // a corpus whose df distribution has real mass (any natural corpus);
    // the oracle-backed q_pipeline_curate_budget covers that regime.
    val keptP99 = Curate.curate(docs, minQuality = 0.0, nearThreshold = 0.6, verifyExact = true,
        containmentThreshold = Some(0.9))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptP99.contains(500L),
      "degenerate all-unique corpus: p99 classifies the sole repeats as boilerplate")
  }

  test("minhash exact-verify reports true jaccard for candidates") {
    val pairs = Dedup.minhashLsh(docsND, threshold = 0.5, verifyExact = true).collect()
    val planted = pairs.filter(r => r.getLong(1) === r.getLong(0) + 10000)
    assert(planted.length >= 450)
    planted.foreach { r =>
      val j = r.getAs[Double]("est_jaccard")
      assert(j > 0.5 && j <= 1.0, s"true jaccard of a near-identical pair should be high, got $j")
    }
  }

  test("native hashed-shingles expression is bit-identical to its UDF twin") {
    import spark.implicits._
    // real corpus at two gram widths (LSH shingles, decontamination grams)
    for (w <- Seq(3, 8)) {
      val native = docsND.select(col("doc_id"), Dedup.hashedShinglesCol(col("text"), w).as("hs"))
        .orderBy("doc_id").collect().map(_.getAs[scala.collection.Seq[Long]]("hs").toSeq).toSeq
      val twin = docsND.select(col("doc_id"), Dedup.hashedShinglesUdf(w)(col("text")).as("hs"))
        .orderBy("doc_id").collect().map(_.getAs[scala.collection.Seq[Long]]("hs").toSeq).toSeq
      assert(native.nonEmpty && native === twin, s"native/UDF divergence at w=$w")
    }
    // edges: null, empty, short docs (< w tokens), repeated shingles,
    // unicode whose toLowerCase lands in [a-z] (İ -> i)
    val edges = Seq((0L, null: String), (1L, ""), (2L, "one"), (3L, "a b"),
      (4L, "x y z x y z x y z"), (5L, "İstanbul İstanbul İstanbul İstanbul"))
      .toDF("doc_id", "text")
    val en = edges.select(col("doc_id"), Dedup.hashedShinglesCol(col("text")).as("hs"))
      .orderBy("doc_id").collect().map(_.getAs[scala.collection.Seq[Long]]("hs").toSeq).toSeq
    val et = edges.select(col("doc_id"), Dedup.hashedShinglesUdf(3)(col("text")).as("hs"))
      .orderBy("doc_id").collect().map(_.getAs[scala.collection.Seq[Long]]("hs").toSeq).toSeq
    assert(en === et)
    assert(en.head === Seq.empty, "null text yields an empty set on both paths")
  }

  test("native one-permutation minhash is bit-identical to its UDF twin") {
    val hs = docsND.select(col("doc_id"), Dedup.hashedShinglesCol(col("text")).as("hs"))
    for (perms <- Seq(16, 64)) {
      def sigs(c: org.apache.spark.sql.Column) = hs.select(col("doc_id"), c.as("sig"))
        .orderBy("doc_id").collect().map(_.getAs[scala.collection.Seq[Long]]("sig").toSeq).toSeq
      val native = sigs(graft.functions.MinhashOph.minhash_oph(col("hs"), perms))
      val twin = sigs(Dedup.minhashOphUdf(perms)(col("hs")))
      assert(native.nonEmpty && native === twin, s"native/UDF divergence at perms=$perms")
    }
    // empty shingle set: densification bottoms out deterministically and
    // identically on both paths (first bucket 0, later buckets borrow)
    import spark.implicits._
    val empty = Seq((1L, Seq.empty[Long])).toDF("doc_id", "hs")
    def one(c: org.apache.spark.sql.Column) =
      empty.select(c.as("sig")).head().getAs[scala.collection.Seq[Long]]("sig").toSeq
    val en = one(graft.functions.MinhashOph.minhash_oph(col("hs"), 8))
    assert(en === one(Dedup.minhashOphUdf(8)(col("hs"))))
    assert(en.head === 0L)
  }

  test("native lang-id expression is bit-identical to its UDF twin") {
    val native = TextAnalysis.langId(docs).orderBy("doc_id").collect()
      .map(_.getAs[String]("pred_lang")).toSeq
    val twin = docs.select(col("doc_id"), TextAnalysis.langIdUdf(col("text")).as("pred_lang"))
      .orderBy("doc_id").collect().map(_.getAs[String]("pred_lang")).toSeq
    assert(native.nonEmpty && native === twin)
  }

  test("bigram LM score: Laplace math on a hand-computable fixture; gibberish scores worse") {
    import spark.implicits._
    val ref = Seq((0L, "the cat sat"), (1L, "the cat ran")).toDF("doc_id", "text")
    // model: V=4 (the,cat,sat,ran); c1(the)=2, c1(cat)=2; c2(the cat)=2, c2(cat sat)=1
    val scored = TextAnalysis.bigramLmScore(ref, ref).orderBy("doc_id").collect()
    val expected0 = -(math.log(3.0 / 6.0) + math.log(2.0 / 6.0)) / 2.0 // (the cat), (cat sat)
    assert(scored(0).getLong(1) === 2L)
    assert(math.abs(scored(0).getDouble(2) - expected0) < 5e-5)
    // a doc full of unseen bigrams scores strictly worse than in-domain text
    val crawl = Seq((10L, "the cat sat"), (11L, "zx qv plortle zx qv")).toDF("doc_id", "text")
    val s2 = TextAnalysis.bigramLmScore(crawl, ref).orderBy("doc_id").collect()
    assert(s2(0).getDouble(2) < s2(1).getDouble(2),
      "in-domain text must have lower nll than out-of-vocabulary gibberish")
    // docs with < 2 tokens produce no row
    val tiny = Seq((20L, "one")).toDF("doc_id", "text")
    assert(TextAnalysis.bigramLmScore(tiny, ref).count() === 0L)
  }

  test("quantized kNN ranks nearly like exact kNN (int8 search fidelity)") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val q0f = emb.where(col("vec_id") === 0L).head().getAs[scala.collection.Seq[Float]]("embedding")
    val exact = Similarity.knnForVector(emb, q0f.toSeq, 10, excludeId = Some(0L))
      .collect().map(_.getLong(0)).toSet
    val qv = Embeddings.quantizedVectors(emb)
      .select(col("vec_id"), transform(col("q"), _.cast("float")).as("qv"))
    val q0q = qv.where(col("vec_id") === 0L).head().getAs[scala.collection.Seq[Float]]("qv")
    val quant = Similarity.knnForVector(qv, q0q.toSeq, 10, vecCol = "qv", excludeId = Some(0L))
      .collect().map(_.getLong(0)).toSet
    assert(exact.size === 10 && quant.size === 10)
    assert((exact intersect quant).size >= 8,
      s"int8 quantization should preserve the top-10 neighborhood, overlap=${(exact intersect quant).size}")
  }

  test("native simhash64 expression matches the UDF twin over tokens()") {
    import graft.ops.TextAnalysis
    val native = docsND.select(col("doc_id"),
      graft.functions.SimHash64.simhash64(col("text")).as("sig"))
      .orderBy("doc_id").collect().map(_.getLong(1)).toSeq
    val twin = docsND.select(col("doc_id"),
      Dedup.simhash64Udf(TextAnalysis.tokens(col("text"))).as("sig"))
      .orderBy("doc_id").collect().map(_.getLong(1)).toSeq
    assert(native.nonEmpty && native === twin)
  }

  test("native band-keys expression is bit-identical to its UDF twin") {
    val sigs = docsND.select(col("doc_id"),
      graft.functions.MinhashOph.minhash_oph(Dedup.hashedShinglesCol(col("text")), 64).as("sig"))
    def keys(c: org.apache.spark.sql.Column) = sigs.select(col("doc_id"), c.as("bk"))
      .orderBy("doc_id").collect().map(_.getAs[scala.collection.Seq[Long]]("bk").toSeq).toSeq
    val native = keys(graft.functions.BandKeys.band_keys(col("sig"), 64, 16))
    val twin = keys(Dedup.bandKeysUdf(64, 16)(col("sig")))
    assert(native.nonEmpty && native === twin)
  }

  test("native positional-grams expression is bit-identical to its UDF twin (exploded form)") {
    import spark.implicits._
    val frame = docsND.unionByName(
      Seq((90001L, null: String), (90002L, ""), (90003L, "just two")).toDF("doc_id", "text"))
    def rows(c: org.apache.spark.sql.Column) = frame
      .select(col("doc_id"), explode(c).as("pg"))
      .select(col("doc_id"), col("pg._1").as("pos"), col("pg._2").as("g"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val native = rows(graft.functions.PositionalGrams.positional_grams(col("text"), 5))
    val twin = rows(Dedup.positionalGramsUdf(5)(col("text")))
    assert(native.nonEmpty && native === twin)
  }

  test("exact-verify jaccard is identical for sorted and unsorted shingle input") {
    // The canonical producer (hashedShinglesCol) emits sorted arrays; a
    // caller handing minhashLshFromShingles its own unsorted arrays must
    // get the same (defensively sorted) exact jaccard, not a silent
    // undercount from the merge.
    val hs = docsND.select(col("doc_id").as("id"), Dedup.hashedShinglesCol(col("text")).as("hs"))
    val sortedIn = hs.persist()
    val unsortedIn = hs.select(col("id"), reverse(col("hs")).as("hs")).persist()
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("est_jaccard"))).toSet
    val a = pairSet(Dedup.minhashLshFromShingles(sortedIn, threshold = 0.5, verifyExact = true))
    val b = pairSet(Dedup.minhashLshFromShingles(unsortedIn, threshold = 0.5, verifyExact = true))
    sortedIn.unpersist(); unsortedIn.unpersist()
    assert(a.nonEmpty && a === b)
  }

  test("approx distinct (HLL) lands within 5% of exact") {
    val r = graft.SparkEntry.queries("q_approx_distinct")(spark, dir).head()
    val approx = r.getLong(0).toDouble
    val exact = spark.read.parquet(s"$dir/events.parquet")
      .select(countDistinct("user_id")).head().getLong(0).toDouble
    assert(math.abs(approx - exact) / exact <= 0.05, s"approx=$approx exact=$exact")
  }

  test("text stats are sane and deterministic") {
    val r = TextAnalysis.textStats(docs).collect()
    assert(r.length === docs.count())
    r.foreach { row =>
      assert(row.getAs[Long]("n_tokens") > 0)
      assert(row.getAs[Double]("punct_ratio") >= 0.0 && row.getAs[Double]("punct_ratio") <= 1.0)
    }
  }

  test("fingerprint is invariant to case and whitespace") {
    import spark.implicits._
    val d = Seq((1L, "Hello  World"), (2L, "hello world"), (3L, "different")).toDF("doc_id", "text")
    val f = TextAnalysis.fingerprint(d).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(f(1L) === f(2L))
    assert(f(1L) !== f(3L))
  }

  test("langId one-pass UDF equals the column-algebra formulation") {
    val fused = TextAnalysis.langId(docs).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val hof = TextAnalysis.langIdHof(docs).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fused === hof)
  }

  test("langId returns a prediction per doc from the known set") {
    val langs = Set("en", "de", "fr", "es", "zh")
    val r = TextAnalysis.langId(docs).collect()
    assert(r.length === docs.count())
    r.foreach(row => assert(langs.contains(row.getAs[String]("pred_lang"))))
  }

  test("multimodal: features are deterministic and shaped; frames explode") {
    val media = Multimodal.syntheticMedia(docs)
    val f1 = Multimodal.extractFeatures(media, dim = 16).orderBy("media_id").collect()
    val f2 = Multimodal.extractFeatures(media, dim = 16).orderBy("media_id").collect()
    assert(f1.length === docs.count())
    assert(f1.map(_.getAs[scala.collection.Seq[Float]]("features")).toSeq ===
      f2.map(_.getAs[scala.collection.Seq[Float]]("features")).toSeq)
    assert(f1.forall(_.getAs[scala.collection.Seq[Float]]("features").length === 16))
    val frames = Multimodal.sampleFrames(media)
    assert(frames.count() > 0)
    assert(frames.columns.toSet === Set("media_id", "frame_idx", "frame_bytes", "frame_md5"))
  }

  test("real PNG decode: round trip recovers exact pixels; features come from pixels") {
    val media = Multimodal.syntheticPngMedia(docs)
    // id=0: 16x16, pixel(x,y) = (7x + 13y) % 256 — exact integer stats
    val s0 = Multimodal.imageStats(media).where(col("media_id") === 0L).head()
    val expectedSum = (for { y <- 0 until 16; x <- 0 until 16 } yield (7 * x + 13 * y) % 256).sum.toLong
    assert(s0.getLong(1) === 16L && s0.getLong(2) === 16L && s0.getLong(3) === 256L)
    assert(s0.getLong(4) === expectedSum)
    // the feature extractor routes decodable bytes to the REAL pixel
    // path: band 0 of id=0 = mean of rows y=0..3 over 255
    val f0 = Multimodal.extractFeatures(media, dim = 4)
      .where(col("media_id") === 0L).head().getAs[scala.collection.Seq[Float]]("features")
    val band0 = (for { y <- 0 until 4; x <- 0 until 16 } yield (7 * x + 13 * y) % 256).sum
    assert(math.abs(f0(0) - band0.toDouble / (64 * 255.0)) < 1e-6)
    // …while non-decodable payloads keep the stub (features in [0,1) by
    // a different construction; just check the stub didn't crash/change shape)
    val stub = Multimodal.extractFeatures(Multimodal.syntheticMedia(docs), dim = 4)
    assert(stub.count() === docs.count())
  }

  test("real bilinear resize: 2x downscale = integer 4-neighbor average; identity is exact; JPEG dims survive") {
    def p(id: Long, x: Int, y: Int): Int = ((id * 31 + 7 * x + 13 * y) % 256).toInt
    val media = Multimodal.syntheticPngMedia(docs, fixedW = 16, fixedH = 16)
    // 2x downscale: sample point lands mid-cell, kernel degenerates to
    // (p00+p10+p01+p11+2)/4 — all-integer, replayed here per pixel
    val half = Multimodal.imageStats(Multimodal.resize(media, 8, 8))
      .where(col("media_id") === 3L).head()
    val expected = (for { y <- 0 until 8; x <- 0 until 8 } yield
      (p(3, 2 * x, 2 * y) + p(3, 2 * x + 1, 2 * y) + p(3, 2 * x, 2 * y + 1) + p(3, 2 * x + 1, 2 * y + 1) + 2) / 4)
      .sum.toLong
    assert(half.getLong(1) === 8L && half.getLong(2) === 8L && half.getLong(3) === 64L)
    assert(half.getLong(4) === expected)
    // identity resize through the lossless codec is pixel-exact
    val same = Multimodal.imageStats(Multimodal.resize(media, 16, 16))
      .where(col("media_id") === 0L).head()
    val srcSum = (for { y <- 0 until 16; x <- 0 until 16 } yield p(0, x, y)).sum.toLong
    assert(same.getLong(4) === srcSum)
    // JPEG: dimensions/pixel-count survive the lossy codec bit-exactly;
    // mean luminance of the smooth gradient stays within codec tolerance
    val jm = Multimodal.imageStats(Multimodal.syntheticJpegMedia(docs)).collect()
    assert(jm.nonEmpty)
    jm.foreach { row =>
      val id = row.getLong(0); val w = 16 + (id % 16).toInt; val h = 16 + (id % 8).toInt
      assert(row.getLong(1) === w.toLong && row.getLong(2) === h.toLong && row.getLong(3) === w.toLong * h)
      val truth = (for { y <- 0 until h; x <- 0 until w } yield (x * 255 / (w - 1) + y * 255 / (h - 1)) / 2).sum.toDouble
      assert(math.abs(row.getLong(4) - truth) / (w * h) < 4.0,
        s"JPEG mean-luminance drift too large for id=$id: got ${row.getLong(4)}, truth $truth")
    }
  }

  test("real WAV decode: PCM round trip recovers exact sample stats; non-audio is dropped") {
    val media = Multimodal.syntheticWavMedia(docs)
    val rows = Multimodal.audioStats(media).collect()
    assert(rows.nonEmpty)
    rows.foreach { row =>
      val id = row.getLong(0); val n = 800 + (id % 400).toInt
      assert(row.getLong(1) === 8000L && row.getLong(2) === 1L && row.getLong(3) === n.toLong)
      val sum = (0 until n).map(i => (id * 31 + 17L * i) % 2003L - 1001L).sum
      assert(row.getLong(4) === sum, s"PCM sample sum must round-trip exactly for id=$id")
    }
    // text-byte payloads decode as nothing: dropped, not mis-parsed
    assert(Multimodal.audioStats(Multimodal.syntheticMedia(docs)).count() === 0L)
  }

  test("audio activity: planted silence and speech segments get the right window verdicts") {
    // hand-built WAV: 320 silent samples (two windows), then 320 loud
    // ones (two windows), then a 100-sample loud tail (partial window)
    val n = 740
    val pcm = new Array[Byte](n * 2)
    (0 until n).foreach { i =>
      val s: Short = if (i < 320) 0 else 900
      pcm(2 * i) = (s & 0xff).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, n.toLong),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(
        7L, "audio", bos.toByteArray,
        org.apache.spark.sql.Row(0, 0, 0L, "audio/wav")))),
      Multimodal.syntheticWavMedia(docs).schema)
    val rows = Multimodal.audioActivity(media, windowSamples = 160, threshold = 600)
      .collect().sortBy(_.getLong(1))
    assert(rows.length === 5, s"ceil(740/160) windows expected, got ${rows.length}")
    assert(rows.map(_.getBoolean(4)).toSeq === Seq(false, false, true, true, true))
    assert(rows(0).getLong(3) === 0L && rows(2).getLong(3) === 900L * 160)
    assert(rows(4).getLong(2) === 100L && rows(4).getLong(3) === 900L * 100)
  }

  test("audio fingerprint: gain and trailing-silence invariance give TOTAL planted recall") {
    val base = Multimodal.syntheticWavMedia(docs, textured = true)
    val copies = Multimodal.syntheticWavMedia(docs, gain = 3, padSamples = 24,
      idOffset = 60000L, textured = true)
    val fb = Multimodal.audioFingerprint(base).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val fc = Multimodal.audioFingerprint(copies).collect()
      .map(r => (r.getLong(0) - 60000L) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(fb.nonEmpty && fb.keySet === fc.keySet)
    fb.foreach { case (id, (nw, afp)) =>
      // gain x3 scales every window energy; 24 zero samples pad the last
      // window and append silent windows — both preserve every bit
      assert(fc(id)._2 === afp, s"fingerprint must be gain/silence-invariant for id=$id")
      // re-derive the trim + duration-proportional window count: eff =
      // last nonzero mixer sample + 1, ws = max(16, ceil(eff/65)),
      // nw = ceil(eff/ws)
      val n = 800 + (id % 400).toInt
      val eff = (0 until n).reverse.find { i =>
        val m = (id * 31 + 17L * i) * 2654435761L
        ((m ^ (m >> 15) ^ (m >> 30)) % 2003L - 1001L) != 0L
      }.map(_ + 1).getOrElse(0)
      val ws = math.max(16, (eff + 64) / 65)
      assert(nw === ((eff + ws - 1) / ws).toLong,
        s"trim+proportional window count for id=$id")
      // gain preserves zero samples and the trailing pad trims away:
      // the padded-gain copy must reproduce the SAME count
      assert(fc(id)._1 === nw, s"padded copy must share the window count for id=$id")
    }
    // near-dup over the union finds EXACTLY the planted pairs, at hamming 0
    val pairs = Multimodal.audioNearDup(
        Multimodal.audioFingerprint(base.unionByName(copies)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    val planted = pairs.filter { case (a, b, _) => b == a + 60000L }
    assert(planted.length === fb.size, s"planted recall ${planted.length}/${fb.size}")
    assert(planted.forall(_._3 == 0), "planted re-encodes must land at hamming 0")
    // the mixer fixture keeps unrelated envelopes independent: nothing
    // else collides within the hamming budget
    assert(pairs.length === planted.length,
      s"unrelated pairs must stay far apart, got ${pairs.length - planted.length} extras")
    // incremental == one-shot restricted to the cross set (batch x stored)
    val inc = Multimodal.audioNearDupIncremental(
        Multimodal.audioFingerprint(copies), Multimodal.audioFingerprint(base))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(inc === pairs.map { case (a, b, d) => (math.max(a, b), math.min(a, b), d) }.toSet)
  }

  test("audio near-dup NEGATIVE: shared-prefix recordings must not pair") {
    // hand-built WAVs from independent mixer streams; fixture-scale
    // lengths so ws floors at 16 and the n_windows gate is live
    def mix(key: Long, i: Int): Long = {
      val m = (key * 31 + 17L * i) * 2654435761L
      (m ^ (m >> 15) ^ (m >> 30)) % 2003L - 1001L
    }
    def wav(id: Long, n: Int, sample: Int => Long): org.apache.spark.sql.Row = {
      val pcm = new Array[Byte](n * 2)
      var i = 0
      while (i < n) {
        val s = sample(i).toShort
        pcm(2 * i) = (s & 0xff).toByte
        pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
        i += 1
      }
      val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(
        new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, n.toLong),
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      org.apache.spark.sql.Row(id, "audio", bos.toByteArray,
        org.apache.spark.sql.Row(0, 0, n * 1000L / 8000L, "audio/wav"))
    }
    // A and B share their whole first 832 samples, then B runs on for
    // another 288 — different durations → different window counts →
    // the length gate must block the pair
    // C and D are SAME-length recordings sharing their first 416
    // samples (26 whole windows) with independent tails — equal
    // counts, guaranteed pigeonhole CANDIDATES via the shared low
    // segments, so only the hamming verify can reject them
    val rows = Seq(
      wav(1L, 832, i => mix(100L, i)),
      wav(2L, 1120, i => if (i < 832) mix(100L, i) else mix(200L, i)),
      wav(3L, 832, i => if (i < 416) mix(300L, i) else mix(301L, i)),
      wav(4L, 832, i => if (i < 416) mix(300L, i) else mix(302L, i)))
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(rows),
      Multimodal.syntheticWavMedia(docs).schema)
    val fps = Multimodal.audioFingerprint(media).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(fps.keySet === Set(1L, 2L, 3L, 4L))
    assert(fps(1L)._1 !== fps(2L)._1,
      "prefix-sharing recordings of different durations must differ in window count")
    assert(fps(3L)._1 === fps(4L)._1, "same-length pair must share the window count")
    // 26 shared prefix windows fix bits 0-24, so segments 0-2 of the
    // 8x8-bit pigeonhole match: C/D reach the verify as candidates
    assert(((fps(3L)._2 ^ fps(4L)._2) & 0xFFFFFFL) === 0L,
      "shared prefix must make C/D pigeonhole candidates (low segments equal)")
    val pairs = Multimodal.audioNearDup(
      Multimodal.audioFingerprint(media)).collect()
    assert(pairs.isEmpty,
      s"shared-prefix recordings must NOT pair, got ${pairs.toSeq}")
  }

  test("audio clip containment: every planted clip found at its exact window offset, nothing else") {
    val corpus = Multimodal.syntheticWavMedia(docs, textured = true)
    val clips = Multimodal.syntheticWavClip(docs, startWindow = 8, nWindows = 32, gain = 2)
    val hits = Multimodal.audioClipContainment(clips, corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val n = corpus.count()
    // total recall: each clip contained in its parent at offset 8 (the
    // cut point), all 8 grams aligned, despite the x2 gain
    val planted = hits.filter { case (c, p, off, ng) =>
      p == c - 90000L && off == 8L && ng == 8L }
    assert(planted.length === n, s"planted containment ${planted.length}/$n")
    // and nothing else: no cross-recording or wrong-offset full matches
    assert(hits.length === planted.length,
      s"unexpected extra containments: ${hits.filterNot(planted.contains).take(5).toSeq}")
    // a clip NOT cut from the corpus (different texture id-space via a
    // huge offset into untextured sawtooth audio) matches nothing
    val foreign = Multimodal.syntheticWavMedia(docs.limit(9), gain = 2, idOffset = 95000L)
    assert(Multimodal.audioClipContainment(foreign, corpus).count() === 0L,
      "foreign audio must not be claimed as contained")
  }

  test("overlapping-hop audio grams catch NON-window-aligned re-cuts the aligned grams miss") {
    val corpus = Multimodal.syntheticWavMedia(docs, textured = true)
    // cut at sample 136 = 8.5 windows (ws = 16): every window boundary
    // of the clip shifts half a window off the corpus grid
    val clips = Multimodal.syntheticWavClip(docs, nWindows = 32, gain = 2, startSamples = 136)
    val n = corpus.count()
    // NEGATIVE CONTROL: the aligned (hop = window) grams are blind to
    // the half-window cut — zero PLANTED pairs found. (Cross-recording
    // hits are not asserted away: the mixer's (id*31 + 17*i) stream
    // collides across ids 17k apart, so the fixture contains genuine
    // 1-sample-skew near-copies the operator is RIGHT to report.)
    val alignedHits = Multimodal.audioClipContainment(clips, corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!alignedHits.exists { case (c, p) => p == c - 90000L },
      s"aligned grams must miss every planted non-aligned cut, got ${alignedHits.toSeq}")
    // hop = ws/2 = 8: the cut offset (136 = 17 hops) lands back on the
    // corpus hop grid — TOTAL planted recall at hop-offset 17
    val hits = Multimodal.audioClipContainment(clips, corpus, hopSamples = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // clip full windows = (512-16)/8+1 = 63 -> 62 sign bits -> 39 grams
    val planted = hits.filter { case (c, p, off, ng) =>
      p == c - 90000L && off == 17L && ng == 39L }
    assert(planted.length === n, s"hop-gram recall ${planted.length}/$n: ${hits.take(5).toSeq}")
    // and the hop grams still catch ALIGNED cuts (offset 128 = 16 hops)
    val aligned = Multimodal.audioClipContainment(
        Multimodal.syntheticWavClip(docs, startWindow = 8, nWindows = 32, gain = 2),
        corpus, hopSamples = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(aligned.count { case (c, p, off) => p == c - 90000L && off == 16L } === n,
      "hop grams must subsume the aligned case")
  }

  test("audio containment sweep: every planted re-cut found against its longer original, nothing else") {
    // the corpus-SELF form: originals and their gain×2 re-cuts are PEER
    // recordings in one corpus; the sweep must pair each re-cut with
    // its longer original (length-ordered rule) at the cut offset
    val originals = Multimodal.syntheticWavMedia(docs, textured = true)
    val corpus = originals.unionByName(
      Multimodal.syntheticWavClip(docs, startWindow = 8, nWindows = 32, gain = 2))
    val hits = Multimodal.audioContainmentSweep(corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val n = originals.count()
    val planted = hits.filter { case (s, l, off, ng) =>
      l == s - 90000L && off == 8L && ng == 8L }
    assert(planted.length === n, s"planted sweep recall ${planted.length}/$n")
    assert(hits.length === planted.length,
      s"unexpected extra containments: ${hits.filterNot(planted.contains).take(5).toSeq}")
    // the longer side is never reported as contained in the shorter:
    // every emitted pair respects the length order
    assert(hits.forall { case (s, l, _, _) => s >= 90000L && l < 90000L })
  }

  test("video containment sweep: every planted re-cut found against its longer parent, nothing else") {
    val originals = Multimodal.syntheticTextureGifMedia(docs)
    val corpus = originals.unionByName(Multimodal.syntheticTextureGifClip(docs))
    val hits = Multimodal.videoContainmentSweep(Multimodal.videoFrameHashes(corpus))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val n = originals.count()
    val planted = hits.filter { case (s, l, off, nf) =>
      l == s - 150000L && off == 1L && nf == 2L }
    assert(planted.length === n, s"planted video sweep recall ${planted.length}/$n")
    assert(hits.length === planted.length,
      s"unexpected extra video containments: ${hits.filterNot(planted.contains).take(5).toSeq}")
    // frame-count order respected: the shorter side is always the re-cut
    assert(hits.forall { case (s, l, _, _) => s >= 150000L && l < 150000L })
  }

  test("video near-dup: brightness-shifted re-encodes matched frame-by-frame; no false pairs") {
    val base = Multimodal.syntheticTextureGifMedia(docs)
    val shifted = Multimodal.syntheticTextureGifMedia(docs, shift = 5, idOffset = 120000L)
    val pairs = Multimodal.videoNearDup(
        Multimodal.videoFrameHashes(base.unionByName(shifted)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val n = base.count()
    val planted = pairs.filter { case (a, b, _, _) => b == a + 120000L }
    // the every-frame-within-7 gate is strict: most planted pairs pass,
    // a shift-wrap-heavy frame can disqualify its video
    assert(planted.length >= (n * 7) / 10, s"planted recall ${planted.length}/$n")
    // matched pairs carry the full frame count of their original
    planted.foreach { case (a, _, nf, mh) =>
      assert(nf === 3 + (a % 3), s"frame count must ride along for $a")
      assert(mh <= 7L)
    }
    // the mixer fixture keeps unrelated videos apart: no cross pairs
    assert(pairs.length === planted.length,
      s"unexpected cross-video pairs: ${pairs.filterNot(planted.contains).take(5).toSeq}")
    // identical copies (shift 0) match at hamming 0 on every frame
    val exact = Multimodal.videoNearDup(Multimodal.videoFrameHashes(
        base.unionByName(Multimodal.syntheticTextureGifMedia(docs, idOffset = 120000L))))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(exact.length === n && exact.forall(_._3 == 0L),
      "exact re-encodes must match every frame at hamming 0")
    // incremental == one-shot restricted to the cross set (batch ids on
    // the left, stored originals on the right)
    val inc = Multimodal.videoNearDupIncremental(
        Multimodal.videoFrameHashes(shifted), Multimodal.videoFrameHashes(base))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(inc === pairs.map { case (a, b, nf, mh) => (b, a, nf, mh) }.toSet,
      "incremental must equal the one-shot cross set")
  }

  test("video clip containment: exact re-cuts found at the cut offset; shifted re-cuts mostly") {
    val corpus = Multimodal.videoFrameHashes(Multimodal.syntheticTextureGifMedia(docs))
    val n = docs.where(col("doc_id") % 3 === 2).count()
    // exact 2-frame re-cut of frames [1, 3): total recall at offset 1
    val exact = Multimodal.videoClipContainment(
        Multimodal.videoFrameHashes(Multimodal.syntheticTextureGifClip(docs)), corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val plantedE = exact.filter { case (c, p, off, nf) =>
      p == c - 150000L && off == 1L && nf == 2L }
    assert(plantedE.length === n, s"exact re-cut recall ${plantedE.length}/$n")
    assert(exact.length === plantedE.length,
      s"no spurious containments: ${exact.filterNot(plantedE.contains).take(5).toSeq}")
    // +5-brightness re-cut: each frame pair within the hamming budget
    // most of the time; any reported hit must still be the true parent
    // at the true offset
    val shifted = Multimodal.videoClipContainment(
        Multimodal.videoFrameHashes(Multimodal.syntheticTextureGifClip(docs, shift = 5)), corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(shifted.length >= (n * 7) / 10, s"shifted re-cut recall ${shifted.length}/$n")
    shifted.foreach { case (c, p, off) =>
      assert(p == c - 150000L && off == 1L, s"hit must be the parent at the cut: ($c, $p, $off)")
    }
  }

  test("real GIF multi-frame decode: every frame's pixels round-trip exactly; frame count honored") {
    val media = Multimodal.syntheticGifMedia(docs)
    val rows = Multimodal.frameStats(media).collect()
    assert(rows.nonEmpty)
    val byMedia = rows.groupBy(_.getLong(0))
    byMedia.foreach { case (id, frames) =>
      val w = 16 + (id % 16).toInt; val h = 16 + (id % 8).toInt
      assert(frames.length === 3 + (id % 3).toInt, s"frame count for id=$id")
      frames.foreach { row =>
        val f = row.getLong(1)
        assert(row.getLong(2) === w.toLong && row.getLong(3) === h.toLong)
        val expect = (for { y <- 0 until h; x <- 0 until w }
          yield (id * 31 + 7L * x + 13L * y + 29L * f) % 256L).sum
        assert(row.getLong(4) === expect, s"gray palette is lossless for id=$id frame=$f")
      }
    }
    // text-byte payloads have no image reader: dropped, not mis-parsed
    assert(Multimodal.frameStats(Multimodal.syntheticMedia(docs)).count() === 0L)
  }

  test("pixel dedup pairs identical images across codecs; byte dedup cannot") {
    val media = Multimodal.syntheticMixedCodecMedia(docs.limit(40))
    // the PNG and BMP blobs of a pair are different BYTES...
    val contents = media.select(col("media_id"), md5(col("content")).as("h")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(contents(0L) != contents(1L), "different codecs must yield different bytes")
    // ...but pixel dedup groups each (2j, 2j+1) pair
    val groups = Multimodal.pixelDedup(media).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(groups.keySet.forall(_ % 2 == 0), "keep lowest id of each pair")
    assert(groups.values.forall(_ == 2L), s"every group is the planted pair: $groups")
    assert(groups.size == 20)
  }

  test("multimodal resize: exact target length, meta rewritten, up/downsample both defined") {
    import spark.implicits._
    val media = Multimodal.syntheticMedia(docs)
    val r = Multimodal.resize(media, targetW = 16, targetH = 16)
    val rows = r.collect()
    assert(rows.length === docs.count())
    rows.foreach { row =>
      assert(row.getAs[Array[Byte]]("content").length === 256)
      val meta = row.getAs[org.apache.spark.sql.Row]("meta")
      assert(meta.getAs[Int]("width") === 16 && meta.getAs[Int]("height") === 16)
    }
    // upsample: 3-byte payload stretched to 8 repeats bytes, never crashes
    val tiny = Multimodal.resize(
      Seq((1L, "image", "abc".getBytes("UTF-8"))).toDF("media_id", "modality", "content")
        .withColumn("meta", struct(lit(1).as("width"), lit(3).as("height"),
          lit(0L).as("duration_ms"), lit("synthetic/v1").as("format"))),
      targetW = 2, targetH = 4)
    assert(new String(tiny.head().getAs[Array[Byte]]("content"), "UTF-8") === "aaabbbcc")
  }

  test("bm25 ranking matches a per-row reference computation") {
    import spark.implicits._
    val docs = Seq(
      (1L, "data data data hash scan and filler words beyond"),
      (2L, "data hash"),
      (3L, "scan only here with a longer tail of padding tokens stretching the length"),
      (4L, "nothing relevant whatsoever in this document"),
      (5L, "hash hash hash hash data scan")
    ).toDF("doc_id", "text")
    val terms = Seq("data", "hash", "scan")
    val got = TextAnalysis.bm25Rank(docs, terms, k = 10)
      .as[(Long, Double)].collect()

    // reference BM25 computed independently (plain Scala)
    val toks = Map(
      1L -> "data data data hash scan and filler words beyond",
      2L -> "data hash",
      3L -> "scan only here with a longer tail of padding tokens stretching the length",
      4L -> "nothing relevant whatsoever in this document",
      5L -> "hash hash hash hash data scan"
    ).view.mapValues(_.split("\\s+").toSeq).toMap
    val n = toks.size.toDouble
    val avgdl = toks.values.map(_.size).sum / n
    def df(t: String) = toks.values.count(_.contains(t)).toDouble
    def score(id: Long): Double = terms.map { t =>
      val tf = toks(id).count(_ == t).toDouble
      if (tf == 0) 0.0
      else math.log(1.0 + (n - df(t) + 0.5) / (df(t) + 0.5)) * tf * 2.2 /
        (tf + 1.2 * (0.25 + 0.75 * toks(id).size / avgdl))
    }.sum
    val want = toks.keys.toSeq.map(id => id -> BigDecimal(score(id)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      .filter(_._2 > 0).sortBy { case (id, s) => (-s, id) }
    assert(got.toSeq === want)
    // doc 4 matches no term and must be absent
    assert(!got.exists(_._1 == 4L))
  }

  test("jaccardPrefixJoin is EXACT: parity with the full-inverted-index join") {
    // near-dup corpus: the prefix-filtered join must find precisely the
    // pairs the exhaustive (uncapped full-index) path finds — the
    // no-false-negative certificate, at a threshold low enough that the
    // prefixes are a real fraction of each set, not the whole set
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1), r.getDouble(2))
    val exhaustive = Dedup.ngramJaccard(docsND, threshold = 0.5,
        maxDocFreq = Int.MaxValue, exhaustive = true)
      .collect().map(key).toSet
    val prefix = Dedup.jaccardPrefixJoin(docsND, threshold = 0.5)
      .collect().map(key).toSet
    assert(prefix === exhaustive)
    assert(prefix.nonEmpty) // the planted near-dups are in there
  }

  test("jaccardPrefixJoin: hot boilerplate shingles stay out of prefixes") {
    import spark.implicits._
    // 40 docs share a common run (a hot shingle in every doc) but differ
    // in unique tails — no pair is similar; the rarest-first prefix must
    // not explode candidates through the hot posting. We can't observe
    // candidate count directly; we assert the RESULT is empty (no false
    // positives survive verify) and the op completes with prefix len 1
    // per doc at t=0.9 (n=8 shingles → prefix = 8 - ceil(7.2) + 1 = 1).
    val docs = (1 to 40).map(i =>
      (i.toLong, s"common shared boiler plate line here u${i}a u${i}b u${i}c u${i}d")).toDF("doc_id", "text")
    val r = Dedup.jaccardPrefixJoin(docs, threshold = 0.9).collect()
    assert(r.isEmpty)
    // and identical docs still meet through their (identical) prefixes
    val dup = docs.unionByName(docs.select((col("doc_id") + 100).as("doc_id"), col("text")))
    val r2 = Dedup.jaccardPrefixJoin(dup, threshold = 0.9).collect()
    assert(r2.length === 40 && r2.forall(_.getDouble(2) === 1.0))
  }

  test("NaiveBayes learns a planted vocabulary split and is deterministic") {
    import spark.implicits._
    // class 'fruit' docs use fruit words, class 'auto' docs car words;
    // train on even ids, classify odd ids — separable, so every
    // prediction must be right
    val corpus = (0 until 40).map { i =>
      val cls = if (i % 4 < 2) "fruit" else "auto"
      val text = if (cls == "fruit") s"apple banana cherry plum x$i"
                 else s"engine wheel brake clutch x$i"
      (i.toLong, cls, text)
    }.toDF("doc_id", "lang", "text")
    val out = NaiveBayes.trainAndClassify(
        corpus.where(col("doc_id") % 2 === 0),
        corpus.where(col("doc_id") % 2 === 1))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(out.length === 20)
    assert(out.forall { case (_, label, pred, _) => label === pred })
    // scores are log-likelihoods: strictly negative, deterministic
    val again = NaiveBayes.trainAndClassify(
        corpus.where(col("doc_id") % 2 === 0),
        corpus.where(col("doc_id") % 2 === 1))
      .collect().map(r => (r.getLong(0), r.getString(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(out.map(x => (x._1, x._3, x._4)).toSeq === again.toSeq)
    assert(out.forall(_._4 < 0))
  }

  test("similarTopK ranks neighbors by exact jaccard with bounded k") {
    import spark.implicits._
    // base ~ near (1 token changed) > far (half replaced); unrelated off
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (3L, "alpha beta gamma delta epsilon mu nu xi omicron pi"),
      (4L, "totally different words nothing shared here at all folks okay")).toDF("doc_id", "text")
    val r = Dedup.similarTopK(docs, k = 3, threshold = 0.05)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getDouble(3)))
      .sortBy(t => (t._1, t._2))
    val byDoc = r.groupBy(_._1)
    // doc 1: nearest is 2, then 3; doc 4 appears nowhere
    assert(byDoc(1L).map(_._3).toSeq === Seq(2L, 3L))
    assert(byDoc(1L).head._4 > byDoc(1L).last._4)
    assert(!r.exists(x => x._1 == 4L || x._3 == 4L))
    // symmetry: 2's top neighbor is 1 with the identical score
    assert(byDoc(2L).head._3 === 1L)
    assert(byDoc(2L).head._4 === byDoc(1L).head._4)
    // k bound
    assert(byDoc.values.forall(_.length <= 3))
  }

  test("trendRegression recovers a planted line exactly; degenerate keys drop") {
    import spark.implicits._
    // y = 2·x + 1 with x in hours: slope 2, intercept 1, r² = 1
    val base = 1700000000L
    val lin = (0 until 24).map(h => ("lin", base + h * 3600L, 1.0 + 2.0 * h))
    val flat = (0 until 24).map(h => ("flat", base + h * 3600L, 7.5))
    val one = Seq(("single", base, 3.0))
    val df = (lin ++ flat ++ one).toDF("k", "sec", "v")
    val r = TimeSeries.trendRegression(df, "k", col("sec"), col("v"))
      .collect().map(x => (x.getString(0), x.getLong(1), x.getDouble(2), x.getDouble(3),
        if (x.isNullAt(4)) None else Some(x.getDouble(4))))
      .sortBy(_._1).toList
    assert(r.map(_._1) === List("flat", "lin")) // 'single' dropped: var(x)=0
    val lin_ = r.find(_._1 == "lin").get
    assert(lin_._3 === 2.0 && lin_._4 === 1.0 && lin_._5 === Some(1.0))
    // a constant series has zero slope and UNDEFINED r² (var(y) = 0 →
    // r² guarded to NULL, matching the oracle's CASE)
    val flat_ = r.find(_._1 == "flat").get
    assert(flat_._3 === 0.0 && flat_._4 === 7.5 && flat_._5 === None)
  }

  test("winsorize clips only the tails, bounds are the group's own percentiles") {
    import spark.implicits._
    // 1..100 in group a: p05 = 5.95, p95 = 95.05 (interpolated)
    val df = (1 to 100).map(i => ("a", i.toDouble)).toDF("grp", "v")
    val r = Profile.winsorize(df, "grp", "v", lo = 0.05, hi = 0.95)
      .collect().map(x => (x.getDouble(1), x.getDouble(4))).sortBy(_._1)
    assert(r.head === ((1.0, 5.95)))   // low tail clipped up
    assert(r.last === ((100.0, 95.05))) // high tail clipped down
    assert(r.find(_._1 == 50.0).get._2 === 50.0) // interior untouched
    val clipped = r.map(_._2)
    assert(clipped.min === 5.95 && clipped.max === 95.05)
  }

  test("outliers: planted spike flagged, symmetric inliers untouched") {
    import spark.implicits._
    // group 'a': tight cluster around 10 plus one spike at 1000;
    // group 'b': the same spike VALUE is normal (its own scale)
    val rows = (1 to 99).map(i => ("a", 10.0 + (i % 5))) ++ Seq(("a", 1000.0)) ++
      (1 to 50).map(i => ("b", 990.0 + (i % 21)))
    val df = rows.toDF("grp", "v")
    val out = Profile.outliers(df, "grp", "v", k = 3.5)
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(out.toSeq === Seq(("a", 1000.0)))
    // MAD = 0 guard: a constant group yields no finite flags, not a crash
    val const = (1 to 10).map(_ => ("c", 5.0)).toDF("grp", "v")
    assert(Profile.outliers(const, "grp", "v").collect().isEmpty)
  }

  test("profileApprox: exact counts, HLL distinct within rsd, no Expand in the plan") {
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val cols = Seq("event_id", "event_type", "user_id", "value")
    val exact = Profile.profile(ev, cols).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val approx = Profile.profileApprox(ev, cols).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    cols.foreach { c =>
      val (n, nn, nd) = exact(c); val (an, ann, and_) = approx(c)
      assert((an, ann) === ((n, nn)), s"$c: row/null counts must stay exact")
      // HLL++ at rsd 2%: allow 5 sigma
      assert(math.abs(and_ - nd) <= math.max(2.0, 0.10 * nd), s"$c: $and_ vs exact $nd")
    }
    // the scale contract: the exact twin pays one Expand replica per
    // column; the sketch twin must plan none
    def hasExpand(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.executedPlan.toString.contains("Expand")
    assert(hasExpand(Profile.profile(ev, cols)), "exact twin plans the Expand (sanity)")
    assert(!hasExpand(Profile.profileApprox(ev, cols)), "approx twin must not plan an Expand")
  }

  test("outliersApprox: sketch twin flags the same clear outliers as the exact pass") {
    import spark.implicits._
    val rows = (1 to 99).map(i => ("a", 10.0 + (i % 5))) ++ Seq(("a", 1000.0)) ++
      (1 to 50).map(i => ("b", 990.0 + (i % 21)))
    val df = rows.toDF("grp", "v")
    val approx = Profile.outliersApprox(df, "grp", "v", k = 3.5)
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(approx.toSeq === Seq(("a", 1000.0)),
      "far-from-boundary verdicts must agree with the exact twin")
    val const = (1 to 10).map(_ => ("c", 5.0)).toDF("grp", "v")
    assert(Profile.outliersApprox(const, "grp", "v").collect().isEmpty)
    // tolerance contract on real data: approx med within the GK rank
    // bound of the exact rank (accuracy >> n here, so <= 1 rank off)
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select(col("event_type").as("grp"), col("value").as("v"))
    val exactByGrp = ev.collect().map(r => r.getString(0) -> r.getDouble(1))
      .groupBy(_._1).map { case (g, vs) => g -> vs.map(_._2).sorted }
    val meds = Profile.outliersApprox(ev, "grp", "v", k = 0.0) // flag-all: read med per grp
      .select("grp", "med").distinct()
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    meds.foreach { case (g, m) =>
      val vs = exactByGrp(g)
      val target = 0.5 * (vs.length - 1)
      // med is an actual value with rank within tolerance of the target
      val ranks = vs.zipWithIndex.collect { case (v, i) if math.abs(v - m) < 1e-4 => i }
      assert(ranks.nonEmpty, s"approx med $m must be an actual value of group $g")
      val tol = math.max(2.0, 2.0 * vs.length / 10000.0)
      assert(ranks.exists(r => math.abs(r - target) <= tol),
        s"group $g: approx med rank ${ranks.mkString(",")} vs target $target")
    }
  }

  test("winsorizeApprox: band bounds are group values within the GK rank tolerance") {
    import spark.implicits._
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select(col("event_type").as("grp"), col("value").as("v"))
    val exactByGrp = ev.collect().map(r => r.getString(0) -> r.getDouble(1))
      .groupBy(_._1).map { case (g, vs) => g -> vs.map(_._2).sorted }
    val bounds = Profile.winsorizeApprox(ev, "grp", "v")
      .select("grp", "p_lo", "p_hi").distinct()
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    assert(bounds.nonEmpty)
    bounds.foreach { case (g, plo, phi) =>
      val vs = exactByGrp(g)
      val tol = math.max(2.0, 2.0 * vs.length / 10000.0)
      def rankClose(x: Double, p: Double): Boolean = {
        val ranks = vs.zipWithIndex.collect { case (v, i) if math.abs(v - x) < 1e-4 => i }
        ranks.nonEmpty && ranks.exists(r => math.abs(r - p * (vs.length - 1)) <= tol)
      }
      assert(rankClose(plo, 0.05), s"group $g p_lo $plo off the 5% rank band")
      assert(rankClose(phi, 0.95), s"group $g p_hi $phi off the 95% rank band")
    }
    // clip invariant holds regardless of sketch choice
    val clipped = Profile.winsorizeApprox(ev, "grp", "v").collect()
    clipped.foreach { r =>
      assert(r.getDouble(4) >= r.getDouble(2) - 1e-9 && r.getDouble(4) <= r.getDouble(3) + 1e-9)
    }
  }

  test("funnel: strict in-order chaining, fallout stages, absent without stage 1") {
    import spark.implicits._
    val ev = Seq(
      // user 1: full funnel in order
      (1L, 1L, "view"), (1L, 2L, "click"), (1L, 3L, "purchase"),
      // user 2: purchase BEFORE the first view -> doesn't count; click after view, no
      // purchase after the click -> stage 2
      (2L, 1L, "purchase"), (2L, 2L, "view"), (2L, 3L, "click"),
      // user 3: click precedes the first view -> stage 1 only
      (3L, 1L, "click"), (3L, 2L, "view"),
      // user 4: no view at all -> absent from the funnel
      (4L, 1L, "click"), (4L, 2L, "purchase"),
      // user 5: later view must NOT reopen the chain — first view binds
      (5L, 1L, "view"), (5L, 2L, "purchase"), (5L, 3L, "view"), (5L, 4L, "click"))
      .toDF("user_id", "seq", "et")
    val r = Funnel.funnel(ev, "user_id", col("seq"), col("et"),
        Seq("view", "click", "purchase"))
      .collect().map(x => x.getLong(0) -> ((
        x.getLong(1),
        if (x.isNullAt(2)) -1L else x.getLong(2),
        if (x.isNullAt(3)) -1L else x.getLong(3),
        x.getInt(4)))).toMap
    assert(r === Map(
      1L -> ((1L, 2L, 3L, 3)),
      2L -> ((2L, 3L, -1L, 2)),
      3L -> ((2L, -1L, -1L, 1)),
      5L -> ((1L, 4L, -1L, 2))))
    val counts = Funnel.funnelCounts(ev, "user_id", col("seq"), col("et"),
      Seq("view", "click", "purchase")).head()
    assert((counts.getLong(0), counts.getLong(1), counts.getLong(2)) === ((4L, 3L, 1L)))
  }

  test("typeAffinity: distinct sets, exact pair counts, lift above/below independence") {
    import spark.implicits._
    // 4 users: x∧y for 2 of them, x∧z never co-occur
    val ev = Seq(
      (1L, "x"), (1L, "x"), (1L, "y"),       // repeats collapse
      (2L, "x"), (2L, "y"),
      (3L, "x"), (4L, "z"))
      .toDF("user_id", "et")
    val r = Affinity.typeAffinity(ev, "user_id", col("et"))
      .collect().map(x => (x.getString(0), x.getString(1)) ->
        ((x.getLong(2), x.getLong(3), x.getLong(4)))).toMap
    // n_x=3, n_y=2, n_z=1, U=4; xy: n=2, support=2/4=0.5, lift=2*4/(3*2)=1.333..
    assert(r === Map(("x", "y") -> ((2L, 500000L, 1333333L))))
    assert(!r.contains(("x", "z")), "never-co-occurring pairs are absent")
  }

  test("topPaths: gap sessionization bounds n-grams; clock ties break on seq") {
    import spark.implicits._
    val ev = Seq(
      // key 1, session 1: a>b>c and b>c>d
      (1L, 0L, 1L, "a"), (1L, 1000L, 2L, "b"), (1L, 2000L, 3L, "c"), (1L, 3000L, 4L, "d"),
      // gap >= 10 min: new session, too short for a trigram — b>c>d must
      // NOT chain across the session boundary
      (1L, 700000L, 5L, "e"), (1L, 700100L, 6L, "f"),
      // key 2: same-millisecond events order by seq -> x>y>z, never y>x>z
      (2L, 0L, 10L, "x"), (2L, 0L, 11L, "y"), (2L, 100L, 12L, "z"))
      .toDF("user_id", "ms", "seq", "et")
    val r = Paths.topPaths(ev, "user_id", col("ms"), col("seq"), col("et"))
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r === Map("a>b>c" -> 1L, "b>c>d" -> 1L, "x>y>z" -> 1L))
  }

  test("retention: cohorts bind to the FIRST period; repeat same-day activity counts once") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00")), (1L, ts("2024-01-01 23:00:00")), // same day: once
      (1L, ts("2024-01-03 09:00:00")),                                   // day+2
      (2L, ts("2024-01-01 08:00:00")), (2L, ts("2024-01-02 08:00:00")),
      (3L, ts("2024-01-02 12:00:00"))                                    // later cohort
    ).toDF("user_id", "t")
    val r = Retention.retention(ev, "user_id", col("t"))
      .collect().map(x => (x.getLong(0), x.getLong(1)) -> x.getLong(2)).toMap
    val d1 = ts("2024-01-01 00:00:00").getTime
    val d2 = ts("2024-01-02 00:00:00").getTime
    assert(r === Map(
      (d1, 0L) -> 2L, // users 1,2 in the Jan-1 cohort
      (d1, 1L) -> 1L, // user 2 back the next day
      (d1, 2L) -> 1L, // user 1 back two days later
      (d2, 0L) -> 1L  // user 3 cohorts on Jan 2
    ))
  }

  private def grayPng(id: Long, w: Int, h: Int, f: (Int, Int) => Int) = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w) img.getRaster.setSample(x, y, 0, f(x, y))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    org.apache.spark.sql.Row(id, "image", bos.toByteArray,
      org.apache.spark.sql.Row(w, h, 0L, "image/png"))
  }

  test("perceptual dHash: wrap-free brightness shift is invariant; planted copies stay near") {
    // the defining perceptual property: +5 brightness with no mod-256
    // wrap preserves every neighbor comparison -> IDENTICAL hash
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        grayPng(1L, 20, 20, (x, y) => (7 * x + 3 * y) % 200),
        grayPng(2L, 20, 20, (x, y) => (7 * x + 3 * y) % 200 + 5))),
      Multimodal.mediaSchema)
    val ph = Multimodal.perceptualHash(media)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ph(1L) === ph(2L), "no-wrap brightness shift must not move the hash")
    // textured fixture: each +5-mod-256 copy lands within the radius of
    // its original for >= 90% of images (wrap-heavy outliers excepted)
    val base = Multimodal.syntheticTexturePngMedia(docs)
    val shifted = Multimodal.syntheticTexturePngMedia(docs, shift = 5, idOffset = 30000L)
    val pairs = Multimodal.perceptualNearDup(
        Multimodal.perceptualHash(base.unionByName(shifted)))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val nImgs = base.count()
    val recalled = pairs.count { case (a, b) => b == a + 30000L }
    assert(recalled >= (nImgs * 9) / 10, s"planted recall $recalled/$nImgs")
  }

  test("perceptualNearDup: pigeonhole candidates == exhaustive hamming pairs; hot buckets drop") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val baseHashes = (0L until 200L).map(i => (i, rnd.nextLong()))
    val near = (0L until 20L).map(i => // 1-bit-flipped copies of the first 20
      (1000L + i, baseHashes(i.toInt)._2 ^ (1L << rnd.nextInt(64))))
    val hashes = baseHashes ++ near
    val hs = hashes.toDF("media_id", "phash")
    val got = Multimodal.perceptualNearDup(hs, maxHamming = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val exhaustive = (for {
      Seq((a, ha), (b, hb)) <- hashes.combinations(2)
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 7
    } yield (math.min(a, b), math.max(a, b), d)).toSet
    assert(got === exhaustive, "segment join must be pigeonhole-complete and verified-exact")
    // a degenerate corpus (one hash everywhere) trips the cap -> no pairs
    val flat = (0L until 300L).map(i => (i, 0L)).toDF("media_id", "phash")
    assert(Multimodal.perceptualNearDup(flat, maxHamming = 7, maxBucket = 64).count() === 0L)
  }

  test("lineDedupIncremental: corpus boilerplate vanishes, batch-novel repeats survive") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "boiler\nalpha"), (2L, "boiler\nbeta"), (3L, "boiler\ngamma"))
      .toDF("doc_id", "text")
    val freq = TextAnalysis.lineFrequencyTable(corpus)
    // batch doc: corpus boilerplate + a line the BATCH repeats 3x but
    // the corpus has never seen — the policy is the corpus's, so it
    // survives; a corpus line under minDocs (alpha, nd=1) survives too
    val batch = Seq(
      (100L, "boiler\nnovel\nalpha\nnovel\nnovel")).toDF("doc_id", "text")
    val r = TextAnalysis.lineDedupIncremental(batch, freq, minDocs = 3).head()
    assert((r.getLong(1), r.getLong(2)) === ((5L, 4L)), s"got $r")
    assert(r.getString(3) === "novel\nalpha\nnovel\nnovel")
    // minDocs = 1: every corpus line is boilerplate, alpha drops too
    val strict = TextAnalysis.lineDedupIncremental(batch, freq, minDocs = 1).head()
    assert(strict.getString(3) === "novel\nnovel\nnovel")
  }

  test("containment percentile df cap: budget rule drops boilerplate postings, p=1 keeps all") {
    import spark.implicits._
    // 30 docs share an 8-token boilerplate prefix (its shingles have
    // df 31 with the quote); each tail is unique (df-1 shingles). A
    // quote of JUST the boilerplate matches everything — unless the
    // percentile cap classifies the boilerplate as boilerplate.
    val docs = ((1L to 30L).map(i =>
      (i, s"the quick brown fox jumps over the lazy dog number tail$i more$i here$i extra$i")) :+
      (100L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    // p = 1.0: cap = max df, nothing drops — the quote pairs with all 30
    val all = Dedup.containment(docs, threshold = 0.8, maxDocFreqPercentile = Some(1.0))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(all.count(_._2 == 100L) === 30, s"p=1 must keep the boilerplate postings, got ${all.length}")
    // p = 0.95: the df distribution is ~180 df-1 tail shingles + ~8
    // df-31 boilerplate shingles -> the p95 cap lands at 1 and the
    // boilerplate drops whole: the quote can no longer reach anything
    assert(Dedup.containment(docs, threshold = 0.8,
        maxDocFreqPercentile = Some(0.95)).count() === 0L,
      "the budget cap must classify corpus-wide shingles as boilerplate")
    // parity: p = 1.0 == an uncapped absolute run
    val uncapped = Dedup.containment(docs, threshold = 0.8, maxDocFreq = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(all.toSet === uncapped.toSet, "p=1 must equal the uncapped absolute form")
    // degenerate corpus (nothing shingles): percentile over an empty df
    // table is null — must degrade to the empty frame like the
    // absolute-cap arm, not NPE
    val blank = Seq((1L, "   "), (2L, "a b")).toDF("doc_id", "text")
    assert(Dedup.containment(blank, threshold = 0.8,
      maxDocFreqPercentile = Some(0.95)).count() === 0L,
      "empty/whitespace corpus must yield an empty pair frame under the percentile cap")
  }

  test("containmentIncremental == one-shot restricted to the cross set; hot shingles capped") {
    import spark.implicits._
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val batch = corpus.where(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 40000).as("doc_id"),
        concat_ws(" ", slice(TextAnalysis.tokens(col("text")), 1, 25)).as("text"))
    val sigs = Dedup.signatureTable(corpus)
    val got = Dedup.containmentIncremental(batch, sigs,
        threshold = 0.8, maxDocFreq = 100000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val oneShot = Dedup.containment(corpus.unionByName(batch),
        threshold = 0.8, maxDocFreq = 100000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => a < 40000L && b >= 40000L }
      .map { case (a, b, c) => (b, a, c) }.toSet
    assert(got === oneShot, "cross-set parity with the one-shot inverted index")
    assert(got.nonEmpty && got.forall { case (a, b, _) => a >= 40000L && b < 40000L })
    // a hot shingle over the df cap is dropped from candidates: with
    // maxDocFreq = 0 every matched posting is hot -> no pairs at all
    assert(Dedup.containmentIncremental(batch, sigs,
      threshold = 0.8, maxDocFreq = 0).count() === 0L)
  }

  test("substringSpansIncremental: batch spans vs stored grams, novel docs silent") {
    import spark.implicits._
    // stored corpus: two docs sharing nothing (distinct vocabularies)
    val corpus = Seq(
      (1L, (1 to 30).map(i => s"alpha$i").mkString(" ")),
      (2L, (1 to 30).map(i => s"beta$i").mkString(" "))).toDF("doc_id", "text")
    val stored = Dedup.gramTable(corpus, k = 15)
    // batch doc 100: 20 tokens of doc 1, then novel tail; doc 101: novel
    val batch = Seq(
      (100L, ((1 to 20).map(i => s"alpha$i") ++ Seq("zz1", "zz2")).mkString(" ")),
      (101L, (1 to 20).map(i => s"nova$i").mkString(" "))).toDF("doc_id", "text")
    val got = Dedup.substringSpansIncremental(batch, stored, k = 15)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // positions 1..6 hit (grams 7..8 straddle the novel tail) -> one
    // island: start 1, end 6+14 = 20, dup 20
    assert(got.toSeq === Seq((100L, 1L, 20L, 20L)), s"got ${got.toSeq}")
    // an empty batch-vs-stored intersection is silent, not an error
    assert(Dedup.substringSpansIncremental(
      batch.where(col("doc_id") === 101L), stored, k = 15).count() === 0L)
  }

  test("perceptualNearDupIncremental == one-shot restricted to the cross set") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val stored = (0L until 150L).map(i => (i, rnd.nextLong()))
    // new batch: 1-bit flips of the first 25 stored + 25 fresh randoms
    val batch = (0L until 25L).map(i =>
      (1000L + i, stored(i.toInt)._2 ^ (1L << rnd.nextInt(64)))) ++
      (25L until 50L).map(i => (1000L + i, rnd.nextLong()))
    val got = Multimodal.perceptualNearDupIncremental(
        batch.toDF("media_id", "phash"), stored.toDF("media_id", "phash"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // one-shot over the union, restricted to cross pairs, re-oriented
    // (incremental emits id_a = batch, id_b = stored)
    val oneShot = Multimodal.perceptualNearDup(
        (stored ++ batch).toDF("media_id", "phash"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .filter { case (a, b, _) => a < 1000L && b >= 1000L }
      .map { case (a, b, d) => (b, a, d) }.toSet
    assert(got === oneShot, "cross-set parity with the one-shot pass")
    // within-batch pairs are NOT this operator's job
    assert(got.forall { case (a, b, _) => a >= 1000L && b < 1000L })
    // degenerate stored corpus: the matched-bucket cap blinds the pair
    val flat = (0L until 300L).map(i => (i, 0L)).toDF("media_id", "phash")
    assert(Multimodal.perceptualNearDupIncremental(
      Seq((1000L, 0L)).toDF("media_id", "phash"), flat, maxBucket = 64).count() === 0L)
  }

  /** The two broadcast-fence arms every incremental stage runs. */
  private val fenceArms = Seq(4L * 1000 * 1000, 0L)

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** A 64-bit hash whose eight 8-bit pigeonhole segments (maxHamming 7)
    * hold values no other group `g < 32` uses in that segment, so every
    * segment bucket below holds exactly the rows placed in it. */
  private def segHash(g: Int): Long =
    (0 until 8).map(s => ((g * 8 + s).toLong & 0xffL) << (8 * s)).sum

  test("incremental image phash: both hot-bucket caps drop exactly their buckets (maxBucket = 2)") {
    import spark.implicits._
    val batch = Seq(
      101L -> segHash(1), 102L -> segHash(1), 103L -> segHash(1), // 3 batch ids in every bucket of hash 1
      104L -> segHash(2), 105L -> segHash(3), 106L -> segHash(4),
      107L -> segHash(5), 108L -> segHash(5)).toDF("media_id", "phash")
    val stored = Seq(
      1L -> segHash(1),
      2L -> segHash(2), 3L -> segHash(2), 4L -> segHash(2), // 3 stored ids in every bucket of hash 2
      5L -> segHash(3), 6L -> segHash(3),
      7L -> (segHash(4) ^ 1L), // one bit off: 7 shared segments, hamming 1
      8L -> segHash(5)).toDF("media_id", "phash")
    val want = Set((105L, 5L), (105L, 6L), (106L, 7L), (107L, 8L), (108L, 8L))
    for (fence <- fenceArms)
      assert(pairSet(Multimodal.perceptualNearDupIncremental(batch, stored, maxBucket = 2,
        maxBroadcastKeys = fence)) === want, s"fence $fence")
  }

  test("incremental audio: both hot-bucket caps drop exactly their (n_windows, segment) buckets (maxBucket = 2)") {
    import spark.implicits._
    val batch = Seq(
      (101L, 50L, segHash(1)), (102L, 50L, segHash(1)), (103L, 50L, segHash(1)),
      (104L, 50L, segHash(2)), (105L, 50L, segHash(3)), (106L, 50L, segHash(4)),
      (107L, 50L, segHash(5)), (108L, 50L, segHash(5)),
      (109L, 50L, segHash(6)), (110L, 50L, segHash(7))).toDF("media_id", "n_windows", "afp")
    val stored = Seq(
      (1L, 50L, segHash(1)),
      (2L, 50L, segHash(2)), (3L, 50L, segHash(2)), (4L, 50L, segHash(2)),
      (5L, 50L, segHash(3)), (6L, 50L, segHash(3)),
      (7L, 50L, segHash(4) ^ 1L), (8L, 50L, segHash(5)),
      (9L, 51L, segHash(6)), // same hash, other window count: the gate keeps them apart
      // hash 7 has 3 stored ids, but only 2 at the batch's window count:
      // the gate is part of the bucket, so that bucket is under the cap
      (10L, 50L, segHash(7)), (11L, 50L, segHash(7)), (12L, 51L, segHash(7)))
      .toDF("media_id", "n_windows", "afp")
    val want = Set((105L, 5L), (105L, 6L), (106L, 7L), (107L, 8L), (108L, 8L),
      (110L, 10L), (110L, 11L))
    for (fence <- fenceArms)
      assert(pairSet(Multimodal.audioNearDupIncremental(batch, stored, maxBucket = 2,
        maxBroadcastKeys = fence)) === want, s"fence $fence")
  }

  test("incremental video: both hot-bucket caps drop exactly their (frame, segment) buckets (maxBucket = 2)") {
    import spark.implicits._
    // two frames per video; frame f of group g hashes to segHash(2g + f)
    def video(id: Long, g: Int, flip0: Long = 0L) =
      Seq((id, 0L, segHash(2 * g) ^ flip0), (id, 1L, segHash(2 * g + 1)))
    val batch = (video(101L, 1) ++ video(102L, 1) ++ video(103L, 1) ++ video(104L, 2) ++
      video(105L, 3) ++ video(106L, 4) ++ video(107L, 5) ++ video(108L, 5) ++ video(109L, 6))
      .toDF("media_id", "frame_idx", "phash")
    val stored = (video(1L, 1) ++ video(2L, 2) ++ video(3L, 2) ++ video(4L, 2) ++
      video(5L, 3) ++ video(6L, 3) ++ video(7L, 4, flip0 = 1L) ++ video(8L, 5) ++
      // the frames of video 109 in the other order: the frame index is
      // part of the bucket, so no aligned frame pair shares one
      Seq((9L, 0L, segHash(13)), (9L, 1L, segHash(12))))
      .toDF("media_id", "frame_idx", "phash")
    val want = Set((105L, 5L), (105L, 6L), (106L, 7L), (107L, 8L), (108L, 8L))
    for (fence <- fenceArms)
      assert(pairSet(Multimodal.videoNearDupIncremental(batch, stored, maxBucket = 2,
        maxBroadcastKeys = fence)) === want, s"fence $fence")
  }

  test("incremental embedding: both hot-bucket caps drop exactly their band buckets, with and without seq (maxBucket = 2)") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    val vecs = (0 until 8).map(_ => Seq.fill(16)(rnd.nextGaussian().toFloat))
    val batch = Seq(101L -> 1, 102L -> 1, 103L -> 1, 104L -> 2, 105L -> 3, 106L -> 4,
      107L -> 5, 108L -> 5).map { case (id, g) => (id, vecs(g)) }.toDF("vec_id", "embedding")
    val stored = Seq(1L -> 1, 2L -> 2, 3L -> 2, 4L -> 2, 5L -> 3, 6L -> 3, 7L -> 6, 8L -> 5)
      .map { case (id, g) => (id, vecs(g)) }.toDF("vec_id", "embedding")
    val want = Set((105L, 5L), (105L, 6L), (107L, 8L), (108L, 8L))
    // 4 bands of 16 bits: unrelated random vectors share no band
    val sigs = stored.select(col("vec_id"),
      Similarity.hyperplaneSignature(col("embedding"), 64).as("sig"))
    val seqSigs = sigs.withColumn("seq", col("vec_id"))
    def byBucket(bs: Option[Seq[Long]]) =
      bs.fold(stored)(b => stored.where((col("vec_id") / 4).cast("long").isin(b: _*)))
    for (fence <- fenceArms) {
      assert(pairSet(Dedup.embeddingNearDupIncremental(batch, stored, bands = 4,
        bitsPerBand = 16, maxBucket = 2, maxBroadcastKeys = fence)) === want, s"no seq, fence $fence")
      assert(pairSet(Dedup.embeddingNearDupIncrementalFromSigs(batch, seqSigs, stored,
        bands = 4, bitsPerBand = 16, maxBucket = 2, maxBroadcastKeys = fence)) === want,
        s"seq, fence $fence")
      assert(pairSet(Dedup.embeddingNearDupIncrementalPruned(batch, seqSigs, 4L, byBucket,
        bands = 4, bitsPerBand = 16, maxBucket = 2, maxBroadcastKeys = fence)) === want,
        s"pruned, fence $fence")
    }
  }
}
