package graft.tools

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One-off 10× scale probe (round-13 verdict #4): generates sf1-SHAPED
  * documents (50k rows) and embeddings (20k rows) — scratch data under
  * /tmp, NOT committed testdata — and times the dedup / sweep / ANN
  * families on sf0.1 vs the generated sf1, reporting wall ratios plus
  * whether the scale guards actually ENGAGE at non-toy size (hot-bucket
  * drop counts, df-cap drop counts, the incremental fence's key count
  * vs its 4M flip point). Findings land in SCALING.md §"Round-13 scale
  * probe".
  *
  * The generator mirrors the driver fixture's shape: the SAME 31-word
  * vocabulary (read from the sf0.1 table, uniform draw), lengths in the
  * same [44, 577]-char band, embeddings 64-dim from the repo's standard
  * multiply + double-xor-fold mixer. Deterministic (seeded per row), so
  * reruns probe identical data.
  *
  * Round-14 modes (second arg): `skew` — planted-hot-key fixture to
  * observe the guards engaging ORGANICALLY at default caps (see
  * [[skewMode]]); `heaps` — Heaps-law + Zipf document generator
  * re-measuring the containment scaling under realistic vocabulary
  * growth (see [[heapsMode]]). Default: the r13 10× families probe. */
object ScaleProbe {
  private def mix(a: Long): Long = { val m = a * 2654435761L; m ^ (m >> 15) ^ (m >> 30) }

  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/graft-sf1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.local(cpus)
    import spark.implicits._

    val sf01 = "/root/testdata/sf0.1"
    val docPath = s"$outDir/documents.parquet"
    val embPath = s"$outDir/embeddings.parquet"

    // ---- generate sf1-shaped tables (idempotent) ----
    if (!new java.io.File(docPath).exists()) {
      val vocab = spark.read.parquet(s"$sf01/documents.parquet")
        .select(explode(split(col("text"), " ")).as("w"))
        .where(col("w") =!= "").distinct().collect().map(_.getString(0)).sorted
      val nDocs = 50000L
      val docRdd = spark.range(nDocs).rdd.map { i =>
        val target = 44 + (math.abs(mix(i * 7919L + 3)) % 534).toInt
        val sb = new StringBuilder
        var j = 0L
        while (sb.length < target) {
          if (sb.nonEmpty) sb.append(' ')
          sb.append(vocab((math.abs(mix(i * 131071L + j * 8191L + 17)) % vocab.length).toInt))
          j += 1
        }
        Row(i, sb.toString, Seq("en", "zh", "de", "fr", "es")((i % 5).toInt),
          s"src${i % 20}", sb.length.toLong)
      }
      spark.createDataFrame(docRdd, StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType))))
        .write.mode("overwrite").parquet(docPath)
      val nVecs = 20000L
      val embRdd = spark.range(nVecs).rdd.map { i =>
        val v = (0 until 64).map(d => ((math.abs(mix(i * 524287L + d * 4099L + 7)) % 2000) - 1000) / 1000.0f)
        Row(i, v, (i % 10).toInt)
      }
      spark.createDataFrame(embRdd, StructType(Seq(
        StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType))))
        .write.mode("overwrite").parquet(embPath)
      println(s"[probe] generated $nDocs docs / $nVecs vecs under $outDir")
    }

    def docsOf(dir: String) = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
    def embOf(dir: String) = spark.read.parquet(s"$dir/embeddings.parquet").select("vec_id", "embedding")

    def time(f: => Long): (Double, Long) = {
      val t0 = System.nanoTime(); val n = f; ((System.nanoTime() - t0) / 1e9, n)
    }

    // each family: the SAME code at both scales; df caps that are
    // corpus-relative scale with the corpus (the operational rule —
    // SCALING.md "knobs expected to change")
    def families(dir: String, label: String): Unit = {
      val docs = docsOf(dir)
      val emb = embOf(dir)
      val nDocs = docs.count(); val nVecs = emb.count()
      val perturbed = docs.select((col("doc_id") + 1000000).as("doc_id"),
        regexp_replace(col("text"), "^\\S+\\s+", "").as("text"))
      val docsND = docs.unionByName(perturbed)
      val results = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Long)]

      results("minhash_selfdup") = time {
        graft.ops.Dedup.minhashLsh(docsND, threshold = 0.5, maxBucket = 1000).count()
      }
      results("minhash_incremental") = time {
        val batch = perturbed.where(col("doc_id") % 10 === 0)
        graft.ops.Dedup.minhashLshIncremental(batch, docs, threshold = 0.5, maxBucket = 1000).count()
      }
      results("containment") = time {
        val quotes = docs.where(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 2000000).as("doc_id"),
            concat_ws(" ", slice(graft.ops.TextAnalysis.tokens(col("text")), 1, 25)).as("text"))
        graft.ops.Dedup.containment(docs.unionByName(quotes),
          threshold = 0.8, maxDocFreq = (nDocs / 25).toInt).count()
      }
      results("audio_sweep") = time {
        val corpus = graft.ops.Multimodal.syntheticWavMedia(docs, textured = true)
          .unionByName(graft.ops.Multimodal.syntheticWavClip(docs, gain = 2))
        graft.ops.Multimodal.audioContainmentSweep(corpus).count()
      }
      results("embed_neardup") = time {
        val copies = emb.where(col("vec_id") % 10 === 0)
          .select((col("vec_id") + 1000000).as("vec_id"),
            transform(col("embedding"), x => (x * lit(1.001)).cast("float")).as("embedding"))
        graft.ops.Dedup.embeddingNearDup(emb.unionByName(copies)).count()
      }
      results("ann_ivf_batch") = time {
        graft.ops.Similarity.ivfSearchBatch(emb, emb.where(col("vec_id") < 8), 5).count()
      }
      results("semdedup") = time {
        graft.ops.Dedup.semanticDedup(emb, nCells = math.max(16, (nVecs / 125).toInt)).count()
      }
      results.foreach { case (k, (sec, n)) =>
        println(f"""[probe] {"scale":"$label","family":"$k","sec":$sec%.2f,"rows":$n}""")
      }

      // ---- guard engagement, measured directly at this scale ----
      val sigs = graft.ops.Dedup.signatureTable(docsND).persist()
      val bandHot = sigs.select(explode(
          graft.functions.BandKeys.band_keys(col("sig"), 64, 16)).as("bk"))
        .groupBy("bk").count()
      val bandStats = bandHot.agg(max("count").as("mx"),
        sum(when(col("count") > 1000, col("count")).otherwise(0L)).as("dropped1000"),
        sum(when(col("count") > 64, col("count")).otherwise(0L)).as("dropped64")).head()
      println(s"[probe] {" + s""""scale":"$label","guard":"minhash_band_buckets","max_bucket":${bandStats.getLong(0)},"rows_dropped_at_cap64":${bandStats.getLong(2)},"rows_dropped_at_cap1000":${bandStats.getLong(1)}""" + "}")
      sigs.unpersist(blocking = false)
      val shingleDf = docsND.select(explode(
          graft.functions.HashedShingles.hashed_shingles(col("text"), 3)).as("sh"), col("doc_id"))
        .groupBy("sh").agg(countDistinct("doc_id").as("df"))
      val cap = (2 * nDocs / 25).toInt
      val dfStats = shingleDf.agg(max("df").as("mx"),
        count(when(col("df") > cap, 1)).as("hot")).head()
      println(s"[probe] {" + s""""scale":"$label","guard":"containment_df_cap","max_df":${dfStats.getLong(0)},"cap":$cap,"shingles_dropped":${dfStats.getLong(1)}""" + "}")
      val gramHot = graft.ops.Multimodal.audioGrams(
          graft.ops.Multimodal.syntheticWavMedia(docs, textured = true))
        .groupBy("gram").count()
        .agg(max("count").as("mx"), count(when(col("count") > 256, 1)).as("hot")).head()
      println(s"[probe] {" + s""""scale":"$label","guard":"audio_gram_buckets","max_bucket":${gramHot.getLong(0)},"cap":256,"grams_dropped":${gramHot.getLong(1)}""" + "}")
      // fence distance: the incremental batch's distinct band keys vs the 4M flip
      val batchKeys = graft.ops.Dedup.signatureTable(perturbed.where(col("doc_id") % 10 === 0))
        .select(explode(graft.functions.BandKeys.band_keys(col("sig"), 64, 16)).as("bk"))
        .select("bk").distinct().count()
      println(s"[probe] {" + s""""scale":"$label","guard":"incremental_fence","batch_band_keys":$batchKeys,"flip_at":4000000""" + "}")
    }

    args.lift(1).getOrElse("base") match {
      case "skew" => skewMode(spark)
      case "heaps" => heapsMode(spark)
      case "retract" => retractMode(spark)
      case "expire" => expireMode(spark)
      case "dbviews" => dbViewsMode(spark)
      case "coalesce" => coalesceMode(spark)
      case "bucketstats" => bucketStatsMode(spark)
      case "strstats" => strStatsMode(spark)
      case "drainmix" => drainMixMode(spark)
      case _ =>
        families(sf01, "sf0.1")
        families(outDir, "sf1")
    }
    spark.stop()
  }

  /** Round-15 mode `retract`: measures the PRUNED takedown's scale
    * shape — rewrite cost ∝ matched buckets, not corpus. Builds
    * seq-bucketed logs at 1× (50k rows) and 10× (500k rows), then takes
    * down four shapes per corpus: a CLUSTERED 0.1% (one uploader's
    * contiguous range — the common rights-holder case, few buckets), a
    * SCATTERED 0.1% (ids spread across the seq space — many buckets,
    * few rows each), a SCATTERED 10% (most buckets matched — the
    * worst case, approaching a full rewrite by necessity), and the
    * TAIL 0.1% (exercises the cursor-marker write and the never-regress
    * rule). All shapes run the same ONE-JOB pruned rewrite (staging
    * tree + atomic plan marker). Reports removed rows, matched/total
    * buckets, and wall seconds; the headline check is clustered-0.1%
    * rewrite work staying ∝ 1-2 buckets at both corpus sizes (the r14
    * full-rewrite form scaled with the corpus). */
  private def retractMode(spark: SparkSession): Unit = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("payload", StringType)))
    val bucketSize = 512L
    def deleteTree(f: java.io.File): Unit = {
      val fs = f.listFiles(); if (fs != null) fs.foreach(deleteTree); f.delete()
    }
    def buildLog(n: Long, dir: String): graft.core.ParquetLog = {
      deleteTree(new java.io.File(dir))
      val log = new graft.core.ParquetLog(spark, dir, schema, bucketSize = bucketSize)
      // ~120 B payload per row so bucket rewrites move real bytes
      log.append(spark.range(n).select(col("id").as("doc_id"),
        concat(lit("p"), col("id"), lit("-"),
          lpad(conv(col("id") * 2654435761L, 10, 16), 100, "x")).as("payload")))
      log
    }
    for (scale <- Seq(1L, 10L)) {
      val n = 50000L * scale
      val totalBuckets = (n + bucketSize - 1) / bucketSize
      val shapes: Seq[(String, org.apache.spark.sql.Column)] = Seq(
        ("clustered_0.1pct", col("doc_id") >= n / 2 && col("doc_id") < n / 2 + n / 1000),
        ("scattered_0.1pct", col("doc_id") % 1000 === 7),
        ("scattered_10pct", col("doc_id") % 10 === 3),
        ("tail_0.1pct", col("doc_id") >= n - n / 1000))
      shapes.foreach { case (label, cond) =>
        val dir = s"/tmp/graft-retract-probe/n$n-$label"
        val log = buildLog(n, dir)
        val matched = log.read.where(cond)
          .select((col("seq") / bucketSize).cast("long")).distinct().count()
        val t0 = System.nanoTime()
        val removed = log.retract(cond)
        val wall = (System.nanoTime() - t0) / 1e9
        println(s"[probe] {" +
          s""""mode":"retract","corpus":$n,"shape":"$label","removed":$removed,""" +
          s""""matched_buckets":$matched,"total_buckets":$totalBuckets,""" +
          f""""wall_s":$wall%.2f""" + "}")
        deleteTree(new java.io.File(dir))
      }
    }
    // the ADVICE scenario at its motivating scale: a MILLION-id
    // rights-holder list against the 500k-row corpus (500 ids present,
    // the rest unknown) — the DataFrame path must plan ONE join and
    // complete in rewrite-proportional time; an isin literal would
    // have built a million-node In expression before touching data
    val n = 500000L
    val dir = s"/tmp/graft-retract-probe/n$n-idlist"
    val log = buildLog(n, dir)
    val ids = spark.range(1000000L)
      .select((col("id") % 1000L * 1000L + col("id") / 1000L + 10000000L).as("doc_id"))
      .union(spark.range(500L).select((col("id") * 1000L + 7L).as("doc_id")))
    val t0 = System.nanoTime()
    val removed = log.retractIds(ids, "doc_id")
    val wall = (System.nanoTime() - t0) / 1e9
    println(s"[probe] {" +
      s""""mode":"retract","corpus":$n,"shape":"idlist_1M","removed":$removed,""" +
      f""""wall_s":$wall%.2f""" + "}")
    deleteTree(new java.io.File(dir))
  }

  /** Round-15 mode `expire`: retention's scale shape. The bucketed
    * [[graft.core.ParquetLog.expire]] is pure directory truncation —
    * whole-bucket membership is arithmetic on the directory NAME, counts
    * come from parquet footer metadata, and only the one boundary bucket
    * rewrites — so it reads NO corpus data; the equivalent predicate
    * form `retract(seq <= horizon)` is also rewrite-pruned but must run
    * its corpus-wide (narrow) match scan to find out what the directory
    * names already say. Probe: 1×/10× corpora × {tiny 0.1%, bulk 40%}
    * horizons, expire vs predicate-retract wall side by side. Headline
    * checks: tiny-horizon expire wall FLAT across 10× corpus growth;
    * bulk expire ∝ expired buckets (delete-only) while the predicate
    * form adds the scan. */
  private def expireMode(spark: SparkSession): Unit = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("payload", StringType)))
    val bucketSize = 512L
    def deleteTree(f: java.io.File): Unit = {
      val fs = f.listFiles(); if (fs != null) fs.foreach(deleteTree); f.delete()
    }
    def buildLog(n: Long, dir: String): graft.core.ParquetLog = {
      deleteTree(new java.io.File(dir))
      val log = new graft.core.ParquetLog(spark, dir, schema, bucketSize = bucketSize)
      log.append(spark.range(n).select(col("id").as("doc_id"),
        concat(lit("p"), col("id"), lit("-"),
          lpad(conv(col("id") * 2654435761L, 10, 16), 100, "x")).as("payload")))
      log
    }
    for (scale <- Seq(1L, 10L)) {
      val n = 50000L * scale
      val totalBuckets = (n + bucketSize - 1) / bucketSize
      for ((label, horizon) <- Seq(
          ("tiny_0.1pct", n / 1000 - 1), ("bulk_40pct", n * 2 / 5 - 1))) {
        val expiredBuckets = (horizon + 1) / bucketSize // whole dirs deleted
        val dirA = s"/tmp/graft-expire-probe/n$n-$label-expire"
        val logA = buildLog(n, dirA)
        val t0 = System.nanoTime()
        val removedA = logA.expire(horizon)
        val wallA = (System.nanoTime() - t0) / 1e9
        deleteTree(new java.io.File(dirA))
        val dirB = s"/tmp/graft-expire-probe/n$n-$label-retract"
        val logB = buildLog(n, dirB)
        val t1 = System.nanoTime()
        val removedB = logB.retract(col("seq") <= horizon)
        val wallB = (System.nanoTime() - t1) / 1e9
        deleteTree(new java.io.File(dirB))
        require(removedA == removedB, s"expire/retract disagree: $removedA vs $removedB")
        println(s"[probe] {" +
          s""""mode":"expire","corpus":$n,"shape":"$label","removed":$removedA,""" +
          s""""whole_buckets_deleted":$expiredBuckets,"total_buckets":$totalBuckets,""" +
          f""""wall_expire_s":$wallA%.2f,"wall_retract_form_s":$wallB%.2f""" + "}")
      }
    }
  }

  /** Round-16 mode `dbviews`: the db-level takedown's VIEW arm at
    * scale. r15's one perf-weak mark: with a folding view mounted,
    * every takedown paid a full-log rebuild per view (∝ corpus). The
    * keyed families now take takedowns in place — hashtable = purge +
    * affected-key recompute, SCD-2 = row delete, sum-reduce = inverse —
    * so the view pass should scale with the AFFECTED KEYS, while a
    * Welford stats view (no inverse, deliberately) still pays the
    * rebuild. Probe: 1×/10× corpora, a fixed 10-key takedown, wall for
    * a db mounting the three in-place families vs a db mounting the
    * rebuild-only stats view. Headline check: in-place wall near-flat
    * across 10× corpus growth; rebuild wall ∝ corpus. */
  private def dbViewsMode(spark: SparkSession): Unit = {
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("v", LongType)))
    def deleteTree(f: java.io.File): Unit = {
      val fs = f.listFiles(); if (fs != null) fs.foreach(deleteTree); f.delete()
    }
    for (scale <- Seq(1L, 10L)) {
      val n = 50000L * scale
      val keys = n / 50 // 50 versions per key
      // r17: the log/view pair is built INCREMENTALLY (5 absorbed
      // batches → a 5-delta chain per view) — the realistic shape, and
      // the one where the fused purge's job accounting matters: the
      // pre-r17 path rescanned the chain once for detection and once
      // for purge stats, then rewrote hit deltas one job each
      val nBatches = 5L
      // arm A: the three in-place families (hashtable recompute, SCD-2
      // row delete, sum inverse)
      val base = s"/tmp/graft-dbviews-probe/n$n"
      def buildDb(tag: String, mount: graft.core.FlumeDb => graft.core.FlumeDb): (graft.core.ParquetLog, graft.core.FlumeDb) = {
        Seq(s"$base-$tag", s"$base-$tag-ht", s"$base-$tag-dim")
          .foreach(d => deleteTree(new java.io.File(d)))
        val log = new graft.core.ParquetLog(spark, s"$base-$tag", schema, bucketSize = 4096L)
        val db = mount(new graft.core.FlumeDb(log))
        val per = n / nBatches
        (0L until nBatches).foreach { b =>
          db.append(spark.range(b * per, (b + 1) * per)
            .select((col("id") % keys).as("k"), col("id").as("v")))
        }
        (log, db)
      }
      // the last id block holds each key exactly once (ids cycle mod
      // keys), so these conds remove the CURRENT latest of 10 keys each
      val cond = col("k") < 10L && col("v") >= n - keys
      val cond2 = col("k") >= 10L && col("k") < 20L && col("v") >= n - keys
      val (_, dbA) = buildDb("a", db => db
        .use("ht", graft.views.PersistentHashtableView(s"$base-a-ht", "k"))
        .use("dim", graft.views.Scd2TableView(s"$base-a-dim", "k", "seq", Seq("v")))
        .use("sum", graft.views.SumReduceView("v")))
      val t0 = System.nanoTime()
      val removedA = dbA.retract(cond)
      val wallA = (System.nanoTime() - t0) / 1e9
      // a SECOND takedown in the same JVM: codegen/session warmup paid,
      // the steady per-takedown wall the fusion targets
      val t0b = System.nanoTime()
      val removedA2 = dbA.retract(cond2)
      val wallA2 = (System.nanoTime() - t0b) / 1e9
      dbA.close()
      // arm B: the rebuild-only fold (Welford stats — no inverse by
      // design), the r15 scale-killer shape
      val (_, dbB) = buildDb("b", db => db
        .use("stats", graft.views.StatsReduceView("v")))
      val t1 = System.nanoTime()
      val removedB = dbB.retract(cond)
      val wallB = (System.nanoTime() - t1) / 1e9
      val t1b = System.nanoTime()
      val removedB2 = dbB.retract(cond2)
      val wallB2 = (System.nanoTime() - t1b) / 1e9
      dbB.close()
      require(removedA == removedB && removedA == 10L && removedA2 == removedB2 && removedA2 == 10L,
        s"probe cond drifted: $removedA/$removedA2 vs $removedB/$removedB2 removed")
      println(s"[probe] {" +
        s""""mode":"dbviews","corpus":$n,"keys":$keys,"deltas":$nBatches,"affected_keys":10,""" +
        f""""wall_inplace_s":$wallA%.2f,"wall_inplace_warm_s":$wallA2%.2f,""" +
        f""""wall_rebuild_s":$wallB%.2f,"wall_rebuild_warm_s":$wallB2%.2f""" + "}")
      Seq(s"$base-a", s"$base-b", s"$base-a-ht", s"$base-a-dim")
        .foreach(d => deleteTree(new java.io.File(d)))
    }
  }

  /** Round-16 mode `bucketstats`: per-bucket [min,max] stats for
    * declared takedown keys. r15 named the predicate takedown's match
    * scan the last ∝-corpus surface (clustered 0.1%: 1.12 → 2.41 s
    * across 10×). With `statsColumns` the scan reads only overlapping
    * buckets. Probe: clustered 0.1% takedown, 1×/10× corpus, stats on
    * vs off. Headline check: stats-on wall FLAT across 10×. */
  private def bucketStatsMode(spark: SparkSession): Unit = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("payload", StringType)))
    def deleteTree(f: java.io.File): Unit = {
      val fs = f.listFiles(); if (fs != null) fs.foreach(deleteTree); f.delete()
    }
    for (scale <- Seq(1L, 10L); stats <- Seq(false, true)) {
      val n = 50000L * scale
      val dir = s"/tmp/graft-bstats-probe/n$n-$stats"
      deleteTree(new java.io.File(dir))
      val log = new graft.core.ParquetLog(spark, dir, schema, bucketSize = 512L,
        statsColumns = if (stats) Seq("doc_id") else Nil)
      log.append(spark.range(n).select(col("id").as("doc_id"),
        concat(lit("p"), col("id"), lit("-"),
          lpad(conv(col("id") * 2654435761L, 10, 16), 100, "x")).as("payload")))
      val cond = col("doc_id") >= n / 2 && col("doc_id") < n / 2 + n / 1000
      val t0 = System.nanoTime()
      val removed = log.retract(cond)
      val wall = (System.nanoTime() - t0) / 1e9
      println(s"[probe] {" +
        s""""mode":"bucketstats","corpus":$n,"stats":$stats,"removed":$removed,""" +
        f""""wall_s":$wall%.2f""" + "}")
      deleteTree(new java.io.File(dir))
    }
  }

  /** Round-17 mode `strstats`: the STRING twin of [[bucketStatsMode]] —
    * real corpora key on urls/uuids/hashes, which before r17 silently
    * fell back to the ∝-corpus match scan (the integral-only `require`).
    * Same clustered-0.1% shape with the doc id as a zero-padded URL
    * string; headline check: stats-on wall FLAT across 10×. */
  private def strStatsMode(spark: SparkSession): Unit = {
    val schema = StructType(Seq(
      StructField("url", StringType), StructField("payload", StringType)))
    def deleteTree(f: java.io.File): Unit = {
      val fs = f.listFiles(); if (fs != null) fs.foreach(deleteTree); f.delete()
    }
    for (scale <- Seq(1L, 10L); stats <- Seq(false, true)) {
      val n = 50000L * scale
      val dir = s"/tmp/graft-sstats-probe/n$n-$stats"
      deleteTree(new java.io.File(dir))
      val log = new graft.core.ParquetLog(spark, dir, schema, bucketSize = 512L,
        statsColumns = if (stats) Seq("url") else Nil)
      log.append(spark.range(n).select(
        format_string("https://example.com/doc-%012d", col("id")).as("url"),
        concat(lit("p"), col("id"), lit("-"),
          lpad(conv(col("id") * 2654435761L, 10, 16), 100, "x")).as("payload")))
      def u(i: Long) = f"https://example.com/doc-$i%012d"
      val cond = col("url") >= u(n / 2) && col("url") < u(n / 2 + n / 1000)
      val t0 = System.nanoTime()
      val removed = log.retract(cond)
      val wall = (System.nanoTime() - t0) / 1e9
      println(s"[probe] {" +
        s""""mode":"strstats","corpus":$n,"stats":$stats,"removed":$removed,""" +
        f""""wall_s":$wall%.2f""" + "}")
      deleteTree(new java.io.File(dir))
    }
  }

  /** Round-17 mode `drainmix`: the queue across MIXED id domains plus a
    * predicate (r16's drain refused mixed columns; predicates could not
    * enqueue at all). A 500k-row log with two id columns and a source
    * tag, a mounted posting index (so the per-pass VIEW cost is
    * visible), 9 requests: 4 doc_id lists + 4 media_id lists + 1
    * predicate. Arm A executes them as 9 sequential durable takedowns
    * (9 match scans, 9 rewrites, 9 view passes); arm B accepts all 9
    * and drains ONCE (one pruned match scan per domain + one predicate
    * scan → ONE seq-based rewrite + ONE view pass). Headline check:
    * drain ≈ Σ(one scan per domain) + one pass, not 9 passes. */
  private def drainMixMode(spark: SparkSession): Unit = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("media_id", LongType),
      StructField("src", StringType), StructField("payload", StringType)))
    def deleteTree(f: java.io.File): Unit = {
      val fs = f.listFiles(); if (fs != null) fs.foreach(deleteTree); f.delete()
    }
    val n = 500000L
    def buildDb(tag: String): (graft.core.ParquetLog, graft.core.FlumeDb) = {
      val dir = s"/tmp/graft-drainmix-$tag"
      val idxDir = s"/tmp/graft-drainmix-$tag-idx"
      deleteTree(new java.io.File(dir)); deleteTree(new java.io.File(idxDir))
      val log = new graft.core.ParquetLog(spark, dir, schema, bucketSize = 512L)
      log.append(spark.range(n).select(col("id").as("doc_id"),
        (col("id") + 10000000L).as("media_id"),
        concat(lit("s"), pmod(col("id"), lit(97L))).as("src"),
        concat(lit("p"), col("id"), lit("-"),
          lpad(conv(col("id") * 2654435761L, 10, 16), 100, "x")).as("payload")))
      (log, new graft.core.FlumeDb(log)
        .use("idx", graft.views.PersistentIndexView.onColumn(idxDir, "src")))
    }
    def docReq(k: Long) = // 50 scattered doc ids per request
      spark.range(50L).select((col("id") * 10000L + k * 7L + 3L).as("doc_id"))
    def mediaReq(k: Long) =
      spark.range(50L).select((col("id") * 10000L + k * 11L + 10000005L).as("media_id"))
    val predSql = "src = 's13' AND doc_id % 5 = 0"
    // arm A: 9 sequential durable takedowns (the pre-queue shape)
    val (_, dbA) = buildDb("a")
    val t0 = System.nanoTime()
    var removedA = 0L
    (0L until 4L).foreach(k => removedA += dbA.retractIds(docReq(k), "doc_id", "/tmp/graft-drainmix-a-i"))
    (0L until 4L).foreach(k => removedA += dbA.retractIds(mediaReq(k), "media_id", "/tmp/graft-drainmix-a-i"))
    removedA += dbA.retract(expr(predSql), "/tmp/graft-drainmix-a-i")
    val wallA = (System.nanoTime() - t0) / 1e9
    dbA.close()
    // arm B: accept all 9 durably, ONE mixed drain
    val (_, dbB) = buildDb("b")
    val q = "/tmp/graft-drainmix-q"
    deleteTree(new java.io.File(q))
    val t1 = System.nanoTime()
    (0L until 4L).foreach(k => dbB.enqueueRetractIds(docReq(k), "doc_id", q))
    (0L until 4L).foreach(k => dbB.enqueueRetractIds(mediaReq(k), "media_id", q))
    dbB.enqueueRetractWhere(predSql, q)
    val acceptWall = (System.nanoTime() - t1) / 1e9
    val t2 = System.nanoTime()
    val removedB = dbB.drainRetractQueue(q)
    val drainWall = (System.nanoTime() - t2) / 1e9
    dbB.close()
    require(removedA == removedB, s"arms disagree: $removedA vs $removedB")
    println(s"[probe] {" +
      s""""mode":"drainmix","corpus":$n,"requests":9,"domains":3,"removed":$removedA,""" +
      f""""wall_sequential_s":$wallA%.2f,"wall_accept_s":$acceptWall%.2f,""" +
      f""""wall_drain_s":$drainWall%.2f""" + "}")
    Seq("/tmp/graft-drainmix-a", "/tmp/graft-drainmix-a-idx", "/tmp/graft-drainmix-b",
      "/tmp/graft-drainmix-b-idx", q).foreach(d => deleteTree(new java.io.File(d)))
  }

  /** Round-16 mode `coalesce`: the takedown QUEUE's saving. K pending
    * requests executed one by one pay K match scans + K rewrites; the
    * queue drains them as ONE merged pass. Probe: a 500k-row log,
    * 10 requests of 50 scattered ids each — sequential durable
    * takedowns vs enqueue-all + one drain. Headline check: drain wall
    * ≈ one single-pass wall, not 10×. */
  private def coalesceMode(spark: SparkSession): Unit = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("payload", StringType)))
    def deleteTree(f: java.io.File): Unit = {
      val fs = f.listFiles(); if (fs != null) fs.foreach(deleteTree); f.delete()
    }
    val n = 500000L
    def buildLog(dir: String): graft.core.ParquetLog = {
      deleteTree(new java.io.File(dir))
      val log = new graft.core.ParquetLog(spark, dir, schema, bucketSize = 512L)
      log.append(spark.range(n).select(col("id").as("doc_id"),
        concat(lit("p"), col("id"), lit("-"),
          lpad(conv(col("id") * 2654435761L, 10, 16), 100, "x")).as("payload")))
      log
    }
    def request(k: Long) = // 50 scattered ids per request
      spark.range(50L).select((col("id") * 10000L + k * 7L + 3L).as("doc_id"))
    val base = "/tmp/graft-coalesce-probe"
    // arm A: 10 sequential durable takedowns (the pre-queue shape)
    val logA = buildLog(s"$base-a")
    val dbA = new graft.core.FlumeDb(logA)
    val t0 = System.nanoTime()
    val removedA = (0L until 10L).map(k =>
      dbA.retractIds(request(k), "doc_id", s"$base-a-intent")).sum
    val wallA = (System.nanoTime() - t0) / 1e9
    dbA.close()
    // arm B: accept all 10, ONE merged drain
    val logB = buildLog(s"$base-b")
    val dbB = new graft.core.FlumeDb(logB)
    val t1 = System.nanoTime()
    (0L until 10L).foreach(k => dbB.enqueueRetractIds(request(k), "doc_id", s"$base-q"))
    val acceptWall = (System.nanoTime() - t1) / 1e9
    val t2 = System.nanoTime()
    val removedB = dbB.drainRetractQueue(s"$base-q")
    val drainWall = (System.nanoTime() - t2) / 1e9
    dbB.close()
    require(removedA == removedB, s"arms disagree: $removedA vs $removedB")
    println(s"[probe] {" +
      s""""mode":"coalesce","corpus":$n,"requests":10,"removed":$removedA,""" +
      f""""wall_sequential_s":$wallA%.2f,"wall_accept_s":$acceptWall%.2f,""" +
      f""""wall_drain_s":$drainWall%.2f""" + "}")
    Seq(s"$base-a", s"$base-b", s"$base-q").foreach(d => deleteTree(new java.io.File(d)))
  }

  /** Round-14 mode `skew`: a PLANTED-skew fixture — the hot-key shapes
    * the uniform fixtures can't produce (SCALING.md r13 named this the
    * open gap) — to record the first ORGANIC guard engagements at the
    * DEFAULT caps:
    *  - 30% of documents share a 16-word boilerplate prefix (4-word
    *    unique tail) → hot minhash band buckets AND corpus-wide
    *    boilerplate shingles;
    *  - one "viral" audio clip re-shared 600× → hot audio gram buckets;
    *  - 30% of embeddings are perturbations of ONE template vector →
    *    one hot hyperplane band bucket;
    *  - the uncapped band self-join under AQE with byte thresholds
    *    scaled to probe size (the 5× skew FACTOR left at its default —
    *    the organic signal; 256 MB-class byte floors assume cluster
    *    partitions) → observe the runtime skew split fire. */
  private def skewMode(spark: SparkSession): Unit = {
    import spark.implicits._
    val nDocs = 20000L
    val boiler = (1 to 16).map(i => s"boiler$i").mkString(" ")
    val docRdd = spark.range(nDocs).rdd.map { i =>
      val tail = (0 until 4).map(j => s"u${math.abs(mix(i * 131071L + j * 8191L + 29))}").mkString(" ")
      val text = if (i % 10 < 3) s"$boiler $tail"
        else (0 until 20).map(j => s"u${math.abs(mix(i * 524287L + j * 4099L + 31))}").mkString(" ")
      Row(i, text)
    }
    val docs = spark.createDataFrame(docRdd, StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))).persist()

    // 1. minhash band buckets at the DEFAULT caps (self-dup 1000 /
    // incremental 64): boilerplate docs share ~80% of shingles, so
    // their band keys pile into shared buckets
    val sigs = graft.ops.Dedup.signatureTable(docs).persist()
    val bandCounts = sigs.select(explode(
        graft.functions.BandKeys.band_keys(col("sig"), 64, 16)).as("bk"))
      .groupBy("bk").count().persist()
    val bs = bandCounts.agg(max("count").as("mx"),
      count(when(col("count") > 1000, 1)).as("hot1000"),
      sum(when(col("count") > 1000, col("count")).otherwise(0L)).as("rows1000")).head()
    println(s"[probe] {" + s""""mode":"skew","guard":"minhash_band_buckets","max_bucket":${bs.getLong(0)},"hot_buckets_at_cap1000":${bs.getLong(1)},"rows_dropped_at_cap1000":${bs.getLong(2)}""" + "}")
    val (selfSec, selfPairs) = {
      val t0 = System.nanoTime()
      val n = graft.ops.Dedup.minhashLshFromSigs(sigs, threshold = 0.5, maxBucket = 1000).count()
      ((System.nanoTime() - t0) / 1e9, n)
    }
    println(f"""[probe] {"mode":"skew","family":"minhash_selfdup_capped","sec":$selfSec%.2f,"pairs":$selfPairs}""")

    // 2. containment df guards on the planted boilerplate: absolute
    // default 100 AND the percentile rule both classify it
    val shingleDf = docs.select(explode(
        graft.functions.HashedShingles.hashed_shingles(col("text"), 3)).as("sh"), col("doc_id"))
      .groupBy("sh").agg(countDistinct("doc_id").as("df")).persist()
    val p99 = shingleDf.agg(expr("percentile(df, 0.99)")).head().getDouble(0)
    val dfs = shingleDf.agg(max("df").as("mx"),
      count(when(col("df") > 100, 1)).as("hot_abs100"),
      count(when(col("df") > p99, 1)).as("hot_p99")).head()
    println(s"[probe] {" + s""""mode":"skew","guard":"containment_df_cap","max_df":${dfs.getLong(0)},"cap_p99":$p99,"shingles_dropped_abs100":${dfs.getLong(1)},"shingles_dropped_p99":${dfs.getLong(2)}""" + "}")
    shingleDf.unpersist(blocking = false)

    // 3. viral audio clip: ONE clip of recording 2, re-shared 600× under
    // distinct media ids — its grams bucket at ~601 vs the 256 cap.
    // (48 windows → a 47-sign string → 24 grams of 24 windows each; a
    // clip shorter than gramWindows+1 windows has NO grams at all)
    val one = graft.ops.Multimodal.syntheticWavClip(
      docs.where(col("doc_id") === 2), nWindows = 48)
    val viral = one.crossJoin(spark.range(600).select(col("id").as("cp")))
      .select((col("media_id") + col("cp")).as("media_id"),
        col("modality"), col("content"), col("meta"))
    val corpus = graft.ops.Multimodal.syntheticWavMedia(
      docs.where(col("doc_id") < 2000), textured = true).unionByName(viral)
    val gs = graft.ops.Multimodal.audioGrams(corpus)
      .groupBy("gram").count()
      .agg(max("count").as("mx"), count(when(col("count") > 256, 1)).as("hot256")).head()
    println(s"[probe] {" + s""""mode":"skew","guard":"audio_gram_buckets","max_bucket":${gs.getLong(0)},"cap":256,"hot_grams_at_cap256":${gs.getLong(1)}""" + "}")

    // 4. embedding template cluster: 30% of vectors perturb ONE
    // template → a hyperplane band bucket of ~6000 vs the 1024 cap.
    // Every shared band of a template pair is hot, so banding's
    // any-cold-band rescue cannot save those pairs — the honest trade;
    // a 30%-of-corpus near-identical cluster is SemDeDup's job, not
    // pairwise near-dup's
    val nVecs = 20000L
    val embRdd = spark.range(nVecs).rdd.map { i =>
      val v =
        if (i % 10 < 3)
          (0 until 64).map(d => (1000 - (d % 7) * 100 +
            (math.abs(mix(i * 7919L + d * 13L + 5)) % 3).toInt) / 1000.0f)
        else (0 until 64).map(d =>
          ((math.abs(mix(i * 524287L + d * 4099L + 7)) % 2000) - 1000) / 1000.0f)
      Row(i, v)
    }
    val emb = spark.createDataFrame(embRdd, StructType(Seq(
      StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType))))).persist()
    val esig = emb.select(
      graft.ops.Similarity.hyperplaneSignature(col("embedding"), 32).as("sig"))
    val ebs = esig.select(explode(array((0 until 4).map(b =>
        shiftrightunsigned(col("sig"), b * 8).bitwiseAND(lit(255L)) + lit(b * 256L)): _*)).as("bk"))
      .groupBy("bk").count()
      .agg(max("count").as("mx"), count(when(col("count") > 1024, 1)).as("hot1024")).head()
    println(s"[probe] {" + s""""mode":"skew","guard":"embedding_band_buckets","max_bucket":${ebs.getLong(0)},"hot_buckets_at_cap1024":${ebs.getLong(1)}""" + "}")

    // 5. AQE skew split: the UNCAPPED band self-join over a corpus
    // where the template cluster DOMINATES — 6k identical 60-word docs
    // (identical signature → 16 band buckets of 6k wide rows each) over
    // a 2k uniform background, so the hot partitions are >5× the median
    // (the default skew FACTOR, the organic signal). Broadcast off to
    // force the sort-merge path; the BYTE floors are scaled probe-sized
    // (cluster defaults assume 256 MB-class partitions).
    val conf = spark.conf
    val saved = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
      .map(k => k -> scala.util.Try(conf.get(k)).toOption).toMap
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "256k")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64k")
      val template = (1 to 60).map(i => s"tmpl$i").mkString(" ")
      val skewRdd = spark.range(7000L).rdd.map { i =>
        val text = if (i < 6000) template
          else (0 until 20).map(j => s"u${math.abs(mix(i * 524287L + j * 4099L + 41))}").mkString(" ")
        Row(i, text)
      }
      val skewDocs = spark.createDataFrame(skewRdd, StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType))))
      val sigsSkew = graft.ops.Dedup.signatureTable(skewDocs).persist()
      // per-row DISTINCT high-entropy payload (16 different md5s, no
      // repetition): identical or repetitive rows compress to nothing
      // in the shuffle blocks and the skew detector — which reads
      // COMPRESSED map-output sizes — would see no oversized partition;
      // real skewed fact rows carry distinct content. Only the LEFT
      // side carries it: a partition skewed on BOTH sides of the same
      // join is one OptimizeSkewedJoin refuses to split
      val payload = expr("concat(" +
        (0 until 16).map(j => s"md5(cast(id + ${j * 1000000} as string))").mkString(",") + ")")
      val banded = sigsSkew.select(col("id"), payload.as("payload"),
        explode(graft.functions.BandKeys.band_keys(col("sig"), 64, 16)).as("bk"))
      val joined = banded.select(col("bk"), col("id").as("ida"), col("payload"))
        .join(banded.select(col("bk"), col("id").as("idb")), Seq("bk"))
        .where(col("ida") < col("idb"))
      val t0 = System.nanoTime()
      // collect() runs THIS dataset's own QueryExecution (a write or a
      // df.count() would plan a separate one and leave this plan
      // unfinalized, isFinalPlan=false — no skew info to read)
      // the aggregate must CONSUME the payload or column pruning strips
      // it before the shuffle and no partition is big enough to be skewed
      val cnt = joined.agg(count(lit(1)).as("pairs"),
        sum(length(col("payload"))).as("payload_bytes"))
      val n = cnt.collect()(0).getLong(0)
      val sec = (System.nanoTime() - t0) / 1e9
      val plan = cnt.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan.toString
        case p => p.toString
      }
      if (sys.env.contains("SPARK_GRAFT_PROBE_DEBUG")) println(plan.take(8000))
      val skewFired = plan.contains("skew=true")
      println(f"""[probe] {"mode":"skew","guard":"aqe_skew_join","fired":$skewFired,"pairs_uncapped":$n,"sec":$sec%.2f}""")
      sigsSkew.unpersist(blocking = false)
    } finally saved.foreach { case (k, v) =>
      v.fold(conf.unset(k))(conf.set(k, _))
    }
    Seq(bandCounts, sigs, docs, emb).foreach(_.unpersist(blocking = false))
  }

  /** Round-14 mode `heaps`: the containment ratio re-measured under
    * REALISTIC vocabulary growth. The r13 probe drew a FIXED 31-word
    * vocab uniformly, making every df grow ∝ N (quadratic candidates by
    * construction). Real corpora follow Heaps' law — vocab ∝ N^β,
    * β ≈ 0.5 — with Zipf-distributed word frequencies; this generator
    * does both (V = ⌈8√N⌉, rank drawn log-uniformly ⇒ P(rank) ∝ 1/rank)
    * and re-runs containment at 5k vs 50k docs under (a) the r13 WRONG
    * rule (absolute cap ∝ corpus), (b) the operating rule (percentile
    * cap), (c) a fixed absolute cap. */
  private def heapsMode(spark: SparkSession): Unit = {
    def gen(n: Long): DataFrame = {
      val vocabSize = math.max(31, math.ceil(8.0 * math.sqrt(n.toDouble)).toInt)
      val rdd = spark.range(n).rdd.map { i =>
        val words = (0 until 20).map { j =>
          val u = (math.abs(mix(i * 131071L + j * 8191L + 23)) % 1000000L) / 1e6
          val rank = math.min(vocabSize, math.max(1, math.pow(vocabSize.toDouble, u).toInt))
          s"w$rank"
        }
        Row(i, words.mkString(" "))
      }
      spark.createDataFrame(rdd, StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType))))
    }
    def run(n: Long, label: String): Unit = {
      val docs = gen(n).persist()
      val quotes = docs.where(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 2000000).as("doc_id"),
          concat_ws(" ", slice(graft.ops.TextAnalysis.tokens(col("text")), 1, 10)).as("text"))
      val corpus = docs.unionByName(quotes).persist()
      def time(f: => Long): (Double, Long) = {
        val t0 = System.nanoTime(); val r = f; ((System.nanoTime() - t0) / 1e9, r)
      }
      val (sA, nA) = time(graft.ops.Dedup.containment(corpus,
        threshold = 0.8, maxDocFreq = (n / 25).toInt).count())
      println(f"""[probe] {"mode":"heaps","scale":"$label","cap":"absolute_corpus_proportional","sec":$sA%.2f,"pairs":$nA}""")
      val (sP, nP) = time(graft.ops.Dedup.containment(corpus,
        threshold = 0.8, maxDocFreqPercentile = Some(0.99)).count())
      println(f"""[probe] {"mode":"heaps","scale":"$label","cap":"percentile_p99","sec":$sP%.2f,"pairs":$nP}""")
      val (sF, nF) = time(graft.ops.Dedup.containment(corpus,
        threshold = 0.8, maxDocFreq = 100).count())
      println(f"""[probe] {"mode":"heaps","scale":"$label","cap":"absolute_100","sec":$sF%.2f,"pairs":$nF}""")
      val dfTop = corpus.select(explode(
          graft.functions.HashedShingles.hashed_shingles(col("text"), 3)).as("sh"), col("doc_id"))
        .groupBy("sh").agg(countDistinct("doc_id").as("df"))
        .agg(max("df").as("mx"), count(lit(1)).as("vocab_shingles")).head()
      println(s"[probe] {" + s""""mode":"heaps","scale":"$label","max_df":${dfTop.getLong(0)},"distinct_shingles":${dfTop.getLong(1)}""" + "}")
      Seq(corpus, docs).foreach(_.unpersist(blocking = false))
    }
    run(5000L, "5k")
    run(50000L, "50k")
  }
}
