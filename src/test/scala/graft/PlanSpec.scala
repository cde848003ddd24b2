package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions.col

/** Physical-plan assertions: these encode the scale contract — a plan
  * that stops pushing filters to parquet, broadcasting small dims, or
  * planning top-k as TakeOrderedAndProject would silently regress 100 TB
  * behavior even though results stay correct. */
class PlanSpec extends SparkSpec {

  val dir = "/root/testdata/sf0.001"

  private def run(name: String): DataFrame = SparkEntry.queries(name)(spark, dir)

  private def executed(df: DataFrame): SparkPlan = {
    df.collect() // force AQE to finalize
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }
  private def planString(df: DataFrame): String = {
    val p = executed(df)
    p.toString + "\n" + df.queryExecution.toString
  }

  test("range scan pushes seq predicates to the parquet reader") {
    val s = planString(run("q_range_scan"))
    assert(s.contains("PushedFilters") && s.contains("GreaterThan(event_id,100"),
      s"expected pushed seq filters, got:\n${s.take(2000)}")
  }

  test("point get pushes an equality filter (row-group skipping)") {
    val s = planString(run("q_get_point"))
    assert(s.contains("EqualTo(event_id,500"), s"expected pushed point filter:\n${s.take(2000)}")
  }

  test("projection flags prune the parquet read schema") {
    val s = planString(run("q_project_seqs"))
    assert(s.contains("ReadSchema: struct<event_id:bigint>"),
      s"seqs-only scan must read only event_id:\n${s.take(2000)}")
  }

  test("top-k plans as TakeOrderedAndProject, not a full sort") {
    val s = planString(run("q_topk"))
    assert(s.contains("TakeOrderedAndProject"), s"expected top-k operator:\n${s.take(2000)}")
  }

  test("small-dim joins broadcast (no shuffle of the fact side)") {
    val s = planString(run("q_join_agg"))
    assert(s.contains("BroadcastHashJoin"), s"expected broadcast join:\n${s.take(2000)}")
  }

  test("bucketed fact-fact join shuffles neither side (only the final agg)") {
    val s = executed(run("q_bucketed_join")).toString
    assert(s.contains("SortMergeJoin"), s"expected co-located SMJ:\n${s.take(3000)}")
    val hashExchanges = s.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashExchanges <= 1,
      s"expected at most the priority-agg exchange, got $hashExchanges:\n${s.take(3000)}")
  }

  test("profiling census is one pass — a single scan of the table") {
    // count scans in the executed-plan text (AQE stage leaves hide the
    // scan node from collectLeaves, but the tree print descends stages)
    val s = executed(run("q_profile")).toString
    val scans = s.linesIterator.count(_.contains("FileScan parquet"))
    assert(scans == 1, s"expected one table scan, got $scans:\n${s.take(2000)}")
  }

  test("group-agg does map-side partial aggregation") {
    val s = executed(run("q_group_agg")).toString
    val hashAggs = s.linesIterator.count(_.contains("HashAggregate"))
    assert(hashAggs >= 2, s"expected partial+final HashAggregate pair:\n${s.take(2000)}")
  }

  test("whole-stage codegen covers the scan+filter+project hot path") {
    val s = executed(run("q_query_filter_project")).toString
    // '*(n)' prefixes mark WholeStageCodegen stages in the plan string
    assert(s.contains("*(1)"), s"expected codegen spans:\n${s.take(2000)}")
  }

  test("multi-join broadcasts both small dims") {
    val s = executed(run("q_multi_join")).toString
    val broadcasts = s.linesIterator.count(_.contains("BroadcastHashJoin"))
    assert(broadcasts >= 2, s"customer and nation should broadcast:\n${s.take(2000)}")
  }

  test("range join keeps the equi hash join; band is a residual, not a nested loop") {
    val s = executed(run("q_range_join")).toString
    assert(!s.contains("BroadcastNestedLoopJoin") && !s.contains("CartesianProduct"),
      s"range join must not degrade to a nested loop:\n${s.take(2000)}")
    assert(s.contains("l_shipdate"), s"band residual should appear in the join:\n${s.take(2000)}")
  }

  test("grouped top-k aggregates with bounded heaps — no rank window sort") {
    val s = executed(run("q_topk_per_key")).toString
    assert(!s.contains("Window"), s"heap-agg top-k must not plan a Window:\n${s.take(2000)}")
    assert(s.contains("Aggregate"), s"expected aggregate-based plan:\n${s.take(2000)}")
  }

  test("record-count observation does not block pruning/pushdown on db reads") {
    import graft.core.{FlumeDb, TableLog}
    val db = new FlumeDb(new TableLog(spark,
      spark.read.parquet(s"$dir/events.parquet"), "event_id"))
    val df = db.stream().select("event_id")
    df.collect()
    val s = df.queryExecution.toString
    assert(s.contains("ReadSchema: struct<event_id:bigint>"),
      s"projection must prune through the CollectMetrics node:\n${s.take(2000)}")
  }

  test("IVF probe prunes stored cell partitions at planning time") {
    val df = run("q_ann_ivf")
    val s = planString(df)
    assert(s.contains("PartitionFilters") && s.contains("cell"),
      s"probing must prune cell= directories, got:\n${s.take(3000)}")
    val scanned = s.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanned.contains("cell") && (scanned.contains("IN") || scanned.contains("isin") || scanned.contains("in(")),
      s"expected an isin partition filter on cell:\n$scanned")
  }

  test("knn top-k does not shuffle the corpus (TakeOrderedAndProject over scan)") {
    val df = graft.ops.Similarity.knnForVector(
      spark.read.parquet(s"$dir/embeddings.parquet"),
      Seq.fill(64)(0.1f), 5)
    val s = executed(df).toString
    assert(s.contains("TakeOrderedAndProject"), s"knn must be top-k, not sort-all:\n${s.take(2000)}")
    assert(!s.contains("Exchange hashpartitioning"), s"knn must not shuffle the corpus:\n${s.take(2000)}")
  }

  test("sequence packing never plans a single-partition global window") {
    // the query result is an eager checkpoint, so inspect the lazy form;
    // what must NOT appear is Exchange SinglePartition feeding a Window —
    // the collapsed global cumsum the two-phase scan exists to avoid
    val df = graft.ops.Packing.packSequences(
      spark.read.parquet(s"$dir/documents.parquet"), capacity = 2048,
      checkpointResult = false)
    val s = planString(df)
    assert(!s.contains("Exchange SinglePartition"),
      s"packing must not single-partition the corpus:\n${s.take(3000)}")
    assert(s.contains("Window"), s"expected the per-bucket window:\n${s.take(2000)}")
  }

  test("vocab build pre-reduces (term, doc) before the term aggregate — no expand/count-distinct plan") {
    val s = planString(run("q_vocab_build"))
    assert(!s.contains("Expand"), s"df must come from pre-reduced rows, not an Expand:\n${s.take(3000)}")
    assert(s.contains("partial_"), s"expected map-side partial aggregation:\n${s.take(2000)}")
    assert(s.contains("TakeOrderedAndProject"), s"top-N must be a bounded heap:\n${s.take(2000)}")
  }

  test("vocab tokenizer reads only (doc_id, text)") {
    val s = planString(run("q_vocab_build"))
    assert(s.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"scan must prune to the two used columns:\n${s.take(2000)}")
  }

  test("bpe corpus encode runs the fold per distinct word and broadcasts it to the corpus") {
    val s = planString(run("q_bpe_doc_tokens"))
    assert(s.contains("BroadcastHashJoin") || s.contains("BroadcastExchange"),
      s"vocab side must broadcast, not shuffle the corpus:\n${s.take(3000)}")
    assert(s.contains("partial_"), s"expected map-side partial aggregation:\n${s.take(2000)}")
    assert(!s.contains("UDF"), s"encode must be codegen'd string replaces, no UDF:\n${s.take(2000)}")
  }

  test("ann lsh serves signatures from the stored column — no corpus recompute, no UDF") {
    val s = planString(run("q_ann_lsh"))
    // the 8-byte sig column is READ off parquet (filter-then-refine input)…
    assert(s.contains("sig:bigint"),
      s"expected the stored sig column in the read schema:\n${s.take(3000)}")
    // …not recomputed: no hyperplane expression over the corpus scan and
    // no Scala UDF anywhere in the hot path
    assert(!s.contains("UDF"),
      s"signature kernel must be the native expression, not a UDF:\n${s.take(3000)}")
    assert(!s.contains("hyperplanesig"),
      s"corpus-side signatures must come from storage, not recompute:\n${s.take(3000)}")
  }

  test("decontamination gram path runs the native shingle expression — no UDF") {
    val s = planString(run("q_decontaminate"))
    assert(s.toLowerCase.contains("hashedshingles"),
      s"expected the native hashed-shingles expression in the plan:\n${s.take(3000)}")
    assert(!s.contains("UDF"),
      s"the gram path must be UDF-free end to end:\n${s.take(3000)}")
  }

  test("minhash LSH chain (shingle -> sig -> band keys) plans as native expressions — no UDF") {
    // the declared minhash queries checkpoint their pair table (plan
    // truncation), so assert on the chain exactly as minhashLsh builds
    // its band-key side: one fused projection, three native kernels
    import org.apache.spark.sql.functions.{col, explode}
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val chain = docs.select(col("doc_id"),
      explode(graft.functions.BandKeys.band_keys(
        graft.functions.MinhashOph.minhash_oph(
          graft.ops.Dedup.hashedShinglesCol(col("text")), 64), 64, 16)).as("bandkey"))
    val s = planString(chain)
    for (e <- Seq("hashedshingles", "minhashoph", "bandkeys"))
      assert(s.toLowerCase.contains(e),
        s"expected native expression '$e' in the LSH plan:\n${s.take(3000)}")
    assert(!s.contains("UDF"),
      s"the LSH chain must be UDF-free end to end:\n${s.take(3000)}")
    assert(s.contains("*(1) Generate"),
      s"the fused chain must run inside one whole-stage-codegen span (the *(n) prefix):\n${s.take(3000)}")
  }

  test("substring-dedup gram pass runs the native positional-grams expression — no UDF") {
    // q_dedup_substring's own plan is truncated by the eager span
    // checkpoint (the gram postings are released after the span table is
    // materialized), so assert on the gram stage as substringSpans
    // builds it
    import org.apache.spark.sql.functions.{col, explode}
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val grams = docs.select(col("doc_id"),
      explode(graft.functions.PositionalGrams.positional_grams(col("text"), 15)).as("pg"))
      .select(col("doc_id"), col("pg._1").as("pos"), col("pg._2").as("g"))
    val s = planString(grams)
    assert(s.toLowerCase.contains("positionalgrams"),
      s"expected the native positional-grams expression in the plan:\n${s.take(3000)}")
    assert(!s.contains("UDF"),
      s"the substring gram pass must be UDF-free:\n${s.take(3000)}")
  }

  test("query index selection reads the posting table, not the full log") {
    val s = planString(run("q_query_indexed"))
    // the equality conjunct was satisfied by the index lookup: the log
    // read carries a pushed seq-membership predicate (row-group skipping,
    // the point-get path) and never mentions event_type at all
    assert(s.contains("In(event_id"),
      s"expected the inlined seq list pushed to the events scan:\n${s.take(3000)}")
    // the indexed column is neither read (pruned from ReadSchema) nor
    // filtered (no 'purchase' literal anywhere in the executed plan) —
    // it only survives in the logical Relation's full attribute list
    assert(!s.contains("event_type:string"),
      s"the indexed column must be pruned from the parquet read:\n${s.take(3000)}")
    assert(!s.contains("purchase"),
      s"the equality must be served by the index, not a scan filter:\n${s.take(3000)}")
  }

  test("index-union (OR) selection reads two postings, never scans the log for the disjunction") {
    val s = planString(run("q_query_indexed_or"))
    // both arms were served by posting reads whose unioned seqs inline
    // as a membership predicate on the log read (row-group skipping)
    assert(s.contains("In(event_id"),
      s"expected the unioned seq list pushed to the events scan:\n${s.take(3000)}")
    // the disjunction never touches the log: no 'purchase' literal
    // anywhere, and the type column is pruned from the parquet read
    assert(!s.contains("purchase"),
      s"the OR must be served by the index union, not a scan filter:\n${s.take(3000)}")
    assert(!s.contains("event_type:string"),
      s"the indexed type column must be pruned from the parquet read:\n${s.take(3000)}")
  }

  test("incremental dedup candidates: the corpus side is filtered by a BROADCAST of the batch keys") {
    import org.apache.spark.sql.functions._
    val docs = (1L to 40L).map(i =>
      (i, s"the quick brown fox number $i jumps over the lazy dog near gate $i"))
    val base = graft.ops.Dedup.signatureTable(
      spark.createDataFrame(docs).toDF("doc_id", "text")).persist()
    val fresh = graft.ops.Dedup.signatureTable(
      spark.createDataFrame(docs.take(5).map { case (i, t) => (i + 1000, t) }).toDF("doc_id", "text")).persist()
    try {
      val cand = graft.ops.Dedup.incrementalCandidatesPublic(fresh, base)
      val s = planString(cand)
      // the batch's band-key set must reach the base side as a broadcast
      // hint in the optimized plan — a symmetric band shuffle here is the
      // recurring-cost scale bug this stage exists to avoid
      assert(s.contains("strategy=broadcast"),
        s"the batch band keys must broadcast into the base-side filter:\n${s.take(4000)}")
      assert(cand.collect().length >= 5, "planted copies must surface as candidates")
    } finally Seq(base, fresh).foreach(_.unpersist(blocking = false))
  }

  test("fence fallback: past maxBroadcastKeys the plan carries NO broadcast hint (symmetric shuffle)") {
    import spark.implicits._
    // corpus-sized "batch": the fence at 0 forces the fallback arm in
    // both the minhash candidate stage and the shared hamming stage —
    // the branch that runs at corpus scale must not pin a broadcast the
    // driver could never build (the hint would OOM on a real corpus).
    val docs = (1L to 40L).map(i =>
      (i, s"the quick brown fox number $i jumps over the lazy dog near gate $i"))
    val base = graft.ops.Dedup.signatureTable(
      spark.createDataFrame(docs).toDF("doc_id", "text")).persist()
    val fresh = graft.ops.Dedup.signatureTable(
      spark.createDataFrame(docs.take(5).map { case (i, t) => (i + 1000, t) })
        .toDF("doc_id", "text")).persist()
    val persisted = scala.collection.mutable.Buffer.empty[org.apache.spark.sql.DataFrame]
    try {
      val cand = graft.ops.Dedup.incrementalCandidatesPublic(
        fresh, base, maxBroadcastKeys = 0L)
      val s = planString(cand)
      assert(!s.contains("strategy=broadcast"),
        s"fallback arm must not hint a broadcast of a corpus-sized key set:\n${s.take(4000)}")
      assert(cand.collect().length >= 5,
        "fallback arm still surfaces the planted candidates")
      val rnd = new scala.util.Random(3)
      val stored = (0L until 200L).map(i => (i, rnd.nextLong())).toDF("media_id", "phash")
      val batch = (0L until 10L).map(i => (1000L + i, rnd.nextLong())).toDF("media_id", "phash")
      val pairs = graft.ops.Multimodal.perceptualNearDupIncrementalStage(
        batch, stored, 7, 256, 0L, persisted)
      val s2 = planString(pairs)
      assert(!s2.contains("strategy=broadcast"),
        s"hamming fallback arm must not hint a broadcast:\n${s2.take(4000)}")
    } finally (Seq(base, fresh) ++ persisted).foreach(_.unpersist(blocking = false))
  }

  test("incremental minhash dedup reads the stored signature table ONCE per batch") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val docs = (1L to 40L).map(i =>
      (i, s"the quick brown fox number $i jumps over the lazy dog near gate $i"))
    val storedDir = java.nio.file.Files.createTempDirectory("graft-plan-sigs").resolve("t").toString
    graft.ops.Dedup.signatureTable(spark.createDataFrame(docs).toDF("doc_id", "text"))
      .write.parquet(storedDir)
    val stored = spark.read.parquet(storedDir)
    val fresh = graft.ops.Dedup.signatureTable(
      spark.createDataFrame(docs.take(5).map { case (i, t) => (i + 1000, t) })
        .toDF("doc_id", "text")).persist()
    try {
      // the operator's stage before its checkpoint, verify included
      val pairs = graft.ops.Dedup.incrementalPairsPublic(fresh, stored, bands = 32,
        threshold = 0.9, maxBucket = 1000, verifyExact = true)
      val plan = executed(pairs)
      val storedScans = new AdaptiveSparkPlanHelper {}.collectWithSubqueries(plan) {
        case s: FileSourceScanExec if s.relation.location.rootPaths.exists(_.toString.contains(storedDir)) => s
      }
      assert(storedScans.size === 1,
        s"the stored table must be scanned exactly once per batch, got ${storedScans.size}:\n${plan.toString.take(6000)}")
      assert(pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ===
        (1L to 5L).map(i => (i + 1000, i)).toSet, "the planted copies are the pairs")
    } finally fresh.unpersist(blocking = false)
  }

  test("incremental image, audio and embedding dedup read the stored table ONCE per batch") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def storedTable(df: DataFrame, name: String): (String, DataFrame) = {
      val d = java.nio.file.Files.createTempDirectory(s"graft-plan-$name").resolve("t").toString
      df.write.parquet(d)
      (d, spark.read.parquet(d))
    }
    val rnd = new scala.util.Random(7)
    val hashes = (0L until 200L).map(i => (i, 50L + i % 4, rnd.nextLong()))
    val batchRows = hashes.take(10).map { case (i, nw, h) => (1000L + i, nw, h) }
    val (imageDir, image) = storedTable(hashes.map(r => (r._1, r._3)).toDF("media_id", "phash"), "image")
    val (audioDir, audio) = storedTable(hashes.toDF("media_id", "n_windows", "afp"), "audio")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet").select("vec_id", "embedding")
    val (sigDir, sigs) = storedTable(emb.select(col("vec_id"),
      graft.ops.Similarity.hyperplaneSignature(col("embedding"), 32).as("sig")), "emb")
    val embBatch = emb.where(col("vec_id") < 20)
      .select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
    val persisted = scala.collection.mutable.Buffer.empty[DataFrame]
    try {
      val stages = Seq(
        ("image", imageDir, graft.ops.Multimodal.perceptualNearDupIncrementalStage(
          batchRows.map(r => (r._1, r._3)).toDF("media_id", "phash"), image,
          7, 256, 4L * 1000 * 1000, persisted), 10L),
        ("audio", audioDir, graft.ops.Multimodal.audioNearDupIncrementalStage(
          batchRows.toDF("media_id", "n_windows", "afp"), audio,
          7, 256, 4L * 1000 * 1000, persisted), 10L),
        ("embedding", sigDir, graft.ops.Dedup.embeddingNearDupIncrementalStage(
          embBatch, sigs, emb, "vec_id", "embedding", 4, 8, 0.95, 1024, 4L * 1000 * 1000,
          persisted), 20L))
      for ((what, storedDir, pairs, planted) <- stages) {
        val plan = executed(pairs)
        val storedScans = new AdaptiveSparkPlanHelper {}.collectWithSubqueries(plan) {
          case s: FileSourceScanExec if s.relation.location.rootPaths.exists(_.toString.contains(storedDir)) => s
        }
        assert(storedScans.size === 1,
          s"$what: the stored table must be scanned exactly once per batch, got ${storedScans.size}:\n${plan.toString.take(6000)}")
        assert(pairs.count() >= planted, s"$what: the planted copies must pair")
      }
    } finally persisted.foreach(_.unpersist(blocking = false))
  }

  test("incremental phash dedup: stored side filtered by a BROADCAST of batch segment keys") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val stored = (0L until 200L).map(i => (i, rnd.nextLong())).toDF("media_id", "phash")
    val batch = (0L until 10L).map(i => (1000L + i, rnd.nextLong())).toDF("media_id", "phash")
    val persisted = scala.collection.mutable.Buffer.empty[org.apache.spark.sql.DataFrame]
    try {
      val pairs = graft.ops.Multimodal.perceptualNearDupIncrementalStage(
        batch, stored, 7, 256, 4L * 1000 * 1000, persisted)
      val s = planString(pairs)
      // the batch's segment-key set must reach the stored side as a
      // broadcast — a symmetric segment shuffle of the corpus is the
      // recurring-cost scale bug this operator exists to avoid
      assert(s.contains("strategy=broadcast"),
        s"batch segment keys must broadcast into the stored-side filter:\n${s.take(4000)}")
    } finally persisted.foreach(_.unpersist(blocking = false))
  }

  test("incremental audio dedup: stored side filtered by a BROADCAST of batch (n_windows, segment) keys") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val stored = (0L until 200L).map(i => (i, 50L + i % 4, rnd.nextLong()))
      .toDF("media_id", "n_windows", "afp")
    val batch = (0L until 10L).map(i => (1000L + i, 50L + i % 4, rnd.nextLong()))
      .toDF("media_id", "n_windows", "afp")
    val persisted = scala.collection.mutable.Buffer.empty[org.apache.spark.sql.DataFrame]
    try {
      val pairs = graft.ops.Multimodal.audioNearDupIncrementalStage(
        batch, stored, 7, 256, 4L * 1000 * 1000, persisted)
      val s = planString(pairs)
      // the batch's gated segment-key set must reach the stored corpus
      // as a broadcast — a symmetric shuffle of the stored fingerprint
      // table per batch is the recurring-cost scale bug this stage
      // exists to avoid (mirror of the image sibling's pin above)
      assert(s.contains("strategy=broadcast"),
        s"batch (n_windows, seg) keys must broadcast into the stored-side filter:\n${s.take(4000)}")
    } finally persisted.foreach(_.unpersist(blocking = false))
  }

  test("incremental embedding dedup: stored side filtered by a BROADCAST of batch band keys") {
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet(s"$dir/embeddings.parquet").select("vec_id", "embedding")
    val batch = emb.where(col("vec_id") < 20)
      .select((col("vec_id") + 10000).as("vec_id"),
        transform(col("embedding"), x => (x * lit(1.001)).cast("float")).as("embedding"))
    val sigs = emb.select(col("vec_id"),
      graft.ops.Similarity.hyperplaneSignature(col("embedding"), 32).as("sig"))
    val persisted = scala.collection.mutable.Buffer.empty[org.apache.spark.sql.DataFrame]
    try {
      val stage = graft.ops.Dedup.embeddingNearDupIncrementalStage(
        batch, sigs, emb, "vec_id", "embedding", 4, 8, 0.95, 1024, 4L * 1000 * 1000, persisted)
      val s = planString(stage)
      // the batch's band-key set must reach the stored signatures as a
      // broadcast — a symmetric band shuffle of the stored corpus per
      // batch is the recurring-cost scale bug this stage exists to avoid
      assert(s.contains("strategy=broadcast"),
        s"batch band keys must broadcast into the stored-side filter:\n${s.take(4000)}")
    } finally persisted.foreach(_.unpersist(blocking = false))
  }

  test("pruned embedding verify: the curated-log vector scan carries PartitionFilters from candidate seq buckets") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    // a seq-bucketed curated log of 500 vectors (bucketSize 16 →
    // buckets 0..31); the 2-vector batch's band collisions reach a
    // handful of stored vectors, so the verify-side scan must prune to
    // the candidates' buckets — a strict subset including the true
    // near-dup targets' buckets (3 → 0, 35 → 2)
    val embSchema = StructType(Seq(
      StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType))))
    val logDir = java.nio.file.Files.createTempDirectory("graft-planprune").toString
    val curLog = new graft.core.ParquetLog(spark, logDir, embSchema, bucketSize = 16L)
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding").orderBy("vec_id")
    curLog.append(emb)
    val nBuckets = (curLog.since / 16L) + 1
    // stored signature table WITH each vector's curated seq (the
    // EmbeddingSigTableView round-14 layout); seq == vec_id here since
    // the append stamped 0..n in order
    val sigs = curLog.stream().select(col("vec_id"), col("seq"),
      graft.ops.Similarity.hyperplaneSignature(col("embedding"), 32).as("sig"))
      .localCheckpoint(true)
    val batch = emb.where(col("vec_id") === 3 || col("vec_id") === 35)
      .select((col("vec_id") + 10000).as("vec_id"),
        transform(col("embedding"), x => (x * lit(1.001)).cast("float")).as("embedding"))
      .localCheckpoint(true)
    val (buckets, stage) = graft.ops.Dedup.embeddingNearDupIncrementalPrunedStage(
      batch, sigs, 16L, bs => curLog.readBuckets(bs.get).select("vec_id", "embedding"))
    assert(Set(0L, 2L).subsetOf(buckets.toSet),
      s"the true near-dup targets' buckets (0, 2) must be candidates, got $buckets")
    assert(buckets.length < nBuckets,
      s"pruning must scan a strict subset of the $nBuckets buckets, got ${buckets.length}")
    val s = planString(stage)
    // the verify scan of the corpus log must be partition-PRUNED to the
    // candidate buckets at planning time — a full-log scan per
    // micro-batch is the ∝-corpus recurring cost this layout removes
    val pf = s.linesIterator.filter(_.contains("PartitionFilters")).mkString("\n")
    assert(pf.contains("seq_bucket"),
      s"verify scan must carry seq_bucket PartitionFilters:\n${s.take(4000)}")
    assert(buckets.forall(b => pf.contains(b.toString)),
      s"PartitionFilters must name the candidate buckets $buckets, got:\n$pf")
  }

  test("incremental substring dedup: stored gram table filtered by a BROADCAST of batch keys") {
    import spark.implicits._
    val stored = graft.ops.Dedup.gramTable(
      Seq((1L, (1 to 40).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text"))
    val batch = Seq((100L, (5 to 30).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text")
    val persisted = scala.collection.mutable.Buffer.empty[org.apache.spark.sql.DataFrame]
    try {
      val spans = graft.ops.Dedup.substringSpansIncrementalStage(
        batch, stored, 15, 4L * 1000 * 1000, "doc_id", "text", persisted)
      val s = planString(spans)
      // the batch's gram-key set must reach the stored side as a
      // broadcast — a shuffle of the corpus gram table per batch is the
      // recurring-cost scale bug this operator exists to avoid
      assert(s.contains("strategy=broadcast"),
        s"batch gram keys must broadcast into the stored-side semi-join:\n${s.take(4000)}")
    } finally persisted.foreach(_.unpersist(blocking = false))
  }

  test("tpch q9: filtered part dim broadcasts, dims never shuffle the fact side, no cartesian") {
    val s = planString(run("q_tpch_q9"))
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      s"q9 must stay equi-join only:\n${s.take(3000)}")
    val broadcasts = s.linesIterator.count(l =>
      l.contains("BroadcastHashJoin") && l.contains("Inner"))
    assert(broadcasts >= 3,
      s"part/supplier/nation must all broadcast into the fact side:\n${s.take(4000)}")
    // the part-name filter must reach the part SCAN (pushed), so the
    // broadcast build side is the pruned dim, not the full table
    assert(s.contains("StringContains(p_name,widget)"),
      s"the p_name filter must push to the part scan, not post-join:\n${s.take(4000)}")
  }

  test("tpch q17: decorrelated threshold joins back by broadcast; part filter pushed; no cartesian") {
    val s = planString(run("q_tpch_q17"))
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      s"q17 must stay equi-join only:\n${s.take(3000)}")
    assert(s.contains("EqualTo(p_brand,Brand#13)"),
      s"the brand filter must push to the part scan:\n${s.take(4000)}")
    val broadcasts = s.linesIterator.count(_.contains("BroadcastHashJoin"))
    assert(broadcasts >= 2,
      s"both the part dim and the (part, threshold) table must broadcast:\n${s.take(4000)}")
    // the per-part average partial-aggregates before its exchange
    assert(s.contains("partial_avg") || s.contains("partial_average"),
      s"the threshold agg must combine map-side:\n${s.take(4000)}")
  }

  test("tpch q18: HAVING keys broadcast into both fact semi-joins, no cartesian") {
    val s = planString(run("q_tpch_q18"))
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      s"q18 must stay equi-join only:\n${s.take(3000)}")
    // the survivor key set reduces BOTH lineitem and orders as a
    // broadcast semi-join — the fact tables never meet at full width
    val semis = s.linesIterator.count(l =>
      l.contains("BroadcastHashJoin") && l.contains("LeftSemi"))
    assert(semis >= 2,
      s"expected both fact sides semi-joined via broadcast of the HAVING keys:\n${s.take(4000)}")
  }

  test("tpch q21: EXISTS/NOT EXISTS self-joins stay equi (semi + anti), no cartesian") {
    val s = planString(run("q_tpch_q21"))
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      s"the <> suppkey predicates must ride the equi-joins as residuals:\n${s.take(4000)}")
    // EXISTS (another supplier on the order) plans as a semi join and
    // NOT EXISTS (another LATE supplier) as an anti join — both on the
    // shared l_orderkey hash; losing either shape silently turns the
    // self-join into a pair expansion
    assert(s.linesIterator.exists(l => l.contains("Join") && l.contains("LeftSemi")),
      s"expected a semi self-join for EXISTS:\n${s.take(4000)}")
    assert(s.linesIterator.exists(l => l.contains("Join") && l.contains("LeftAnti")),
      s"expected an anti self-join for NOT EXISTS:\n${s.take(4000)}")
    assert(s.contains("TakeOrderedAndProject"),
      s"the top-100 must not global-sort:\n${s.take(4000)}")
  }

  test("tpch q2: correlated min decorrelates to a min join — no cartesian, no per-row re-scan") {
    val s = planString(run("q_tpch_q2"))
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      s"the argmin must be an equality join on (partkey, min), never a cartesian:\n${s.take(4000)}")
    // the per-part min is a standalone aggregate JOINED back — the
    // decorrelated shape; a correlated form would re-scan supply per row
    assert(s.linesIterator.count(_.contains("HashAggregate")) >= 2,
      s"expected the supply agg AND the per-part min agg:\n${s.take(4000)}")
    assert(s.contains("TakeOrderedAndProject"),
      s"the top-100 must not global-sort:\n${s.take(4000)}")
  }

  test("tpch q13: the left-outer join SURVIVES optimization (zero-order customers kept)") {
    val s = planString(run("q_tpch_q13"))
    assert(s.linesIterator.exists(l => l.contains("Join") && l.contains("LeftOuter")),
      s"an inner rewrite would drop zero-order customers from the c_count=0 bucket:\n${s.take(4000)}")
    assert(s.contains("Not(EqualTo(o_orderpriority,1-URGENT))") ||
      s.contains("o_orderpriority <> 1-URGENT") || s.contains("NOT (o_orderpriority = 1-URGENT)"),
      s"the priority exclusion must prefilter orders before the join:\n${s.take(4000)}")
  }

  test("tpch q20: the nested correlated IN reduces to a two-level semi-join chain") {
    val s = planString(run("q_tpch_q20"))
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      s"no cartesian anywhere in the reduction:\n${s.take(4000)}")
    // level 1: lineitem semi-joins the part slice; level 2: supplier
    // semi-joins the qualifying keys (plus the nation semi) — at least
    // two semi joins, zero inner fact joins
    val semis = s.linesIterator.count(l => l.contains("Join") && l.contains("LeftSemi"))
    assert(semis >= 2, s"expected the two-level semi-join chain, got $semis:\n${s.take(4000)}")
  }

  test("tpch q22: anti join on the pushed-priority orders scan; scalar threshold broadcasts as one row") {
    val df = run("q_tpch_q22")
    val s = executed(df).toString
    assert(s.linesIterator.exists(l => l.contains("Join") && l.contains("LeftAnti")),
      s"NOT EXISTS(urgent order) must plan as an anti join:\n${s.take(4000)}")
    assert(s.contains("EqualTo(o_orderpriority,1-URGENT)"),
      s"the priority filter must reach the orders scan (5× smaller anti build side):\n${s.take(4000)}")
    // the scalar threshold is a 1-ROW broadcast — the one place a
    // nested-loop join is the right plan; more than one would mean the
    // decorrelation regressed
    val bnlj = s.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 1, s"only the 1-row threshold may nested-loop, got $bnlj:\n${s.take(4000)}")
    assert(!s.contains("CartesianProduct"), s"no cartesian:\n${s.take(4000)}")
  }

  test("tpch q16: count-distinct plans as a two-level aggregate with pushed part filters — no Expand") {
    val df = run("q_tpch_q16")
    val e = executed(df).toString
    val s = planString(df)
    assert(s.contains("In(p_size"),
      s"the size set must reach the part scan:\n${s.take(3000)}")
    assert(!e.contains("Expand"),
      s"a single distinct agg must not plan the multi-spec Expand:\n${e.take(3000)}")
    // two-level: a (brand, suppkey) dedup aggregate below the brand rollup
    assert(e.linesIterator.count(_.contains("HashAggregate")) >= 3,
      s"expected the partial-dedup aggregate chain:\n${e.take(3000)}")
  }

  test("tpch q14: date window pushed to the lineitem scan; one pass for both conditional sums") {
    val df = run("q_tpch_q14")
    val s = planString(df)
    assert(s.contains("GreaterThanOrEqual(l_shipdate"),
      s"the shipdate window must reach the lineitem scan:\n${s.take(3000)}")
    val scans = executed(df).toString.linesIterator.count(_.contains("Scan parquet"))
    assert(scans <= 2, s"one lineitem scan + one part scan, got $scans:\n${s.take(3000)}")
  }

  test("tpch q15: argmax-over-agg — the scalar max broadcasts back as one row") {
    val df = run("q_tpch_q15")
    val e = executed(df).toString
    // the per-supplier agg shuffles once; the max re-joins as a 1-row
    // broadcast (nested-loop on one row is the right plan), never a
    // second full shuffle of the revenue table
    assert(e.contains("BroadcastNestedLoopJoin") || e.contains("BroadcastHashJoin"),
      s"the scalar max must broadcast:\n${e.take(3000)}")
    assert(!e.contains("CartesianProduct"), s"no cartesian:\n${e.take(3000)}")
  }

  test("tpch q19: each side's convertible disjunction is pushed to its scan") {
    val s = planString(run("q_tpch_q19"))
    // Catalyst extracts the part-only OR (brand/size) and the
    // lineitem-only OR (quantity ranges) from the cross-side
    // disjunction — losing either pushdown re-widens a scan to the
    // full table at 100 TB
    assert(s.contains("Or(And(EqualTo(p_brand,Brand#11)"),
      s"the brand/size disjunction must reach the part scan:\n${s.take(4000)}")
    assert(s.contains("Or(And(GreaterThanOrEqual(l_quantity,1"),
      s"the quantity disjunction must reach the lineitem scan:\n${s.take(4000)}")
    assert(!s.contains("CartesianProduct"), s"no cartesian:\n${s.take(3000)}")
  }

  test("tpch q5: dims broadcast, date range pushed to the orders scan") {
    val s = planString(run("q_tpch_q5"))
    assert(s.contains("BroadcastHashJoin"),
      s"nation/region must broadcast:\n${s.take(3000)}")
    assert(s.contains("GreaterThanOrEqual(o_orderdate"),
      s"the orderdate range must reach the orders scan:\n${s.take(3000)}")
    assert(!s.contains("CartesianProduct"),
      s"no cartesian anywhere in the 6-table join:\n${s.take(3000)}")
  }

  test("search OR serves from the materialized posting table, not a log rescan") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val v = new graft.views.PositionalSearchView("text", "doc_id")
    v.absorb(docs.select("text", "doc_id"), docs.count() - 1)
    v.compact() // materialize the postings — the stored-index read path
    val s = planString(v.searchAny(Seq("spark", "join", "bloom")))
    // the disjunction is ONE isin over the posting table: no parquet
    // scan of the log, no per-term rescan, no LIKE anywhere
    assert(!s.contains("parquet") && !s.contains("FileScan"),
      s"the OR read must not rescan the log:\n${s.take(3000)}")
    assert(s.contains("ExistingRDD"),
      s"the OR read must serve from the materialized postings:\n${s.take(3000)}")
  }

  test("range index selection reads the posting table, not the full log") {
    val s = planString(run("q_query_indexed_range"))
    // the user_id range was served by the posting read: the log scan
    // carries the inlined seq-membership predicate (point-get path)
    assert(s.contains("In(event_id"),
      s"expected the inlined seq list pushed to the events scan:\n${s.take(3000)}")
  }

  test("composite-index selection: the log scan carries the inlined seq membership") {
    val s = planString(run("q_query_composite"))
    assert(s.contains("In(event_id"),
      s"expected the composite posting lookup's seq list pushed to the events scan:\n${s.take(3000)}")
  }

  test("index lookup join: the log scan carries the inlined seq membership at small SF") {
    val s = planString(run("q_index_join"))
    assert(s.contains("In(event_id"),
      s"expected the posting-driven seq list pushed to the events scan:\n${s.take(3000)}")
  }

  test("covering-index count never scans the log — the plan reads only the posting parquet") {
    val s = planString(run("q_index_count"))
    assert(!s.contains("events.parquet"),
      s"count-by-indexed-key must be served by the posting table alone:\n${s.take(3000)}")
    assert(s.contains("graftcntidx"), // the PersistentIndexView delta dirs
      s"expected a posting-parquet scan in the plan:\n${s.take(3000)}")
  }

  test("semanticDedup pairs only inside cells — no join keys on raw vectors") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet").select("vec_id", "embedding")
    val df = graft.ops.Dedup.semanticDedup(emb, nCells = 8, tau = 0.95)
    // pre-checkpoint contract is in the operator; the checkpointed
    // result hides it, so rebuild the pairing stage the way the
    // operator builds it and inspect the OPTIMIZED logical plan
    val joins = {
      val cents = graft.ops.Similarity.seedCentroids(emb, 8)
      val assigned = emb.select(col("vec_id").as("id"), col("embedding").as("v"),
        graft.ops.Similarity.cellAssign(col("embedding"), cents).as("cell"))
      val pairs = assigned.select(col("cell"), col("id").as("id_a"), col("v").as("v_a"))
        .join(assigned.select(col("cell"), col("id").as("id_b"), col("v").as("v_b")), Seq("cell"))
        .where(col("id_a") < col("id_b"))
      pairs.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }
    }
    assert(joins.nonEmpty, "the pairing stage must be a join")
    joins.foreach { j =>
      val keyNames = j.condition.toSeq.flatMap(_.references).map(_.name).toSet
      assert(keyNames.contains("cell") && !keyNames.exists(_.startsWith("v")),
        s"pairing must equi-join the 8-byte cell id, not vectors: $keyNames")
    }
    // and the operator's verdicts still cover the corpus
    assert(df.count() === emb.count())
  }

  test("4096-cell quantizer plans as a broadcast centroid join — no O(k) expression tree") {
    // the published SemDeDup operating point is k ∝ N (~1e5 cells);
    // the literal path would inline one struct per centroid. Above
    // CellAssignLiteralMax the plan must be O(1) in nCells: a broadcast
    // of the centroid TABLE plus a constant-size argmax aggregate.
    val emb = spark.read.parquet(s"$dir/embeddings.parquet").select("vec_id", "embedding")
    val cents = Array.tabulate(4096)(i =>
      (i.toLong, Seq.tabulate(8)(j => ((i * 31 + j * 7) % 97).toFloat / 97.0f - 0.5f)))
    val df = graft.ops.Similarity.assignCells(emb, cents, "vec_id", "embedding", "cell")
    val opt = df.queryExecution.optimizedPlan
    val joins = opt.collect { case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }
    assert(joins.nonEmpty, "large-k assignment must join the centroid table")
    // expression-node count must not scale with k (literal path: >4096)
    val exprNodes = opt.expressions.map(e => e.collect { case x => x }.size).sum
    assert(exprNodes < 200, s"plan must be O(1) in nCells, got $exprNodes expression nodes")
    // the centroid side broadcasts; the corpus side never shuffles
    // before the partial aggregate collapses the k-fold expansion
    val s = planString(df)
    assert(s.contains("BroadcastNestedLoopJoin") || s.contains("BroadcastExchange"),
      s"centroid table must broadcast:\n${s.take(2000)}")
    // the k-fold expansion collapses map-side: a partial argmax runs
    // BEFORE the vec_id exchange, so the shuffle moves one row per input
    assert(s.contains("partial_max"), s"argmax must partial-aggregate pre-shuffle:\n${s.take(2000)}")
  }

  test("4096-centroid k-means Lloyd iteration plans as a broadcast join — no O(k) expression tree") {
    // training a quantizer at the SemDeDup operating point (k ∝ N) runs
    // this assignment once per Lloyd iteration; above
    // CellAssignLiteralMax it must be the broadcast-centroid-table
    // argmin, not 4096 literal structs inlined into every iteration
    import org.apache.spark.sql.functions._
    val pts = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id").as("id"),
        transform(col("embedding"), _.cast("double")).as("v"))
    val cents: Seq[(Int, Seq[Double])] = (0 until 4096).map(i =>
      (i, Seq.tabulate(8)(j => ((i * 31 + j * 7) % 97) / 97.0 - 0.5)))
    // the exact per-iteration shape `fit` builds: assign → posexplode →
    // per-(cell, dim) mean
    val iter = graft.ops.KMeans.assignNearest(pts, cents, "id", "v", "a")
      .select(col("a.cid").as("cell"), posexplode(col("v")))
      .groupBy("cell", "pos").agg(avg("col").as("m"))
    val opt = iter.queryExecution.optimizedPlan
    val joins = opt.collect { case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }
    assert(joins.nonEmpty, "large-k training assignment must join the centroid table")
    val exprNodes = opt.expressions.map(e => e.collect { case x => x }.size).sum
    assert(exprNodes < 200, s"iteration plan must be O(1) in k, got $exprNodes expression nodes")
    val s = planString(iter)
    assert(s.contains("BroadcastNestedLoopJoin") || s.contains("BroadcastExchange"),
      s"centroid table must broadcast:\n${s.take(2000)}")
    // the k-fold expansion collapses map-side: a partial argmin runs
    // BEFORE the id exchange, so the shuffle moves one row per input
    assert(s.contains("partial_min"), s"argmin must partial-aggregate pre-shuffle:\n${s.take(2000)}")
  }

  test("audio clip containment: clip grams broadcast; corpus grams never shuffle before the match count") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val corpusGrams = graft.ops.Multimodal.audioGrams(
      graft.ops.Multimodal.syntheticWavMedia(docs, textured = true))
      .select(col("media_id").as("corpus_id"), col("pos").as("cpos"), col("gram"))
    val clipGrams = graft.ops.Multimodal.audioGrams(
      graft.ops.Multimodal.syntheticWavClip(docs, gain = 2))
      .select(col("media_id").as("clip_id"), col("pos").as("kpos"), col("gram"))
    val persisted = scala.collection.mutable.Buffer.empty[org.apache.spark.sql.DataFrame]
    try {
      val stage = graft.ops.Multimodal.audioClipContainmentStage(
        clipGrams, corpusGrams, 256, 4L * 1000 * 1000, persisted)
      val s = planString(stage)
      // the clip batch is the broadcast side of the gram join — the
      // corpus gram scan meets it without an exchange of its own rows
      assert(s.contains("BroadcastHashJoin") || s.contains("BroadcastExchange"),
        s"clip grams must broadcast:\n${s.take(2500)}")
      // the offset count partial-aggregates before its exchange: only
      // matched (clip, corpus, offset) rows cross the wire, pre-reduced
      assert(s.contains("partial_count"),
        s"match count must partial-aggregate map-side:\n${s.take(2500)}")
    } finally persisted.foreach(_.unpersist(blocking = false))
  }

  test("audio containment sweep: only gram rows shuffle; the alignment count partial-aggregates") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val corpus = graft.ops.Multimodal.syntheticWavMedia(docs, textured = true)
      .unionByName(graft.ops.Multimodal.syntheticWavClip(docs, gain = 2))
    val grams = graft.ops.Multimodal.audioGrams(corpus)
    val persisted = scala.collection.mutable.Buffer.empty[org.apache.spark.sql.DataFrame]
    try {
      // the pre-checkpoint stage (the wrapper's localCheckpoint
      // truncates the visible plan — the incremental-stage discipline)
      val sweep = graft.ops.Multimodal.audioContainmentSweepStage(grams, 256, persisted)
      val s = planString(sweep)
      // the self-join exchanges partition on the GRAM key — the rows that
      // cross the wire are (media_id, pos, gram), never audio payloads
      assert(s.contains("hashpartitioning(gram"),
        s"the candidate join must shuffle on the gram key:\n${s.take(3000)}")
      assert(!s.contains("content"),
        s"audio payload bytes must never reach a sweep exchange:\n${s.take(3000)}")
      // the (short, long, offset) count collapses map-side before its
      // exchange — only matched, pre-reduced rows shuffle to the verify
      assert(s.contains("partial_count"),
        s"alignment count must partial-aggregate map-side:\n${s.take(3000)}")
      // the persist fence: the gram table is cached once, so the decode
      // feeds every reference (totals, hot, both join branches) from
      // ONE scan instead of re-decoding per subtree
      assert(s.contains("InMemoryTableScan") || s.contains("TableCacheQueryStage"),
        s"the gram table must be read through the persist fence:\n${s.take(3000)}")
    } finally persisted.foreach(_.unpersist(blocking = false))
  }

  test("DSIR scores via a BROADCAST of the bucket log-ratio table") {
    // the operator localCheckpoints its result (plan truncated to a
    // Scan ExistingRDD), so rebuild the pre-checkpoint weight join the
    // way importanceWeightsSelf builds it
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val feats = docs.select(col("doc_id").as("id"), (col("lang") === "en").as("t"),
      explode(graft.ops.Dsir.hashedBigramBuckets(col("text"), 4096)).as("b"))
    val stats = feats.groupBy("b")
      .agg(count(lit(1)).as("cs"), count(when(col("t"), 1)).as("ct"))
    val ratio = stats.select(col("b"), (col("ct") + col("cs")).cast("double").as("r"))
    val w = feats.groupBy("id", "b").agg(count(lit(1)).as("n"))
      .join(broadcast(ratio), Seq("b"))
      .groupBy("id").agg(sum(col("n") * col("r")).as("weight"))
    val s = executed(w).toString
    assert(s.contains("BroadcastHashJoin"),
      s"the <=nBuckets ratio table must broadcast into the weight join:\n${s.take(2000)}")
  }

  test("embedding near-dup joins on capped band keys, never the raw signature") {
    val df = graft.ops.Dedup.embeddingNearDup(
      spark.read.parquet(s"$dir/embeddings.parquet").select("vec_id", "embedding"),
      checkpointResult = false)
    // the optimized LOGICAL plan: AQE erases the left-anti at this SF
    // (no hot buckets ⇒ empty build side ⇒ join eliminated), which is
    // exactly the runtime behavior we want but hides the cap's presence
    val joins = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.exists(_.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti),
      "the maxBucket cap (left-anti against hot buckets) must be in the plan")
    joins.foreach { j =>
      val keyNames = j.condition.toSeq.flatMap(_.references).map(_.name).toSet
      assert(!keyNames.contains("sig"),
        s"no join may bucket on the full signature (uncapped self-join): $keyNames")
    }
  }

  test("unpivot is a narrow Expand over the pushed scan — no shuffle before the sort") {
    val s = planString(run("q_unpivot"))
    assert(s.contains("Expand"), "unpivot should plan an Expand")
    // only the output sort may exchange; the melt itself is narrow
    val beforeSort = s.substring(s.indexOf("Expand"))
    assert(!beforeSort.contains("Exchange hashpartitioning"),
      "no hash exchange below the Expand — melt must stay narrow")
    assert(s.contains("PushedFilters: [IsNotNull(l_orderkey)"),
      "the orderkey filter must reach parquet")
  }

  test("heavy-hitter verify agg is partial (map-side combined) and candidate-filtered") {
    val df = graft.ops.TextAnalysis.heavyHitters(
      spark.read.parquet(s"$dir/documents.parquet"), k = 30)
    val s = planString(df)
    assert(s.contains("partial_count") || s.contains("HashAggregate(keys=[term"),
      "verify aggregation must be a hash agg with map-side partials")
    assert(s.contains("isin") || s.contains("IN ") || s.contains(" INSET "),
      "the candidate filter must appear below the aggregate")
  }

  test("pq search scans codes, not vectors; re-rank joins via broadcast") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val model = graft.ops.Pq.train(emb, m = 8, k = 16, iters = 2)
    val codes = graft.ops.Pq.encode(emb, model)
      .write.mode("overwrite").parquet("/tmp/planspec_pqcodes")
    val stored = spark.read.parquet("/tmp/planspec_pqcodes")
    val q = emb.where(org.apache.spark.sql.functions.col("vec_id") === 0L).head()
      .getAs[scala.collection.Seq[Float]]("embedding").toSeq
    val s = planString(graft.ops.Pq.search(stored, emb, model, q, k = 5, rerank = 20))
    assert(s.contains("TakeOrderedAndProject"),
      "ADC shortlist must be a bounded heap, not a global sort")
    assert(s.contains("BroadcastHashJoin") || s.contains("BroadcastExchange"),
      "re-rank must broadcast the shortlist to the corpus")
  }

  test("line dedup pre-reduces (hash, doc) and plans no count-distinct Expand") {
    val s = planString(run("q_line_dedup"))
    assert(!s.contains("Expand"),
      "distinct-doc line frequency must be the two-agg pre-reduce, not count(distinct)")
    assert(s.contains("xxhash64"),
      "cross-doc frequency must group the 64-bit line hash, not the line text")
    // dup marking is a BROADCAST left join of the aggregate-sized dup
    // set, so line text shuffles exactly once (per-doc reassembly)
    assert(s.contains("BroadcastHashJoin") && s.contains("LeftOuter"),
      "dup-line marking must broadcast the dup set onto the exploded lines")
  }

  test("NOT IN plans the null-aware anti join, not a cartesian filter") {
    val s = planString(run("q_null_anti"))
    // BroadcastHashJoinExec renders its isNullAwareAntiJoin flag as the
    // trailing `true` after the build side
    assert(s.contains("LeftAnti, BuildRight, true"),
      s"expected a null-aware (single-column) broadcast anti join:\n${s.take(3000)}")
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      "no nested-loop/cartesian fallback")
  }

  test("NB classifier broadcasts the model; test-side tf is map-side combined") {
    val s = planString(run("q_nb_classifier"))
    assert(s.contains("BroadcastExchange"),
      "the classes/model table must broadcast, never shuffle the corpus by term alone")
    assert(s.contains("partial_count") || s.contains("partial_sum"),
      "tf aggregation must have map-side partials")
  }

  test("a durable hashtable get is a top-1 over the key's rows, with no exchange") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val schema = StructType(Seq(StructField("user_id", LongType), StructField("tag", StringType)))
    val tmp = java.nio.file.Files.createTempDirectory("graft-plan-ht").toString
    val db = new graft.core.FlumeDb(new graft.core.ParquetLog(spark, s"$tmp/log", schema))
    db.use("ht", graft.views.PersistentHashtableView(s"$tmp/views", "user_id"))
    Seq(Seq(Row(1L, "a"), Row(2L, "b")), Seq(Row(1L, "c"))).foreach(rs =>
      db.append(spark.createDataFrame(spark.sparkContext.parallelize(rs), schema)))
    val get = db.view("ht").view.asInstanceOf[graft.views.PersistentHashtableView].get(1L)
    val s = planString(get)
    assert(s.contains("TakeOrderedAndProject") && !s.contains("Exchange"),
      s"a get must be a top-1, not the all-keys aggregate:\n${s.take(3000)}")
    assert(get.collect().map(_.getAs[String]("tag")).toSeq === Seq("c"))
    db.close()
  }
}
