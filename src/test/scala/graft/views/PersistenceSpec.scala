package graft.views

import graft.SparkSpec
import graft.core._
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.file.Files

/** Durable view lifecycle: incremental resume from the manifest cursor,
  * version-bump rebuild, orphan-batch crash safety, log method
  * passthrough. */
class PersistenceSpec extends SparkSpec {

  val schema: StructType = StructType(Seq(StructField("tag", StringType)))

  test("persistent view resumes from manifest; version bump rebuilds") {
    val logDir = Files.createTempDirectory("graft-plog").toString
    val viewDir = Files.createTempDirectory("graft-pview").toString

    // session 1: build some state
    val log1 = new ParquetLog(spark, logDir, schema)
    val db1 = new FlumeDb(log1)
    db1.use("idx", PersistentIndexView(viewDir, array(col("tag")), version = 1))
    db1.append(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row("a"), Row("b"))), schema))
    val v1 = db1.view("idx").view.asInstanceOf[PersistentIndexView]
    assert(v1.since === 1L)
    assert(v1.get("a").collect().map(_.getLong(1)).toSeq === Seq(0L))
    db1.close()

    // session 2, same version: cursor recovered, no replay needed
    val log2 = new ParquetLog(spark, logDir, schema)
    val db2 = new FlumeDb(log2)
    db2.use("idx", PersistentIndexView(viewDir, array(col("tag")), version = 1))
    val v2 = db2.view("idx").view.asInstanceOf[PersistentIndexView]
    assert(v2.since === 1L, "view cursor must be recovered from the manifest")
    assert(v2.get("b").collect().map(_.getLong(1)).toSeq === Seq(1L))
    db2.append(spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row("a"))), schema))
    assert(v2.since === 2L)
    assert(v2.get("a").collect().map(_.getLong(1)).toSeq === Seq(0L, 2L))
    db2.close()

    // session 3, bumped version: state wiped and rebuilt from the log
    val log3 = new ParquetLog(spark, logDir, schema)
    val db3 = new FlumeDb(log3)
    db3.use("idx", PersistentIndexView(viewDir, array(upper(col("tag"))), version = 2))
    val v3 = db3.view("idx").view.asInstanceOf[PersistentIndexView]
    assert(v3.since === 2L, "rebuild must replay to log parity")
    assert(v3.get("A").collect().map(_.getLong(1)).toSeq === Seq(0L, 2L),
      "rebuilt state must use the NEW (v2) mapping")
    assert(v3.get("a").collect().isEmpty)
    db3.close()
  }

  test("persistent reduce view: value survives reopen; version bump rebuilds; atomic file") {
    val numSchema = StructType(Seq(StructField("foo", LongType)))
    val logDir = Files.createTempDirectory("graft-prlog").toString
    val viewDir = Files.createTempDirectory("graft-prview").toString

    // session 1: fold some values, value + cursor land in the atomic file
    val log1 = new ParquetLog(spark, logDir, numSchema)
    val db1 = new FlumeDb(log1)
    db1.use("stats", PersistentStatsReduceView(viewDir, viewVersion = 1, "foo"))
    db1.append(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L), Row(3L))), numSchema))
    val v1 = db1.view("stats").view.asInstanceOf[PersistentReduceView[Stats]]
    assert(v1.since === 1L && v1.value === Some(Stats(2, 2.0, 2.0)))
    assert(Files.readString(java.nio.file.Paths.get(viewDir, "VALUE")).startsWith("1 1\n"))

    // session 2: reopen — cursor AND value recovered, no refold; then an
    // append advances incrementally from the stored state
    val log2 = new ParquetLog(spark, logDir, numSchema)
    val db2 = new FlumeDb(log2)
    db2.use("stats2", PersistentStatsReduceView(viewDir, viewVersion = 1, "foo"))
    val v2 = db2.view("stats2").view.asInstanceOf[PersistentReduceView[Stats]]
    assert(v2.since === 1L && v2.value === Some(Stats(2, 2.0, 2.0)))
    db2.append(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(5L))), numSchema))
    assert(v2.value.map(_.n) === Some(3L))
    assert(v2.value.map(_.mean) === Some(3.0))
    assert(v2.get(Seq("mean")) === Some(3.0)) // path read on the durable view

    // session 3: version bump wipes the stored value and rebuilds from the log
    val log3 = new ParquetLog(spark, logDir, numSchema)
    val db3 = new FlumeDb(log3)
    db3.use("stats3", PersistentStatsReduceView(viewDir, viewVersion = 2, "foo"))
    val v3 = db3.view("stats3").view.asInstanceOf[PersistentReduceView[Stats]]
    assert(v3.since === 2L, "rebuild must replay the whole log after a version bump")
    assert(v3.value.map(_.n) === Some(3L))
    assert(Files.readString(java.nio.file.Paths.get(viewDir, "VALUE")).startsWith("2 2\n"))
  }

  test("persistent hashtable: reopen at parity, LSM merge across deltas, compaction + crash recovery") {
    val kvSchema = StructType(Seq(StructField("k", LongType), StructField("v", StringType)))
    val logDir = Files.createTempDirectory("graft-phlog").toString
    val viewDir = Files.createTempDirectory("graft-phview").toString

    val log1 = new ParquetLog(spark, logDir, kvSchema)
    val db1 = new FlumeDb(log1)
    db1.use("ht", PersistentHashtableView(viewDir, "k"))
    db1.append(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L, "a"), Row(2L, "b"))), kvSchema))
    db1.append(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L, "a2"))), kvSchema)) // upsert key 1
    val v1 = db1.view("ht").view.asInstanceOf[PersistentHashtableView]
    assert(v1.since === 2L)
    // LSM read: latest across two deltas
    assert(v1.get(1L).head().getString(2) === "a2")
    assert(v1.get(2L).head().getString(2) === "b")

    // reopen: manifest cursor recovered, merged state identical, no replay
    val log2 = new ParquetLog(spark, logDir, kvSchema)
    val db2 = new FlumeDb(log2)
    db2.use("ht", PersistentHashtableView(viewDir, "k"))
    val v2 = db2.view("ht").view.asInstanceOf[PersistentHashtableView]
    assert(v2.since === 2L)
    assert(v2.get(1L).head().getString(2) === "a2")

    // compaction collapses the deltas; results unchanged
    v2.compact()
    val dirs = new java.io.File(s"$viewDir/ht").listFiles().map(_.getName).filter(_.startsWith("batch=")).sorted
    assert(dirs.toSeq === Seq("batch=2"), s"expected one base delta, got ${dirs.toSeq}")
    assert(v2.get(1L).head().getString(2) === "a2")
    assert(v2.frame.count() === 2L)

    // crash window A: death between the deletes and the move — base left
    // in compact.tmp with the cursor marker committed, no committed
    // deltas; open must adopt it
    val root = java.nio.file.Paths.get(s"$viewDir/ht")
    java.nio.file.Files.move(root.resolve("batch=2"), root.resolve("compact.tmp"))
    java.nio.file.Files.writeString(root.resolve("compact.cursor"), "2")
    val db3 = new FlumeDb(new ParquetLog(spark, logDir, kvSchema))
    db3.use("ht", PersistentHashtableView(viewDir, "k"))
    val v3 = db3.view("ht").view.asInstanceOf[PersistentHashtableView]
    assert(v3.since === 2L)
    assert(v3.get(1L).head().getString(2) === "a2", "open must adopt the complete compact.tmp")

    // crash window B: death PARTWAY through the deletes — marker + tmp
    // complete, a PARTIAL delta set remains on disk. Reading the partial
    // set would silently lose keys whose latest lived in a deleted
    // delta; open must adopt the tmp instead.
    db3.append(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L, "a3"))), kvSchema)) // delta batch=3
    assert(v3.since === 3L)
    v3.frame.write.parquet(root.resolve("compact.tmp").toString) // what compact() writes
    java.nio.file.Files.writeString(root.resolve("compact.cursor"), "3")
    // the crash deleted batch=2 (which held key 2's only record) but not batch=3
    graft.views.FsLists.walkDeepestFirst(root.resolve("batch=2")).foreach(java.nio.file.Files.delete)
    val db4 = new FlumeDb(new ParquetLog(spark, logDir, kvSchema))
    db4.use("ht", PersistentHashtableView(viewDir, "k"))
    val v4 = db4.view("ht").view.asInstanceOf[PersistentHashtableView]
    assert(v4.since === 3L)
    assert(v4.get(2L).head().getString(2) === "b",
      "adopting the tmp must recover the key whose latest lived in a deleted delta")
    assert(v4.get(1L).head().getString(2) === "a3")
    val dirs4 = new java.io.File(s"$viewDir/ht").listFiles().map(_.getName)
      .filter(_.startsWith("batch=")).sorted
    assert(dirs4.toSeq === Seq("batch=3"), s"tmp adopted as the single base, got ${dirs4.toSeq}")
  }

  test("hashtable snapshot reads: frameAsOf travels the delta chain; compaction folds it") {
    val kvSchema = StructType(Seq(StructField("k", LongType), StructField("v", StringType)))
    val viewDir = Files.createTempDirectory("graft-asof").toString
    val v = new PersistentHashtableView(spark, s"$viewDir/ht", 1, "k", "seq")
    def batch(rows: Seq[Row], upto: Long): Unit = {
      val withSeq = rows.zipWithIndex.map { case (r, i) => Row(upto - rows.length + i + 1, r.getLong(0), r.getString(1)) }
      val schema = StructType(StructField("seq", LongType) +: kvSchema.fields.toIndexedSeq)
      v.absorb(spark.createDataFrame(spark.sparkContext.parallelize(withSeq), schema), upto)
    }
    batch(Seq(Row(1L, "a"), Row(2L, "b")), 1L)  // seqs 0, 1
    batch(Seq(Row(1L, "a2")), 2L)               // seq 2 upserts key 1
    // as of the first batch: key 1 still "a"
    val snap = v.frameAsOf(1L).collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(snap === Map(1L -> "a", 2L -> "b"))
    // as of the head: identical to frame
    val head = v.frameAsOf(2L).collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(head === Map(1L -> "a2", 2L -> "b"))
    // before any committed batch: no state to read
    intercept[IllegalStateException](v.frameAsOf(0L))
    // compaction folds history: the old snapshot is gone, head unchanged
    v.compact()
    intercept[IllegalStateException](v.frameAsOf(1L))
    assert(v.frameAsOf(2L).collect().map(r => r.getLong(0) -> r.getString(2)).toMap === head)
  }

  test("persistent bloom view: sketch survives reopen; version bump rebuilds") {
    val kSchema = StructType(Seq(StructField("k", StringType)))
    val logDir = Files.createTempDirectory("graft-pblog").toString
    val viewDir = Files.createTempDirectory("graft-pbview").toString

    val db1 = new FlumeDb(new ParquetLog(spark, logDir, kSchema))
    db1.use("bloom", PersistentBloomView(viewDir, "k", expectedItems = 1000))
    db1.append(spark.createDataFrame(spark.sparkContext.parallelize(
      Seq(Row("alpha"), Row("beta"))), kSchema))
    val v1 = db1.view("bloom").view.asInstanceOf[PersistentBloomView]
    assert(v1.mightContain("alpha") && v1.mightContain("beta"))

    // reopen: membership answered from the stored sketch, no replay
    val db2 = new FlumeDb(new ParquetLog(spark, logDir, kSchema))
    db2.use("bloom", PersistentBloomView(viewDir, "k", expectedItems = 1000))
    val v2 = db2.view("bloom").view.asInstanceOf[PersistentBloomView]
    assert(v2.since === 1L)
    assert(v2.mightContain("alpha") && v2.mightContain("beta"))
    // no false negatives after an incremental absorb either
    db2.append(spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row("gamma"))), kSchema))
    assert(v2.mightContain("gamma") && v2.since === 2L)

    // version bump: stored sketch wiped, full log refolded at mount
    val db3 = new FlumeDb(new ParquetLog(spark, logDir, kSchema))
    db3.use("bloom", PersistentBloomView(viewDir, "k", expectedItems = 1000, version = 2))
    val v3 = db3.view("bloom").view.asInstanceOf[PersistentBloomView]
    assert(v3.since === 2L)
    assert(v3.mightContain("alpha") && v3.mightContain("gamma"))
  }

  test("durable search index is PersistentIndexView with a tokenizer key (posting lists)") {
    val txtSchema = StructType(Seq(StructField("text", StringType)))
    val logDir = Files.createTempDirectory("graft-pslog").toString
    val viewDir = Files.createTempDirectory("graft-psview").toString
    val tokenKeys = array_distinct(filter(split(lower(col("text")), "[^a-z0-9]+"), t => t =!= ""))

    val db1 = new FlumeDb(new ParquetLog(spark, logDir, txtSchema))
    db1.use("search", PersistentIndexView(viewDir, tokenKeys))
    db1.append(spark.createDataFrame(spark.sparkContext.parallelize(
      Seq(Row("spark joins data"), Row("duck data bills"))), txtSchema))
    val v1 = db1.view("search").view.asInstanceOf[PersistentIndexView]
    assert(v1.get("data").collect().map(_.getLong(1)).toSeq === Seq(0L, 1L))
    assert(v1.get("spark").collect().map(_.getLong(1)).toSeq === Seq(0L))

    // reopen: postings served from disk at parity, no replay
    val db2 = new FlumeDb(new ParquetLog(spark, logDir, txtSchema))
    db2.use("search", PersistentIndexView(viewDir, tokenKeys))
    val v2 = db2.view("search").view.asInstanceOf[PersistentIndexView]
    assert(v2.since === 1L)
    assert(v2.get("bills").collect().map(_.getLong(1)).toSeq === Seq(1L))
  }

  test("orphaned uncommitted batch directories are ignored by readers") {
    val viewDir = Files.createTempDirectory("graft-orphan").toString
    val log = new MemoryLog(spark, schema)
    val db = new FlumeDb(log)
    db.use("idx", PersistentIndexView(viewDir, array(col("tag"))))
    db.append(spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row("x"))), schema))
    val v = db.view("idx").view.asInstanceOf[PersistentIndexView]
    // simulate a crash: a batch directory beyond the committed cursor
    spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row("phantom", 99L))),
      StructType(Seq(StructField("key", StringType), StructField("seq", LongType))))
      .write.parquet(s"$viewDir/idx/batch=99")
    assert(v.frame.count() === 1L, "uncommitted delta must be invisible")
    assert(v.get("phantom").collect().isEmpty)
  }

  test("orphaned batch dirs cannot resurrect once the cursor passes them") {
    // regression: an orphan batch=<upto> written just before a crash was
    // ignored at first, but once a post-restart absorb advanced the
    // cursor past <upto> the stale delta became visible, duplicating
    // entries. Construction must prune orphans (mirroring the counted
    // re-delivery discipline of /root/reference/test/rebuild.js:19-62).
    val viewDir = Files.createTempDirectory("graft-orphan2").toString
    val log = new MemoryLog(spark, schema)
    val db = new FlumeDb(log)
    db.use("idx", PersistentIndexView(viewDir, array(col("tag"))))
    db.append(spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row("x"))), schema))
    db.close()

    // simulate the crash: a delta landed for upto=4 but the manifest write
    // never happened (manifest still says 0). A later absorb lands at
    // upto=5, so without pruning the orphan would sit strictly below the
    // cursor and never be overwritten — permanently visible.
    spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row("phantom", 3L))),
      StructType(Seq(StructField("key", StringType), StructField("seq", LongType))))
      .write.parquet(s"$viewDir/idx/batch=4")

    // restart: orphan must be pruned at construction...
    val log2 = new MemoryLog(spark, schema)
    log2.appendRows(Seq(Row("x")))
    val db2 = new FlumeDb(log2)
    db2.use("idx", PersistentIndexView(viewDir, array(col("tag"))))
    val v2 = db2.view("idx").view.asInstanceOf[PersistentIndexView]
    assert(!new java.io.File(s"$viewDir/idx/batch=4").exists(),
      "orphan batch dir beyond the manifest cursor must be deleted on construction")

    // ...so advancing the cursor past the orphan's upto shows no phantoms
    db2.append(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row("y"), Row("y"), Row("y"), Row("y"), Row("y"))), schema))
    assert(v2.since >= 5L)
    assert(v2.get("phantom").collect().isEmpty, "stale overlapping delta must never become visible")
    assert(v2.frame.where(col("key") === "x").count() === 1L, "no duplicated entries after recovery")
  }

  test("index and signature views share the compaction protocol: one base delta, reads unchanged") {
    // index view: 3 absorbed batches -> compact -> single base dir,
    // postings and snapshot reads identical
    val viewDir = Files.createTempDirectory("graft-cmpidx").toString
    val v = new PersistentIndexView(spark, s"$viewDir/idx", 1, array(col("tag")), "seq")
    val s2 = StructType(Seq(StructField("tag", StringType), StructField("seq", LongType)))
    def rows(rs: (String, Long)*) = spark.createDataFrame(
      spark.sparkContext.parallelize(rs.map { case (t, s) => Row(t, s) }), s2)
    v.absorb(rows("a" -> 0L, "b" -> 1L), 1L)
    v.absorb(rows("a" -> 2L), 2L)
    v.absorb(rows("c" -> 3L), 3L)
    val before = v.frame.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val snapBefore = v.frameAsOf(2L).collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(snapBefore === Set("a" -> 0L, "b" -> 1L, "a" -> 2L),
      "snapshot read stops at the cursor's delta chain")
    v.compact()
    val dirs = new java.io.File(s"$viewDir/idx").listFiles().map(_.getName)
      .filter(_.startsWith("batch=")).sorted
    assert(dirs.toSeq === Seq("batch=3"), s"expected one base delta, got ${dirs.toSeq}")
    assert(v.frame.collect().map(r => (r.getString(0), r.getLong(1))).toSet === before)
    assert(v.get("a").collect().map(_.getLong(1)).toSeq === Seq(0L, 2L))
    intercept[IllegalStateException](v.frameAsOf(2L)) // history folded into the base

    // reopen after compaction: cursor intact, base served
    val v2 = new PersistentIndexView(spark, s"$viewDir/idx", 1, array(col("tag")), "seq")
    assert(v2.since === 3L)
    assert(v2.frame.collect().map(r => (r.getString(0), r.getLong(1))).toSet === before)

    // signature table: same protocol through the shared trait
    val sigDir = Files.createTempDirectory("graft-cmpsig").toString
    val sv = new SignatureTableView(spark, s"$sigDir/sig", 1, "doc_id", "text")
    val ds = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
    def docs(rs: (Long, String)*) = spark.createDataFrame(
      spark.sparkContext.parallelize(rs.map { case (i, t) => Row(i, t) }), ds)
    sv.absorb(docs(1L -> "alpha beta gamma delta", 2L -> "one two three four"), 1L)
    sv.absorb(docs(3L -> "alpha beta gamma delta"), 2L)
    val sigsBefore = sv.sigs.select("id", "sig").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    sv.compact()
    val sigDirs = new java.io.File(s"$sigDir/sig").listFiles().map(_.getName)
      .filter(_.startsWith("batch=")).sorted
    assert(sigDirs.toSeq === Seq("batch=2"))
    val sigsAfter = sv.sigs.select("id", "sig").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigsAfter === sigsBefore, "compaction must not change a single signature")
  }

  test("GramTableView: durable deltas, reopen, batch span check, dedup compaction") {
    import spark.implicits._
    val gDir = Files.createTempDirectory("graft-gram").toString
    val v = new GramTableView(spark, s"$gDir/g", 1, "doc_id", "text")
    val d1 = Seq((1L, (1 to 30).map(i => s"alpha$i").mkString(" "))).toDF("doc_id", "text")
    val d2 = Seq((2L, (1 to 30).map(i => s"beta$i").mkString(" ")),
      // doc 3 repeats doc 1's text: its grams are already in delta 1
      (3L, (1 to 30).map(i => s"alpha$i").mkString(" "))).toDF("doc_id", "text")
    v.absorb(d1, 1L)
    v.absorb(d2, 2L)
    val nDistinct = v.grams.count()
    // 2 distinct vocabularies x 16 gram positions each
    assert(nDistinct === 32L, s"got $nDistinct")
    // reopen at parity
    val v2 = new GramTableView(spark, s"$gDir/g", 1, "doc_id", "text")
    assert(v2.since === 2L && v2.grams.count() === nDistinct)
    // batch span check against the stored corpus
    val batch = Seq((100L, ((5 to 24).map(i => s"alpha$i") ++ Seq("zz1", "zz2")).mkString(" ")))
      .toDF("doc_id", "text")
    val spans = v2.spansForBatch(batch)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(spans.toSeq === Seq((100L, 1L, 20L)), s"got ${spans.toSeq}")
    // compaction dedups the union into one base delta, answers unchanged
    v2.compact()
    val dirs = new java.io.File(s"$gDir/g").listFiles().map(_.getName)
      .filter(_.startsWith("batch=")).sorted
    assert(dirs.toSeq === Seq("batch=2"))
    assert(v2.grams.count() === nDistinct)
    // the base holds exactly the distinct DOC-ATTRIBUTED postings (no
    // re-distinct debt): doc 3 repeats doc 1's 16 grams under its own id
    assert(spark.read.parquet(s"$gDir/g/batch=2").count() === 48L)
    // takedown: doc 3's postings leave; doc 1's identical grams SURVIVE
    // under doc 1's attribution (the shared text is still in the corpus)
    v2.retractWhere(col("doc_id") === 3L)
    assert(v2.grams.count() === nDistinct,
      "gram set unchanged — doc 1 still attests the shared grams")
    v2.retractWhere(col("doc_id") === 1L)
    assert(v2.grams.count() === 16L,
      "retracting the last attesting doc removes its grams")
    val spansAfter = v2.spansForBatch(batch).collect()
    assert(spansAfter.isEmpty,
      "a re-ingested copy of retracted text must NOT match ghost postings")
  }

  test("PhashTableView: durable deltas, reopen at parity, incremental dedup, compaction") {
    import spark.implicits._
    val phDir = Files.createTempDirectory("graft-phash").toString
    val v = new PhashTableView(spark, s"$phDir/ph", 1)
    val rnd = new scala.util.Random(11)
    val b1 = (0L until 60L).map(i => (i, rnd.nextLong()))
    val b2 = (60L until 100L).map(i => (i, rnd.nextLong()))
    v.absorbHashes(b1.toDF("media_id", "phash"), 1L)
    v.absorbHashes(b2.toDF("media_id", "phash"), 2L)
    assert(v.hashes.count() === 100L)
    // reopen from the manifest: a new instance sees both deltas
    val v2 = new PhashTableView(spark, s"$phDir/ph", 1)
    assert(v2.since === 2L && v2.hashes.count() === 100L)
    // incremental dedup: 1-bit flips of ids from BOTH stored batches
    val batch = Seq((1000L, b1(5)._2 ^ 1L), (1001L, b2(10)._2 ^ (1L << 40)),
      (1002L, rnd.nextLong()))
    val pairs = v2.dedupBatchHashes(batch.toDF("media_id", "phash"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1000L, 5L)) && pairs.contains((1001L, 70L)),
      s"planted flips must match their stored originals, got $pairs")
    // compaction collapses the chain without changing a single hash
    val before = v2.hashes.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    v2.compact()
    val dirs = new java.io.File(s"$phDir/ph").listFiles().map(_.getName)
      .filter(_.startsWith("batch=")).sorted
    assert(dirs.toSeq === Seq("batch=2"))
    assert(v2.hashes.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap === before)
  }

  test("EmbeddingSigTableView: durable deltas, reopen, stored dedup == direct, compaction") {
    val esDir = Files.createTempDirectory("graft-esig").toString
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")
    val n = emb.count()
    val v = new EmbeddingSigTableView(spark, s"$esDir/es", 1)
    v.absorb(emb.where(col("vec_id") < 200), 1L)
    v.absorb(emb.where(col("vec_id") >= 200), 2L)
    assert(v.sigs.count() === n)
    // stored sigs == the direct signature pass (hashed once, at ingest)
    val direct = emb.select(col("vec_id"),
      graft.ops.Similarity.hyperplaneSignature(col("embedding"), 32).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(v.sigs.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap === direct)
    // reopen from the manifest
    val v2 = new EmbeddingSigTableView(spark, s"$esDir/es", 1)
    assert(v2.since === 2L && v2.sigs.count() === n)
    // incremental dedup against the stored table: every re-encoded
    // copy finds exactly its original at cos 1.0
    val batch = emb.select((col("vec_id") + 10000).as("vec_id"),
      transform(col("embedding"), x => (x * lit(1.001)).cast("float")).as("embedding"))
    val pairs = v2.dedupBatch(batch, emb)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pairs.size === n && pairs.forall { case (a, b, c) => a == b + 10000L && c == 1.0 },
      s"stored dedup must find every planted copy, got ${pairs.size}/$n")
    // compaction collapses the chain without changing a signature
    v2.compact()
    val dirs = new java.io.File(s"$esDir/es").listFiles().map(_.getName)
      .filter(_.startsWith("batch=")).toSeq
    assert(dirs === Seq("batch=2"))
    assert(v2.sigs.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap === direct)
  }

  test("EmbeddingSigTableView.annSearch == one-off signature-table ANN; fence fallback agrees") {
    val esDir = Files.createTempDirectory("graft-esig-ann").toString
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")
    val v = new EmbeddingSigTableView(spark, s"$esDir/es", 1)
    v.absorb(emb.where(col("vec_id") < 200), 1L)
    v.absorb(emb.where(col("vec_id") >= 200), 2L)
    val q = emb.where(col("vec_id") === 0L)
      .head().getAs[scala.collection.Seq[Float]]("embedding").toSeq
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val stored = key(v.annSearch(q, emb, 10, maxHamming = 16, excludeId = Some(0L)))
    // parity with the one-off table path: SAME artifact semantics, one
    // build (32-bit sigs on both sides, same hamming budget)
    val oneOff = key(graft.ops.Similarity.annForVector(
      graft.ops.Similarity.withHyperplaneSignatures(emb, nBits = 32),
      q, 10, nBits = 32, maxHamming = 16, excludeId = Some(0L), sigCol = Some("sig")))
    assert(stored.nonEmpty && stored === oneOff,
      s"view-served ANN must equal the one-off signature table's:\nstored=$stored\noneOff=$oneOff")
    // the candidate-id fence's shuffle arm returns the same top-k
    assert(key(v.annSearch(q, emb, 10, maxHamming = 16, excludeId = Some(0L),
      maxBroadcastKeys = 0L)) === stored)
  }

  test("AudioFingerprintTableView: durable deltas, reopen at parity, incremental dedup, compaction") {
    import spark.implicits._
    val afDir = Files.createTempDirectory("graft-afp").toString
    val v = new AudioFingerprintTableView(spark, s"$afDir/af", 1)
    val rnd = new scala.util.Random(13)
    // precomputed 3-column deltas: the v2 contract stores the near-dup
    // length gate (n_windows) beside each fingerprint
    val b1 = (0L until 60L).map(i => (i, 52L, rnd.nextLong()))
    val b2 = (60L until 100L).map(i => (i, 52L, rnd.nextLong()))
    v.absorbFingerprints(b1.toDF("media_id", "n_windows", "afp"), 1L)
    v.absorbFingerprints(b2.toDF("media_id", "n_windows", "afp"), 2L)
    assert(v.fingerprints.count() === 100L)
    // reopen from the manifest: a new instance sees both deltas
    val v2 = new AudioFingerprintTableView(spark, s"$afDir/af", 1)
    assert(v2.since === 2L && v2.fingerprints.count() === 100L)
    // incremental dedup: 1-bit flips of ids from BOTH stored batches
    val batch = Seq((1000L, 52L, b1(5)._3 ^ 1L), (1001L, 52L, b2(10)._3 ^ (1L << 40)),
      (1002L, 52L, rnd.nextLong()))
    val pairs = v2.dedupBatchFingerprints(batch.toDF("media_id", "n_windows", "afp"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1000L, 5L)) && pairs.contains((1001L, 70L)),
      s"planted flips must match their stored originals, got $pairs")
    // compaction collapses the chain without changing a count or print
    val before = v2.fingerprints.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    v2.compact()
    val dirs = new java.io.File(s"$afDir/af").listFiles().map(_.getName)
      .filter(_.startsWith("batch=")).sorted
    assert(dirs.toSeq === Seq("batch=2"))
    assert(v2.fingerprints.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap === before)
    // the decode-at-ingest path: absorbing real WAV media lands the same
    // prints audioFingerprint computes
    val afDir2 = Files.createTempDirectory("graft-afp2").toString
    val media = graft.ops.Multimodal.syntheticWavMedia(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(30),
      textured = true)
    val vm = new AudioFingerprintTableView(spark, s"$afDir2/af", 1)
    vm.absorb(media, 1L)
    val direct = graft.ops.Multimodal.audioFingerprint(media)
      .select("media_id", "n_windows", "afp").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(vm.fingerprints.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap === direct)
  }

  test("Scd2TableView: stored == rebuild at every split, asOf, reopen, compaction, version bump") {
    val dir = Files.createTempDirectory("graft-scd2").toString
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select(col("user_id"), col("event_id"), col("event_type"))
    val mx = ev.agg(max("event_id")).head().getLong(0)
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)).map(_.toString),
        r.getBoolean(3), r.getString(4))).toSet
    def rebuild(upTo: Long) = Scd2.dimension(
      ev.where(col("event_id") <= upTo), "user_id", "event_id", Seq("event_type"))
    val splits = Seq(mx / 3, mx * 2 / 3, mx)
    val v = new Scd2TableView(spark, s"$dir/d", 1, "user_id", "event_id", Seq("event_type"))
    var lo = -1L
    splits.foreach { hi =>
      v.absorb(ev.where(col("event_id") > lo && col("event_id") <= hi), hi)
      lo = hi
      // stored == rebuild at EVERY split: intervals open at one delta's
      // tail must close the moment the next delta lands
      assert(canon(v.dimension) === canon(rebuild(hi)),
        s"stored dimension must equal the rebuild through seq $hi")
    }
    // batch-granular time travel agrees with the record-granular rebuild
    // at the batch boundary; the record-granular asOf agrees everywhere
    assert(canon(v.frameAsOf(splits.head)) === canon(rebuild(splits.head)))
    val at = mx / 2
    assert(canon(v.asOf(at)) ===
      canon(Scd2.asOf(rebuild(mx), at)),
      "stored as-of read == Scd2.asOf of the full rebuild")
    // reopen from the manifest
    val v2 = new Scd2TableView(spark, s"$dir/d", 1, "user_id", "event_id", Seq("event_type"))
    assert(v2.since === mx && canon(v2.dimension) === canon(rebuild(mx)))
    // compaction folds the closed intervals into ONE base delta without
    // changing a single version row
    v2.compact()
    val dirs = new java.io.File(s"$dir/d").listFiles().map(_.getName)
      .filter(_.startsWith("batch=")).toSeq
    assert(dirs === Seq(s"batch=$mx"))
    assert(canon(v2.dimension) === canon(rebuild(mx)))
    // a version bump wipes back to since = -1 (the flume rebuild rule)
    val v3 = new Scd2TableView(spark, s"$dir/d", 2, "user_id", "event_id", Seq("event_type"))
    assert(v3.since === -1L)
  }

  test("Scd2TableView: compaction crash windows recover the full dimension") {
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select(col("user_id"), col("event_id"), col("event_type"))
    val mx = ev.agg(max("event_id")).head().getLong(0)
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)).map(_.toString),
        r.getBoolean(3), r.getString(4))).toSet
    val direct = canon(Scd2.dimension(ev, "user_id", "event_id", Seq("event_type")))
    def fresh(dir: String) = {
      val v = new Scd2TableView(spark, dir, 1, "user_id", "event_id", Seq("event_type"))
      v.absorb(ev.where(col("event_id") <= mx / 2), mx / 2)
      v.absorb(ev.where(col("event_id") > mx / 2), mx)
      v
    }
    // crash window A: death between the delta deletes and the move —
    // the complete base sits in compact.tmp with the cursor marker
    // committed and no committed deltas; open must adopt it
    val dirA = Files.createTempDirectory("graft-scd2cwa").toString + "/d"
    val va = fresh(dirA)
    va.compact()
    val rootA = java.nio.file.Paths.get(dirA)
    java.nio.file.Files.move(rootA.resolve(s"batch=$mx"), rootA.resolve("compact.tmp"))
    java.nio.file.Files.writeString(rootA.resolve("compact.cursor"), mx.toString)
    val va2 = new Scd2TableView(spark, dirA, 1, "user_id", "event_id", Seq("event_type"))
    assert(va2.since === mx)
    assert(canon(va2.dimension) === direct, "open must adopt the complete compact.tmp")
    // crash window B: death PARTWAY through the deletes — marker + tmp
    // complete, a PARTIAL delta set remains. Reading the partial set
    // would lose every version in the deleted delta AND leave later
    // intervals mis-opened; open must adopt the tmp instead.
    val dirB = Files.createTempDirectory("graft-scd2cwb").toString + "/d"
    val vb = fresh(dirB)
    val rootB = java.nio.file.Paths.get(dirB)
    vb.dimension.write.parquet(rootB.resolve("compact.tmp").toString) // what compact() writes
    java.nio.file.Files.writeString(rootB.resolve("compact.cursor"), mx.toString)
    graft.views.FsLists.walkDeepestFirst(rootB.resolve(s"batch=${mx / 2}"))
      .foreach(java.nio.file.Files.delete)
    val vb2 = new Scd2TableView(spark, dirB, 1, "user_id", "event_id", Seq("event_type"))
    assert(vb2.since === mx)
    assert(canon(vb2.dimension) === direct,
      "adopting the tmp must recover the versions whose rows lived in the deleted delta")
    val dirsB = new java.io.File(dirB).listFiles().map(_.getName)
      .filter(_.startsWith("batch=")).toSeq
    assert(dirsB === Seq(s"batch=$mx"), s"tmp adopted as the single base, got $dirsB")
  }

  test("Scd2TableView: post-compaction deltas still close the base's open intervals") {
    val dir = Files.createTempDirectory("graft-scd2pc").toString
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select(col("user_id"), col("event_id"), col("event_type"))
    val mx = ev.agg(max("event_id")).head().getLong(0)
    val v = new Scd2TableView(spark, s"$dir/d", 1, "user_id", "event_id", Seq("event_type"))
    v.absorb(ev.where(col("event_id") <= mx / 2), mx / 2)
    v.compact() // no-op on a single delta, but exercises the guard
    v.absorb(ev.where(col("event_id") > mx / 2 && col("event_id") <= mx * 3 / 4), mx * 3 / 4)
    v.compact() // base now carries intervals still OPEN at 3mx/4
    v.absorb(ev.where(col("event_id") > mx * 3 / 4), mx)
    val direct = Scd2.dimension(ev, "user_id", "event_id", Seq("event_type"))
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)).map(_.toString),
        r.getBoolean(3), r.getString(4))).toSet
    assert(canon(v.dimension) === canon(direct),
      "a delta landing after compaction must close the base's open intervals")
  }

  test("stored containment sweeps == one-shot over the same corpus (audio grams, video frames)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // audio: originals in one delta, re-cuts in a second — the sweep
    // over the stored table must equal the one-shot over the union
    val agDir = Files.createTempDirectory("graft-agsweep").toString
    val media = graft.ops.Multimodal.syntheticWavMedia(docs, textured = true)
    val clips = graft.ops.Multimodal.syntheticWavClip(docs, gain = 2)
    val av = new AudioGramTableView(spark, s"$agDir/ag", 1)
    av.absorb(media, 1L)
    av.absorb(clips, 2L)
    def canon4(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val aStored = canon4(av.containmentSweep())
    val aDirect = canon4(graft.ops.Multimodal.audioContainmentSweep(media.unionByName(clips)))
    assert(aStored === aDirect && aStored.nonEmpty,
      s"stored audio sweep must equal the one-shot (${aStored.size} vs ${aDirect.size})")
    // video: same discipline on the frame-hash table
    val fhDir = Files.createTempDirectory("graft-fhsweep").toString
    val vids = graft.ops.Multimodal.syntheticTextureGifMedia(docs)
    val vclips = graft.ops.Multimodal.syntheticTextureGifClip(docs)
    val fv = new FrameHashTableView(spark, s"$fhDir/fh", 1)
    fv.absorb(vids, 1L)
    fv.absorb(vclips, 2L)
    val vStored = canon4(fv.containmentSweep())
    val vDirect = canon4(graft.ops.Multimodal.videoContainmentSweep(
      graft.ops.Multimodal.videoFrameHashes(vids.unionByName(vclips))))
    assert(vStored === vDirect && vStored.nonEmpty,
      s"stored video sweep must equal the one-shot (${vStored.size} vs ${vDirect.size})")
  }

  test("AudioGramTableView: durable positional grams, reopen, stored containment, compaction") {
    val agDir = Files.createTempDirectory("graft-agram").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val media = graft.ops.Multimodal.syntheticWavMedia(docs, textured = true)
    val v = new AudioGramTableView(spark, s"$agDir/ag", 1)
    // two deltas split the corpus; positions must survive the raw union
    v.absorb(media.where(col("media_id") < 200), 1L)
    v.absorb(media.where(col("media_id") >= 200), 2L)
    val direct = graft.ops.Multimodal.audioGrams(media)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(v.grams.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      === direct, "stored grams == direct gram pass over the whole corpus")
    // reopen from the manifest
    val v2 = new AudioGramTableView(spark, s"$agDir/ag", 1)
    assert(v2.since === 2L)
    // stored containment: every planted clip found at its cut offset
    val clips = graft.ops.Multimodal.syntheticWavClip(docs, gain = 2)
    val hits = v2.containsBatch(clips)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val n = media.count()
    assert(hits.count { case (c, p, off) => p == c - 90000L && off == 8L } === n)
    assert(hits.size === n.toInt, s"no extra containments, got ${hits.size} vs $n")
    // compaction rewrites to one base without losing a position
    v2.compact()
    val dirs = new java.io.File(s"$agDir/ag").listFiles().map(_.getName)
      .filter(_.startsWith("batch=")).sorted
    assert(dirs.toSeq === Seq("batch=2"))
    assert(v2.grams.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      === direct)
  }

  test("FrameHashTableView: durable per-frame hashes, reopen, incremental video dedup, compaction") {
    val fhDir = Files.createTempDirectory("graft-fhash").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val media = graft.ops.Multimodal.syntheticTextureGifMedia(docs)
    val v = new FrameHashTableView(spark, s"$fhDir/fh", 1)
    v.absorb(media.where(col("media_id") < 200), 1L)
    v.absorb(media.where(col("media_id") >= 200), 2L)
    val direct = graft.ops.Multimodal.videoFrameHashes(media)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(v.hashes.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      === direct, "stored frame hashes == direct pass over the whole corpus")
    // reopen + incremental dedup of exact re-encodes: total recall
    val v2 = new FrameHashTableView(spark, s"$fhDir/fh", 1)
    assert(v2.since === 2L)
    val batch = graft.ops.Multimodal.syntheticTextureGifMedia(docs, idOffset = 120000L)
    val hits = v2.dedupBatch(batch)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    val n = media.count()
    assert(hits.count { case (a, b, mh) => a == b + 120000L && mh == 0L } === n,
      s"exact re-encodes vs stored table: ${hits.size}/$n")
    // compaction rewrites to one base without losing a frame
    v2.compact()
    val dirs = new java.io.File(s"$fhDir/fh").listFiles().map(_.getName)
      .filter(_.startsWith("batch=")).sorted
    assert(dirs.toSeq === Seq("batch=2"))
    assert(v2.hashes.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      === direct)
  }

  test("auto-compaction bounds the delta chain: compactEvery collapses inline during absorbs") {
    val viewDir = Files.createTempDirectory("graft-autocmp").toString
    val v = new PersistentIndexView(spark, s"$viewDir/idx", 1, array(col("tag")), "seq",
      compactEvery = 3)
    val s2 = StructType(Seq(StructField("tag", StringType), StructField("seq", LongType)))
    def rows(rs: (String, Long)*) = spark.createDataFrame(
      spark.sparkContext.parallelize(rs.map { case (t, s) => Row(t, s) }), s2)
    def deltaCount = new java.io.File(s"$viewDir/idx").listFiles()
      .map(_.getName).count(_.startsWith("batch="))
    (1 to 7).foreach { i => v.absorb(rows(s"t$i" -> i.toLong), i.toLong) }
    // every absorb that reaches 3 committed deltas collapses them, so the
    // chain never exceeds the bound
    assert(deltaCount <= 3, s"auto-compaction must bound the chain, got $deltaCount dirs")
    assert(v.since === 7L)
    assert(v.frame.count() === 7L, "no rows lost across inline compactions")
    (1 to 7).foreach { i =>
      assert(v.get(s"t$i").collect().map(_.getLong(1)).toSeq === Seq(i.toLong))
    }
  }

  test("IVF compaction keeps the per-cell layout: probes still prune the compacted base") {
    val viewDir = Files.createTempDirectory("graft-cmpivf").toString
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")
    val v = new IVFIndexView(spark, s"$viewDir/ivf", 1, "vec_id", "embedding", 4)
    val (lo, hi) = (emb.where(col("vec_id") < 250), emb.where(col("vec_id") >= 250))
    v.absorb(lo, 1L)
    v.absorb(hi, 2L)
    val query = emb.where(col("vec_id") === 0L).head()
      .getAs[scala.collection.Seq[Float]]("embedding").toSeq
    val before = v.search(query, 10, nProbe = 2, excludeId = Some(0L))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    v.compact()
    val dirs = new java.io.File(s"$viewDir/ivf").listFiles().map(_.getName)
      .filter(_.startsWith("batch=")).sorted
    assert(dirs.toSeq === Seq("batch=2"), s"expected one base delta, got ${dirs.toSeq}")
    val cellDirs = new java.io.File(s"$viewDir/ivf/batch=2").listFiles().map(_.getName)
      .filter(_.startsWith("cell="))
    assert(cellDirs.length >= 2, "base must keep one directory per cell")
    assert(v.search(query, 10, nProbe = 2, excludeId = Some(0L))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq === before,
      "search over the compacted base must be identical")
    // probing still prunes at plan time over the base
    val probeFrame = v.frame
    val probed = v.frame.where(col("cell").isin(0L, 1L))
    val (total, read) = graft.sources.Layout.pruningCounts(probeFrame, probed)
    assert(read < total, s"probe must prune cell dirs after compaction: read $read of $total")
  }

  test("IVF searchBatch: stored-layout pruning; equals the one-shot batch search") {
    val viewDir = Files.createTempDirectory("graft-ivfbatch").toString
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")
    val v = new IVFIndexView(spark, s"$viewDir/ivf", 1, "vec_id", "embedding", 16)
    v.absorb(emb, 1L)
    val queries = emb.where(col("vec_id") < 5)
    def res(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(3)) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val stored = res(v.searchBatch(queries, 10, nProbe = 4))
    val oneShot = res(graft.ops.Similarity.ivfSearchBatch(emb, queries, 10,
      nCentroids = 16, nProbe = 4))
    assert(stored === oneShot, "stored layout is a physical rewrite, never semantic")
    // the searchBatch scan shape — cell isin over the stored per-cell
    // dirs — is directory pruning, asserted on a two-cell probe
    val (total, read) = graft.sources.Layout.pruningCounts(v.frame,
      v.frame.where(col("cell").isin(0L, 1L)))
    assert(total >= 8 && read < total, s"cell isin must prune the stored dirs: $read of $total")
  }

  test("IVF dedupBatch: incremental SemDeDup == from-scratch on the union; cell reads prune") {
    val viewDir = Files.createTempDirectory("graft-ivfdedup").toString
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")
    val n = emb.count()
    val v = new IVFIndexView(spark, s"$viewDir/ivf", 1, "vec_id", "embedding", 16)
    v.absorb(emb, 1L)
    val batch = emb.select((col("vec_id") + 10000).as("vec_id"),
      transform(col("embedding"), x => (x * lit(1.001)).cast("float")).as("embedding"))
    val got = v.dedupBatch(batch, tau = 0.95)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))).toMap
    assert(got.size === n, "one verdict per batch row")
    // every twin drops against its stored original (the canonical copy)
    got.foreach { case (id, (_, kept, dupOf)) =>
      assert(!kept && dupOf === id - 10000, s"twin $id must drop against ${id - 10000}")
    }
    // parity with from-scratch semanticDedup over corpus ∪ batch: stored
    // ids precede batch ids and the seeds coincide (first 16 by id), so
    // the incremental verdicts must be the union run's, restricted to
    // the batch
    val scratch = graft.ops.Dedup.semanticDedup(
        emb.unionByName(batch), nCells = 16, tau = 0.95)
      .where(col("vec_id") >= 10000)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    got.foreach { case (id, (cell, kept, _)) =>
      assert(scratch(id) === ((cell, kept)), s"verdict parity for $id")
    }
    // the base read is an isin over the touched cells — directory
    // pruning over the stored per-cell layout (the recurring-cost
    // contract: a one-cell batch reads one cell)
    val oneCell = v.frame.where(col("cell").isin(got(10000L)._1))
    val (total, read) = graft.sources.Layout.pruningCounts(v.frame, oneCell)
    assert(total >= 8 && read <= 2, s"one-cell probe must prune: read $read of $total")
    // hot-cell guard (union count over maxCell skips the pairwise
    // stage): with maxCell = 1 every touched cell is hot, so all batch
    // members survive — matching from-scratch semanticDedup at the cap
    val capped = v.dedupBatch(batch, tau = 0.95, maxCell = 1)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(capped.size === n && capped.values.forall(identity),
      "hot cells must keep all batch members")
  }

  test("retractWhere removes rows across the delta chain in every modality table") {
    // each modality's durable table: absorb TWO deltas, retract ids
    // spanning both, and the read, a reopened instance, and the cursor
    // must all agree the rows are gone and nothing else moved
    def checkView[V <: AnyRef](
        name: String,
        make: String => V,
        absorb: (V, Seq[Row], Long) => Unit,
        retractIds: (V, Seq[Long]) => Unit,
        readIds: V => Set[Long],
        since: V => Long,
        rowsA: Seq[Row], idsA: Set[Long],
        rowsB: Seq[Row], idsB: Set[Long],
        retract: Seq[Long]): Unit = {
      val dir = Files.createTempDirectory(s"graft-ret-$name").toString + "/v"
      val v = make(dir)
      absorb(v, rowsA, 10L)
      absorb(v, rowsB, 20L)
      retractIds(v, retract)
      val expect = (idsA ++ idsB) -- retract
      assert(readIds(v) === expect, s"$name: retracted rows must leave the read")
      assert(since(v) === 20L, s"$name: retraction must not move the ingest cursor")
      val v2 = make(dir)
      assert(readIds(v2) === expect, s"$name: a reopen must not resurrect retracted rows")
      assert(since(v2) === 20L, s"$name: cursor survives reopen")
    }
    def rows2(f: Long => Row, ids: Seq[Long]): Seq[Row] = ids.map(f)
    def df(schema: StructType, rows: Seq[Row]) =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

    val phSchema = StructType(Seq(
      StructField("media_id", LongType), StructField("phash", LongType)))
    checkView[PhashTableView]("phash",
      d => new PhashTableView(spark, d, 1),
      (v, r, u) => v.absorbHashes(df(phSchema, r), u),
      (v, ids) => v.retractWhere(col("media_id").isin(ids: _*)),
      v => v.hashes.select("media_id").collect().map(_.getLong(0)).toSet,
      v => v.since,
      rows2(i => Row(i, i * 7L), Seq(1L, 2L, 3L)), Set(1L, 2L, 3L),
      rows2(i => Row(i, i * 7L), Seq(4L, 5L)), Set(4L, 5L),
      Seq(2L, 5L))

    val fpSchema = StructType(Seq(
      StructField("media_id", LongType), StructField("n_windows", IntegerType),
      StructField("afp", LongType)))
    checkView[AudioFingerprintTableView]("audiofp",
      d => new AudioFingerprintTableView(spark, d, 1),
      (v, r, u) => v.absorbFingerprints(df(fpSchema, r), u),
      (v, ids) => v.retractWhere(col("media_id").isin(ids: _*)),
      v => v.fingerprints.select("media_id").collect().map(_.getLong(0)).toSet,
      v => v.since,
      rows2(i => Row(i, 4, i * 3L), Seq(1L, 2L)), Set(1L, 2L),
      rows2(i => Row(i, 4, i * 3L), Seq(3L)), Set(3L),
      Seq(1L))

    val fhSchema = StructType(Seq(
      StructField("media_id", LongType), StructField("frame_idx", IntegerType),
      StructField("phash", LongType)))
    checkView[FrameHashTableView]("framehash",
      d => new FrameHashTableView(spark, d, 1),
      (v, r, u) => v.absorbHashes(df(fhSchema, r), u),
      (v, ids) => v.retractWhere(col("media_id").isin(ids: _*)),
      v => v.hashes.select("media_id").collect().map(_.getLong(0)).toSet,
      v => v.since,
      Seq(Row(1L, 0, 11L), Row(1L, 1, 12L), Row(2L, 0, 21L)), Set(1L, 2L),
      Seq(Row(3L, 0, 31L), Row(3L, 1, 32L)), Set(3L),
      Seq(1L))

    val esSchema = StructType(Seq(
      StructField("vec_id", LongType), StructField("sig", LongType)))
    checkView[EmbeddingSigTableView]("embsig",
      d => new EmbeddingSigTableView(spark, d, 1),
      (v, r, u) => v.absorbSigs(df(esSchema, r), u),
      (v, ids) => v.retractWhere(col("vec_id").isin(ids: _*)),
      v => v.sigs.select("vec_id").collect().map(_.getLong(0)).toSet,
      v => v.since,
      rows2(i => Row(i, i * 5L), Seq(1L, 2L)), Set(1L, 2L),
      rows2(i => Row(i, i * 5L), Seq(3L, 4L)), Set(3L, 4L),
      Seq(3L))

    // text: a REAL signature table (id, hs, sig) from tiny docs
    import spark.implicits._
    def sigsOf(ids: Seq[Long]) = graft.ops.Dedup.signatureTable(
      ids.map(i => (i, (0 until 10).map(j => s"w${i}t$j").mkString(" "))).toDF("doc_id", "text"))
    val sgDir = Files.createTempDirectory("graft-ret-sig").toString + "/v"
    val sg = new SignatureTableView(spark, sgDir, 1, "doc_id", "text")
    sg.absorbSigs(sigsOf(Seq(1L, 2L)), 10L)
    sg.absorbSigs(sigsOf(Seq(3L)), 20L)
    sg.retractWhere(col("id").isin(2L))
    assert(sg.sigs.select("id").collect().map(_.getLong(0)).toSet === Set(1L, 3L))
    assert(sg.since === 20L)
    val sg2 = new SignatureTableView(spark, sgDir, 1, "doc_id", "text")
    assert(sg2.sigs.select("id").collect().map(_.getLong(0)).toSet === Set(1L, 3L),
      "text signature table: reopen must not resurrect retracted rows")

    // POSTING tables — the gram/index artifacts a takedown must also
    // reach (ghost postings would still match a re-ingested copy):
    // text substring grams (doc-attributed)
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def docRow(i: Long): Row = Row(i, (1 to 30).map(j => s"v${i}w$j").mkString(" "))
    checkView[GramTableView]("textgram",
      d => new GramTableView(spark, d, 1, "doc_id", "text"),
      (v, r, u) => v.absorb(df(docSchema, r), u),
      (v, ids) => v.retractWhere(col("doc_id").isin(ids: _*)),
      v => v.postings.select("doc_id").collect().map(_.getLong(0)).toSet,
      v => v.since,
      rows2(docRow, Seq(1L, 2L)), Set(1L, 2L),
      rows2(docRow, Seq(3L)), Set(3L),
      Seq(2L))

    // audio/video clip-containment grams (positional)
    val agSchema = StructType(Seq(
      StructField("media_id", LongType), StructField("pos", IntegerType),
      StructField("gram", StringType)))
    checkView[AudioGramTableView]("audiogram",
      d => new AudioGramTableView(spark, d, 1),
      (v, r, u) => v.absorbGrams(df(agSchema, r), u),
      (v, ids) => v.retractWhere(col("media_id").isin(ids: _*)),
      v => v.grams.select("media_id").collect().map(_.getLong(0)).toSet,
      v => v.since,
      Seq(Row(1L, 0, "0101"), Row(1L, 1, "1010"), Row(2L, 0, "1100")), Set(1L, 2L),
      Seq(Row(3L, 0, "0011")), Set(3L),
      Seq(1L))

    // search/index postings (key → seq): retraction by the takedown's
    // log seqs removes the pointers, not just the rows they point at
    val idxSchema = StructType(Seq(
      StructField("seq", LongType), StructField("tag", StringType)))
    checkView[PersistentIndexView]("indexpostings",
      d => new PersistentIndexView(spark, d, 1, array(col("tag")), "seq"),
      (v, r, u) => v.absorb(df(idxSchema, r), u),
      (v, ids) => v.retractWhere(col("seq").isin(ids: _*)),
      v => v.frame.select("seq").collect().map(_.getLong(0)).toSet,
      v => v.since,
      Seq(Row(1L, "a"), Row(2L, "b")), Set(1L, 2L),
      Seq(Row(3L, "a")), Set(3L),
      Seq(1L))
  }

  test("retractWhere is delta-pruned: untouched deltas byte-identical, IVF rewrites only matched cells") {
    val phSchema = StructType(Seq(
      StructField("media_id", LongType), StructField("phash", LongType)))
    def df(rows: Seq[Row]) = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), phSchema)
    val dir = Files.createTempDirectory("graft-dprune").toString + "/v"
    val v = new PhashTableView(spark, dir, 1)
    v.absorbHashes(df(Seq(Row(1L, 11L), Row(2L, 22L))), 10L)
    v.absorbHashes(df(Seq(Row(3L, 33L), Row(4L, 44L))), 20L)
    v.absorbHashes(df(Seq(Row(5L, 55L))), 30L)
    def fileState(): Map[String, Seq[(String, Long, Long)]] = {
      val root = new java.io.File(dir)
      root.listFiles().filter(_.getName.startsWith("batch=")).map { b =>
        b.getName -> b.listFiles().toSeq.sortBy(_.getName)
          .map(f => (f.getName, f.length(), f.lastModified()))
      }.toMap
    }
    val before = fileState()
    v.retractWhere(col("media_id") === 3L) // only batch=20 matches
    val after = fileState()
    assert(after("batch=10") === before("batch=10") && after("batch=30") === before("batch=30"),
      "deltas with no matches keep their files byte-for-byte")
    assert(after("batch=20") !== before("batch=20"), "the matched delta is rewritten")
    assert(v.hashes.select("media_id").collect().map(_.getLong(0)).toSet === Set(1L, 2L, 4L, 5L))
    // a fully-emptied delta is tombstone-deleted, not written empty
    v.retractWhere(col("media_id") === 5L)
    assert(!fileState().contains("batch=30"), "an emptied delta dir is deleted")
    assert(fileState()("batch=10") === before("batch=10"), "others still untouched")
    // frameAsOf history SURVIVES a pruned takedown (minus retracted rows)
    assert(v.frameAsOf(10L).select("media_id").collect().map(_.getLong(0)).toSet === Set(1L, 2L),
      "snapshot reads survive retraction — the chain is filtered, not collapsed")

    // IVF: only the matched delta's matched CELL dirs are rewritten
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")
    val ivfDir = Files.createTempDirectory("graft-ivfprune").toString + "/v"
    val ivf = new IVFIndexView(spark, ivfDir, 1, "vec_id", "embedding", 8)
    ivf.absorb(emb.where(col("vec_id") < 250), 249L)
    ivf.absorb(emb.where(col("vec_id") >= 250), 499L)
    def cellState(): Map[String, Seq[(String, Long, Long)]] = {
      val root = new java.io.File(ivfDir)
      (for {
        b <- root.listFiles().toSeq.filter(_.getName.startsWith("batch="))
        c <- b.listFiles().toSeq.filter(_.getName.startsWith("cell="))
      } yield s"${b.getName}/${c.getName}" ->
        c.listFiles().toSeq.sortBy(_.getName).map(f => (f.getName, f.length(), f.lastModified()))
      ).toMap
    }
    val cellsBefore = cellState()
    val targetCell = ivf.frame.where(col("vec_id") === 42L).head().getAs[Any]("cell").toString
    ivf.retractWhere(col("vec_id") === 42L) // one vector, delta batch=249, one cell
    val cellsAfter = cellState()
    val touched = cellsBefore.keys.filter(k => cellsAfter.get(k) != cellsBefore.get(k)).toSeq
    assert(touched === Seq(s"batch=249/cell=$targetCell"),
      s"only the matched delta's matched cell is rewritten, got $touched")
    assert(ivf.frame.where(col("vec_id") === 42L).count() === 0L)
  }

  test("retractWhere: emptying exactly one IVF cell must not tombstone the batch's other cells") {
    // regression (round-15 self-review): the whole-delta tombstone
    // decision must compare against the delta's TRUE row total — a
    // stats scan filtered to matched cells would see hits == total
    // whenever the only matched cells are fully emptied and delete the
    // delta's unmatched cells with them
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")
    val dir = Files.createTempDirectory("graft-ivfcell").toString + "/v"
    val v = new IVFIndexView(spark, dir, 1, "vec_id", "embedding", 8)
    v.absorb(emb, 499L)
    val someCell = v.frame.select("cell").head().get(0)
    val idsInCell = v.frame.where(col("cell") === lit(someCell))
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    val total = v.frame.count()
    assert(idsInCell.nonEmpty && idsInCell.length < total)
    v.retractWhere(col("vec_id").isin(idsInCell: _*))
    assert(v.frame.where(col("cell") === lit(someCell)).count() === 0L,
      "the emptied cell's vectors are gone")
    assert(v.frame.count() === total - idsInCell.length,
      "the batch's OTHER cells must survive a single-cell takedown")
    val v2 = new IVFIndexView(spark, dir, 1, "vec_id", "embedding", 8)
    assert(v2.frame.count() === total - idsInCell.length, "and survive reopen")
  }

  test("fault injection (r15 flake, stale-store theory): phash reads see the post-retract chain through primed caches") {
    // the one observed live-curator failure looked as if a micro-batch
    // consulted the PRE-retraction store. For that to happen, a fresh
    // `hashes` frame (decide() builds one per batch) would have to
    // serve the rewritten unit's OLD rows. This pins the exact read
    // path: execute queries over the store BEFORE the rewrite (priming
    // Spark's shared file-status/footer caches for the unit paths),
    // hold a pre-retraction frame alive across the rewrite, then
    // assert fresh frames — and the incremental near-dup join itself —
    // see only the post-retract rows.
    val hSchema = StructType(Seq(
      StructField("media_id", LongType), StructField("phash", LongType)))
    def hdf(rows: (Long, Long)*) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2))), hSchema)
    val dir = Files.createTempDirectory("graft-stale").toString + "/ph"
    val v = new PhashTableView(spark, dir, 1)
    v.absorbHashes(hdf((1L, 0x1111L), (2L, 0x2222L)), 1L)
    v.absorbHashes(hdf((3L, 0x3333L)), 2L)
    val pre = v.hashes // frame created pre-retraction, kept alive
    assert(pre.count() === 3L) // EXECUTED: listing caches now primed
    assert(v.hashes.where(col("media_id") === 2L).count() === 1L)
    v.retractWhere(col("media_id") === 2L)
    // fresh frames must serve the rewritten unit, not any cached listing
    assert(v.hashes.count() === 2L)
    assert(v.hashes.where(col("media_id") === 2L).count() === 0L,
      "a fresh store frame served pre-retraction rows: the stale-store window is REAL")
    // the exact read the curator's crossPairs makes: a new batch
    // identical to the RETRACTED hash must find no stored pair
    val pairs = graft.ops.Multimodal.perceptualNearDupIncremental(
      hdf((1002L, 0x2222L)), v.hashes, maxHamming = 0)
    assert(pairs.count() === 0L,
      "retracted hash matched from the store: the stale-store window is REAL")
    // and a batch matching a KEPT hash still pairs (the store is live,
    // not merely emptied)
    val kept = graft.ops.Multimodal.perceptualNearDupIncremental(
      hdf((1001L, 0x1111L)), v.hashes, maxHamming = 0)
    assert(kept.count() === 1L)
    // repeat the whole cycle once more against the SAME paths (a second
    // rewrite over now-twice-cached listings)
    v.retractWhere(col("media_id") === 1L)
    assert(v.hashes.where(col("media_id") === 1L).count() === 0L)
    assert(v.hashes.select("media_id").collect().map(_.getLong(0)).toSeq === Seq(3L))
  }

  test("a new takedown refuses to start over an unrecovered intent") {
    import spark.implicits._
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val log = new ParquetLog(spark, Files.createTempDirectory("graft-int2").toString,
      docSchema, bucketSize = 4L)
    log.append((1L to 6L).map(i => (i, s"d$i")).toDF("doc_id", "text"))
    val intent = Files.createTempDirectory("graft-int2i").toString + "/_intent"
    // a crashed takedown's committed intent survives; starting another
    // would abandon its acknowledged erasure (and the batch form would
    // destroy its durable id list)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(intent), "3")
    intercept[IllegalStateException] {
      Retraction.retract(log, "doc_id", Seq(5L), (_: org.apache.spark.sql.DataFrame) => (), intent)
    }
    intercept[IllegalStateException] {
      Retraction.retract(log, "doc_id", Seq(5L).toDF("doc_id"),
        (_: org.apache.spark.sql.DataFrame) => (), intent)
    }
    assert(log.read.count() === 6L, "nothing retracted while refused")
    // after recovery the path is clear
    Retraction.recover(log, "doc_id", (_: org.apache.spark.sql.DataFrame) => (), intent)
    assert(log.read.where(col("doc_id") === 3L).count() === 0L)
    assert(Retraction.retract(log, "doc_id", Seq(5L),
      (_: org.apache.spark.sql.DataFrame) => (), intent) === 1L)
  }

  test("GramTableView: a pre-attribution (g)-only store rebuilds at open (schema epoch)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-gepoch").toString + "/v"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    // simulate an old store: anonymous grams under the pre-epoch version
    Seq("g1", "g2").toDF("g").write.parquet(s"$dir/batch=10")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/MANIFEST"), "1 10")
    val v = new GramTableView(spark, dir, 1, "doc_id", "text")
    assert(v.since === -1L,
      "anonymous postings cannot honor takedowns — the epoch bump forces a rebuild")
    v.absorb(Seq((1L, (1 to 20).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text"), 20L)
    assert(v.postings.columns.toSeq === Seq("doc_id", "g"))
  }

  test("JsonLinesLog.retract fences a live file tail") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-jfence").toString
    val docSchema = StructType(Seq(StructField("doc_id", LongType)))
    val log = new JsonLinesLog(spark, dir, docSchema)
    log.append(Seq(1L, 2L).toDF("doc_id"))
    log.readStream // marks the dir: the file source tracks names
    intercept[IllegalStateException] { log.retract(col("doc_id") === 1L) }
    assert(log.read.count() === 2L)
  }

  test("retractWhere crash windows (incl. total-takedown tombstone) recover at open") {
    val phSchema = StructType(Seq(
      StructField("media_id", LongType), StructField("phash", LongType)))
    def df(rows: Seq[Row]) = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), phSchema)
    val dir = Files.createTempDirectory("graft-dcrash").toString + "/v"
    val root = java.nio.file.Paths.get(dir)
    val v = new PhashTableView(spark, dir, 1)
    v.absorbHashes(df(Seq(Row(1L, 11L), Row(2L, 22L))), 10L)
    v.absorbHashes(df(Seq(Row(3L, 33L))), 20L)

    // window A (the total-takedown half-state): EMPTY tombstone durable,
    // delete lost mid-way — a reopened view must NOT resurrect the rows
    java.nio.file.Files.writeString(root.resolve("retract.cursor"), "batch=20 EMPTY")
    val v2 = new PhashTableView(spark, dir, 1)
    assert(v2.hashes.select("media_id").collect().map(_.getLong(0)).toSet === Set(1L, 2L),
      "tombstoned delta deleted at open — no partial-chain resurrection")
    assert(!java.nio.file.Files.exists(root.resolve("retract.cursor")))
    assert(v2.since === 20L, "ingest cursor untouched by retraction recovery")

    // window B: committed rewrite (tmp complete + marker), swap lost
    spark.read.parquet(root.resolve("batch=10").toString)
      .where(col("media_id") =!= 2L).write.parquet(root.resolve("retract.tmp").toString)
    java.nio.file.Files.writeString(root.resolve("retract.cursor"), "batch=10")
    val v3 = new PhashTableView(spark, dir, 1)
    assert(v3.hashes.select("media_id").collect().map(_.getLong(0)).toSet === Set(1L),
      "committed rewrite adopted at open")

    // window C: tmp without marker (uncommitted) — dropped, rows intact
    spark.read.parquet(root.resolve("batch=10").toString)
      .where(col("media_id") =!= 1L).write.parquet(root.resolve("retract.tmp").toString)
    val v4 = new PhashTableView(spark, dir, 1)
    assert(v4.hashes.select("media_id").collect().map(_.getLong(0)).toSet === Set(1L),
      "uncommitted tmp dropped; original delta intact")
    assert(!java.nio.file.Files.exists(root.resolve("retract.tmp")))
  }

  test("IVF retraction: filtered compaction keeps the per-cell layout; retracted vectors leave search") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")
    val dir = Files.createTempDirectory("graft-ivfret").toString + "/v"
    val v = new IVFIndexView(spark, dir, 1, "vec_id", "embedding", 8)
    v.absorb(emb.where(col("vec_id") < 250), 249L)
    v.absorb(emb.where(col("vec_id") >= 250), 499L)
    val qv = emb.where(col("vec_id") === 42).head()
      .getAs[scala.collection.Seq[Float]]("embedding").toSeq
    assert(v.search(qv, 3).collect().map(_.getLong(0)).contains(42L),
      "the target must be findable before retraction")
    v.retractWhere(col("vec_id").isin(42L, 300L))
    assert(v.frame.where(col("vec_id").isin(42L, 300L)).count() === 0L,
      "retracted vectors must leave the stored index")
    assert(v.since === 499L, "retraction must not move the ingest cursor")
    val after = v.search(qv, 3).collect().map(_.getLong(0))
    assert(!after.contains(42L) && !after.contains(300L),
      "retracted vectors must leave search results")
    // the overridden writeMerged keeps the per-cell layout through the
    // filtered compaction: a one-cell filter still prunes directories
    val c0 = v.frame.select("cell").head().get(0)
    val (total, read) = graft.sources.Layout.pruningCounts(
      v.frame, v.frame.where(col("cell") === lit(c0)))
    assert(read < total, s"cell dirs must prune after retraction: read $read of $total")
    val v2 = new IVFIndexView(spark, dir, 1, "vec_id", "embedding", 8)
    assert(v2.frame.where(col("vec_id") === 42L).count() === 0L,
      "a reopen must not resurrect retracted vectors")

    // TOTAL takedown on a dynamic-partitioned view: an empty
    // partitionBy write would land a _SUCCESS-only dir no read can
    // infer a schema from — the retracted state must instead be "no
    // committed batches", with absorbs continuing after
    v2.retractWhere(org.apache.spark.sql.functions.lit(true))
    assert(v2.frameOption.isEmpty, "view reads as empty after total takedown")
    assert(v2.since === 499L, "cursor unchanged")
    v2.absorb(emb.where(col("vec_id") < 10), 600L)
    assert(v2.frame.count() === 10L, "absorbs continue after a total takedown")
  }

  test("IVF quantizer seed redaction: a retracted seed vector's copy leaves the model") {
    // the derived-model takedown policy, enforced: SEEDED centroids are
    // literal copies of the first-k corpus vectors, so a takedown that
    // removes a seed's row must also remove its copy — redacted to the
    // cell's survivor MEAN (an aggregate, like a k-means centroid),
    // keeping the cid so stored cell assignments stay valid
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")
    val dir = Files.createTempDirectory("graft-ivfseed").toString + "/v"
    val v = new IVFIndexView(spark, dir, 1, "vec_id", "embedding", 8)
    v.absorb(emb, 499L)
    def centTable() = spark.read.parquet(dir + "/centroids")
      .select("cid", "vec", "seeded").collect()
      .map(r => (r.getLong(0), r.getAs[scala.collection.Seq[Float]](1).toSeq, r.getBoolean(2)))
      .sortBy(_._1)
    val seedVec3 = emb.where(col("vec_id") === 3L).head()
      .getAs[scala.collection.Seq[Float]]("embedding").toSeq
    assert(centTable().find(_._1 === 3L).exists(c => c._2 === seedVec3 && c._3),
      "precondition: centroid 3 is a literal seeded copy of vector 3")
    // a NON-seed takedown leaves the quantizer untouched
    import spark.implicits._
    v.retractIds(Seq(42L).toDF("vec_id"), "vec_id")
    assert(centTable().find(_._1 === 3L).exists(c => c._2 === seedVec3 && c._3),
      "a non-seed takedown must not touch the model")
    assert(centTable().forall(_._3), "all centroids still seeded")
    // the SEED takedown: row purged AND the model copy redacted
    v.retractWhere(col("vec_id") === 3L)
    assert(v.frame.where(col("vec_id") === 3L).count() === 0L)
    val c3 = centTable().find(_._1 === 3L).get
    assert(!c3._3, "centroid 3 must no longer claim seed provenance")
    assert(c3._2 !== seedVec3, "the retracted vector's bytes must leave the model")
    // the redaction is the survivor mean of cell 3 (an aggregate)
    val mean3 = v.frame.where(col("cell") === 3L)
      .select(posexplode(col("embedding")))
      .groupBy("pos").agg(avg("col").as("m")).collect()
      .sortBy(_.getInt(0)).map(_.getDouble(1).toFloat).toSeq
    assert(c3._2.size === mean3.size &&
      c3._2.zip(mean3).forall { case (a, b) => math.abs(a - b) < 1e-4f },
      "redacted centroid must be the cell's survivor mean")
    // search still serves (the cid kept its cell identity) and the
    // retracted id never resurfaces; redaction survives reopen
    val v2 = new IVFIndexView(spark, dir, 1, "vec_id", "embedding", 8)
    val got = v2.search(seedVec3, 5).collect().map(_.getLong(0))
    assert(got.nonEmpty && !got.contains(3L))
    assert(centTable().count(_._3) === 7)
    // id-list form redacts too (the family coordinators' path)
    v2.retractIds(Seq(5L, 77L).toDF("vec_id"), "vec_id")
    val c5 = centTable().find(_._1 === 5L).get
    assert(!c5._3 && v2.frame.where(col("vec_id") === 5L).count() === 0L)
    // TOTAL takedown: the quantizer itself is retracted bytes — it
    // resets, and the next absorb re-seeds from surviving data
    v2.retractWhere(lit(true))
    assert(!Files.isDirectory(java.nio.file.Paths.get(dir, "centroids")),
      "a total takedown must drop the quantizer")
    v2.absorb(emb.where(col("vec_id") >= 490L), 600L)
    assert(v2.frame.count() === 10L, "absorbs re-seed and continue")
    assert(centTable().forall(_._3), "the re-seeded quantizer is seed-provenanced again")
    // PRE-PROVENANCE store (no `seeded` column): every centroid IS a
    // seed copy — absence must read as seeded, and takedowns redact
    val legacy = centTable().map(c => (c._1, c._2)).toSeq.toDF("cid", "vec")
    legacy.write.mode("overwrite").parquet(dir + "/centroids")
    val v3 = new IVFIndexView(spark, dir, 1, "vec_id", "embedding", 8)
    v3.retractIds(Seq(491L).toDF("vec_id"), "vec_id")
    val c491 = centTable().find(_._1 === 491L)
    assert(c491.exists(!_._3), "legacy centroid redacted on its seed's takedown")
  }

  test("embedding sig table: pre-upgrade two-column deltas read normalized beside stamped ones; compaction keeps seq") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-esmix").toString + "/v"
    val v = new EmbeddingSigTableView(spark, dir, 1)
    v.absorbSigs(Seq((1L, 11L)).toDF("vec_id", "sig"), 10L)
    // simulate a PRE-round-14 store: rewrite the delta as TWO columns
    Seq((1L, 11L)).toDF("vec_id", "sig")
      .write.mode("overwrite").parquet(s"$dir/batch=10")
    v.absorbSigs(Seq((2L, 22L, 5L)).toDF("vec_id", "sig", "seq"), 20L)
    def rows(x: EmbeddingSigTableView) = x.sigs.select("vec_id", "sig", "seq")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // mixed chain: legacy rows surface seq = -1 (unknown → the pruned
    // verify falls back), stamped rows keep their seq — regardless of
    // which file's footer parquet samples first
    assert(rows(v) === Set((1L, 11L, -1L), (2L, 22L, 5L)))
    v.compact()
    // compaction must NOT strip the stamped seqs (the merged base is
    // written from the normalized read)
    val v2 = new EmbeddingSigTableView(spark, dir, 1)
    assert(rows(v2) === Set((1L, 11L, -1L), (2L, 22L, 5L)),
      "compacting a mixed chain must keep the pruning metadata")
  }

  test("takedown intent: a torn tmp (never made durable) is discarded, not executed") {
    import spark.implicits._
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val logDir = Files.createTempDirectory("graft-torn").toString
    val log = new ParquetLog(spark, logDir, docSchema)
    log.append(Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text"))
    val intent = Files.createTempDirectory("graft-torn-i").toString + "/_intent"
    // a crash mid-write leaves only the .tmp — the caller was never
    // acknowledged, so recover must discard it and retract NOTHING
    java.nio.file.Files.writeString(java.nio.file.Paths.get(intent + ".tmp"), "1,2")
    var called = false
    val replayed = Retraction.recover(log, "doc_id", _ => called = true, intent)
    assert(replayed.isEmpty && !called, "an unacknowledged takedown must not execute")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(intent + ".tmp")))
    assert(log.read.count() === 2L, "no rows retracted")
  }

  test("family takedown: intent replay closes the log-rewritten-but-features-lost crash window") {
    import spark.implicits._
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def salad(i: Long): String = (0 until 12).map(j => s"w${i}q$j").mkString(" ")
    val docs = (1L to 10L).map(i => (i, salad(i))).toDF("doc_id", "text")
    val logDir = Files.createTempDirectory("graft-fam-log").toString
    val curLog = new ParquetLog(spark, logDir, docSchema, bucketSize = 4L)
    val sgDir = Files.createTempDirectory("graft-fam-sig").toString + "/v"
    val sigView = new SignatureTableView(spark, sgDir, 1, "doc_id", "text")
    curLog.append(docs)
    sigView.absorbSigs(graft.ops.Dedup.signatureTable(docs), curLog.since)
    val intent = Files.createTempDirectory("graft-fam-int").toString + "/_intent"

    // CRASH WINDOW: intent durable, log rewritten, feature delete LOST
    java.nio.file.Files.writeString(java.nio.file.Paths.get(intent), "3,7")
    curLog.retract(col("doc_id").isin(3L, 7L))
    assert(curLog.read.where(col("doc_id").isin(3L, 7L)).count() === 0L,
      "window open: log rows gone")
    assert(sigView.sigs.where(col("id").isin(3L, 7L)).count() === 2L,
      "window open: ghost signatures still in the table")
    // a re-ingest of a near-dup of retracted doc 3 would WRONGLY drop
    // against the ghost signatures here — the exact state recover closes
    val nearDup3 = Seq((503L, salad(3L).split(" ").drop(1).mkString(" ")))
      .toDF("doc_id", "text")
    val ghostDrops = graft.ops.Dedup.minhashLshIncrementalStored(nearDup3, sigView.sigs,
      threshold = 0.5, bands = 32, maxBucket = 1000, verifyExact = true)
    assert(ghostDrops.count() > 0, "ghosts must match (the bug recover exists to prevent)")

    // reopen: recover replays BOTH halves idempotently and clears intent
    val curLog2 = new ParquetLog(spark, logDir, docSchema, bucketSize = 4L)
    val sigView2 = new SignatureTableView(spark, sgDir, 1, "doc_id", "text")
    val replayed = Retraction.recover(curLog2, "doc_id",
      ids => sigView2.retractIds(ids.withColumnRenamed("doc_id", "id"), "id"), intent)
    assert(replayed === Seq(3L, 7L))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(intent)))
    assert(sigView2.sigs.where(col("id").isin(3L, 7L)).count() === 0L,
      "recover landed the lost feature delete")
    // the proof: the near-dup of retracted doc 3 now SURVIVES the
    // incremental check — the signatures are really gone
    val drops = graft.ops.Dedup.minhashLshIncrementalStored(nearDup3, sigView2.sigs,
      threshold = 0.5, bands = 32, maxBucket = 1000, verifyExact = true)
    assert(drops.count() === 0L, "retracted content must be re-ingestable")
    // seqs of surviving log rows unchanged; kept docs still dedup
    assert(curLog2.stream().select("seq", "doc_id").collect()
      .forall(r => r.getLong(0) === r.getLong(1) - 1), "surviving seqs unchanged (holes allowed)")
    val nearDup4 = Seq((504L, salad(4L).split(" ").drop(1).mkString(" ")))
      .toDF("doc_id", "text")
    assert(graft.ops.Dedup.minhashLshIncrementalStored(nearDup4, sigView2.sigs,
      threshold = 0.5, bands = 32, maxBucket = 1000, verifyExact = true).count() > 0,
      "kept content still dedups against the stored table")
  }

  test("batch takedown: a 100k-id DataFrame retracts via a join, never an In literal") {
    import spark.implicits._
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val logDir = Files.createTempDirectory("graft-bret-log").toString
    val log = new ParquetLog(spark, logDir, docSchema, bucketSize = 8L)
    log.append((1L to 40L).map(i => (i, s"doc $i")).toDF("doc_id", "text"))
    val sgDir = Files.createTempDirectory("graft-bret-sig").toString + "/v"
    val sg = new PhashTableView(spark, sgDir, 1)
    sg.absorbHashes((1L to 40L).map(i => (i, i * 7L)).toDF("media_id", "phash"), 40L)

    // 100k takedown ids, 3 actually present — the list is never
    // collected and the predicate is a JOIN whose plan size is
    // independent of the list size
    val ids = spark.range(100000).select((col("id") + 1000000L).as("doc_id"))
      .union(Seq(3L, 17L, 33L).toDF("doc_id"))
    val marked = graft.core.ParquetLog.hitMarker(ids, "doc_id", 4L * 1000 * 1000)(log.read)
    val plan = marked.queryExecution.executedPlan.toString
    assert(plan.contains("Join"), s"takedown predicate must be a join, got:\n$plan")
    assert(!plan.contains(" IN ("), "no In literal anywhere in the takedown plan")

    val intent = Files.createTempDirectory("graft-bret-int").toString + "/_intent"
    val removed = Retraction.retract(log, "doc_id", ids,
      (df: org.apache.spark.sql.DataFrame) =>
        sg.retractIds(df.withColumnRenamed("doc_id", "media_id"), "media_id"),
      intent)
    assert(removed === 3L)
    assert(log.read.where(col("doc_id").isin(3L, 17L, 33L)).count() === 0L)
    assert(sg.hashes.where(col("media_id").isin(3L, 17L, 33L)).count() === 0L)
    assert(log.read.count() === 37L && sg.hashes.count() === 37L)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(intent)))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(intent + ".ids")),
      "the durable parquet id list is cleared with the intent")

    // crash window: parquet list + intent durable, NEITHER rewrite ran —
    // recover replays both halves from the durable list
    Seq(5L, 9L).toDF("doc_id").write.parquet(intent + ".ids")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(intent), "@ids")
    val log2 = new ParquetLog(spark, logDir, docSchema, bucketSize = 8L)
    Retraction.recover(log2, "doc_id",
      df => sg.retractIds(df.withColumnRenamed("doc_id", "media_id"), "media_id"), intent)
    assert(log2.read.where(col("doc_id").isin(5L, 9L)).count() === 0L,
      "recovered batch intent replays the log half")
    assert(sg.hashes.where(col("media_id").isin(5L, 9L)).count() === 0L,
      "recovered batch intent replays the feature half")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(intent)))
  }

  test("ParquetLog.retract: bucketed rewrite preserves layout and survives the rename crash window") {
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    import spark.implicits._
    val logDir = Files.createTempDirectory("graft-lret").toString
    val log = new ParquetLog(spark, logDir, docSchema, bucketSize = 4L)
    log.append((1L to 10L).map(i => (i, s"doc $i")).toDF("doc_id", "text"))
    val removed = log.retract(col("doc_id") % 3 === 0)
    assert(removed === 3L)
    assert(log.read.select("doc_id").collect().map(_.getLong(0)).toSet ===
      (1L to 10L).filterNot(_ % 3 == 0).toSet)
    // layout preserved: bucket dirs still present, range scans still prune
    assert(new java.io.File(logDir).listFiles().exists(_.getName.startsWith("seq_bucket=")),
      "bucketed layout survives retraction")
    assert(log.stream(LogRange(gte = Some(4L), lte = Some(7L)))
      .select("doc_id").collect().map(_.getLong(0)).toSet === Set(5L, 7L, 8L),
      "seqs unchanged after retraction (holes where retracted)")
    // idempotent: nothing left to remove, no rewrite
    assert(log.retract(col("doc_id") % 3 === 0) === 0L)
    // crash window BETWEEN the two renames: tmp complete, root moved
    // aside — a reopen must restore the ORIGINAL state (the retraction
    // re-runs via the intent file, never half-applies)
    val root = new java.io.File(logDir)
    val pre = new java.io.File(logDir + ".precompact")
    assert(root.renameTo(pre), "simulate: root moved aside, swap-in lost")
    val log2 = new ParquetLog(spark, logDir, docSchema, bucketSize = 4L)
    assert(log2.read.count() === 7L, "recovery restored the pre-crash state")
    assert(!pre.exists(), "recovery consumed the leftover")

    // TAIL retraction: the cursor must NOT regress — retired seqs are
    // never re-stamped, or every downstream seq-gated artifact (view
    // HWMs, curator marks) would silently skip the reused interval
    assert(log2.since === 9L)
    assert(log2.retract(col("doc_id").isin(8L, 10L)) === 2L) // seqs 7 and 9: the tail
    assert(log2.since === 9L, "cursor preserved after tail retraction")
    val log3 = new ParquetLog(spark, logDir, docSchema, bucketSize = 4L)
    assert(log3.since === 9L, "cursor survives reopen via the durable marker")
    assert(log3.append(Seq((99L, "fresh")).toDF("doc_id", "text")) === 10L,
      "new rows extend the seq space; retired tail seqs are never reused")
    log3.compact()
    val log4 = new ParquetLog(spark, logDir, docSchema, bucketSize = 4L)
    assert(log4.since === 10L, "marker survives compaction")
    assert(log4.read.where(col("doc_id") === 99L).count() === 1L)

    // total takedown: retracting EVERY remaining row leaves an empty
    // but healthy log — reads empty, cursor preserved, appends continue
    assert(log4.retract(lit(true)) === 6L)
    assert(log4.read.count() === 0L && log4.since === 10L)
    val log5 = new ParquetLog(spark, logDir, docSchema, bucketSize = 4L)
    assert(log5.read.count() === 0L && log5.since === 10L,
      "empty-after-retraction log reopens with the preserved cursor")
    assert(log5.append(Seq((100L, "post")).toDF("doc_id", "text")) === 11L)
    assert(log5.read.count() === 1L)
  }

  test("ParquetLog.retract is bucket-pruned: untouched bucket dirs stay byte-identical") {
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    import spark.implicits._
    val logDir = Files.createTempDirectory("graft-lprune").toString
    val log = new ParquetLog(spark, logDir, docSchema, bucketSize = 2L)
    log.append((1L to 20L).map(i => (i, s"doc $i")).toDF("doc_id", "text")) // 10 buckets
    def fileState(): Map[String, Seq[(String, Long, Long)]] = {
      val root = new java.io.File(logDir)
      root.listFiles().filter(_.getName.startsWith("seq_bucket=")).map { b =>
        b.getName -> b.listFiles().toSeq.sortBy(_.getName)
          .map(f => (f.getName, f.length(), f.lastModified()))
      }.toMap
    }
    val before = fileState()
    assert(before.size === 10)
    // doc_id 7 is seq 6 → bucket 3; the other NINE buckets must not be touched
    assert(log.retract(col("doc_id") === 7L) === 1L)
    val after = fileState()
    assert(after.size === 10)
    before.foreach { case (bucket, files) =>
      if (bucket == "seq_bucket=3")
        assert(after(bucket) !== files, "the matched bucket must be rewritten")
      else
        assert(after(bucket) === files,
          s"$bucket contains no matches and must keep its files byte-for-byte " +
            "(same names, lengths, mtimes) — the pruned rewrite must not touch it")
    }
    assert(log.read.count() === 19L)
    // a fully-emptied bucket is tombstone-deleted, the rest still untouched
    assert(log.retract(col("doc_id").isin(9L, 10L)) === 2L) // seqs 8,9 = all of bucket 4
    val after2 = fileState()
    assert(!after2.contains("seq_bucket=4"), "an emptied bucket dir is deleted")
    before.foreach { case (bucket, files) =>
      if (bucket != "seq_bucket=3" && bucket != "seq_bucket=4")
        assert(after2(bucket) === files, s"$bucket still untouched after the second takedown")
    }
    assert(log.read.count() === 17L)
  }

  test("SignatureTableView reads its deltas with the schema parquet infers from them") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-sig-schema").toString + "/v"
    val sv = new SignatureTableView(spark, dir, 1, "doc_id", "text")
    // an int id column is stored as bigint, the declared schema
    sv.absorb(Seq((1, "alpha beta gamma delta"), (2, "beta gamma delta eps"))
      .toDF("doc_id", "text"), 5L)
    sv.absorb(Seq((3L, "gamma delta eps zeta")).toDF("doc_id", "text"), 9L)
    val inferred = spark.read.parquet(s"$dir/batch=5", s"$dir/batch=9").schema
    assert(sv.sigs.schema === inferred)
    assert(inferred === SignatureTableView.schema)
    assert(sv.sigs.select("id").as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L))
  }

  test("ParquetLog reopen after a tail takedown: the cursor marker bounds the bucket walk") {
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    import spark.implicits._
    val logDir = Files.createTempDirectory("graft-lreopen").toString
    val root = new java.io.File(logDir)
    val log = new ParquetLog(spark, logDir, docSchema, bucketSize = 2L)
    log.append((1L to 20L).map(i => (i, s"doc $i")).toDF("doc_id", "text")) // buckets 0..9
    assert(log.retract(col("doc_id") >= 13L) === 8L) // seqs 12..19: buckets 6..9 emptied
    assert(log.since === 19L)
    // the upper buckets left physically empty (the takedown deletes an
    // emptied bucket, a rewrite can leave one with no rows): each would
    // cost the walk a scan job
    val rowSchema = StructType(StructField("seq", LongType) +: docSchema.fields)
    (6 to 9).foreach { b =>
      val d = new java.io.File(root, s"seq_bucket=$b")
      if (d.exists()) FsLists.walkDeepestFirst(d.toPath).foreach(Files.delete)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], rowSchema)
        .write.parquet(d.getPath)
    }

    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    /** Jobs the reopen launched under its own job group; a marker job
      * after it drains the asynchronous listener bus. */
    def reopenJobs(group: String): (ParquetLog, Int) = {
      sc.setJobGroup(group, group)
      val reopened = try new ParquetLog(spark, logDir, docSchema, bucketSize = 2L)
        finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-drain", "drain")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!jobs.contains(s"$group-drain") && System.nanoTime() < deadline) Thread.sleep(20)
      (reopened, jobs.toArray.count(_ == group))
    }
    sc.addSparkListener(listener)
    try {
      val (log2, n2) = reopenJobs("reopen-marked")
      assert(n2 <= 1, s"the marker bounds the walk: at most one scan job, got $n2")
      assert(log2.since === 19L, "cursor equals its value before close")
      // no marker: the walk scans down through the empty buckets to the
      // data HWM, as it always has
      val marker = new java.io.File(root, "_graft_cursor").toPath
      Files.delete(marker)
      val (log3, n3) = reopenJobs("reopen-unmarked")
      assert(log3.since === 11L && n3 >= 5, s"unmarked walk: since ${log3.since}, $n3 jobs")
      // a marker below the data HWM (an append after the takedown): the
      // bucket above it is still scanned
      Files.writeString(marker, "19")
      assert(new ParquetLog(spark, logDir, docSchema, bucketSize = 2L)
        .append(Seq((99L, "fresh")).toDF("doc_id", "text")) === 20L)
      val (log4, _) = reopenJobs("reopen-stale")
      assert(log4.since === 20L)
      assert(log4.read.count() === 13L)
    } finally sc.removeSparkListener(listener)
  }

  test("ParquetLog.retract per-bucket crash windows recover to old or new state, never partial") {
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    import spark.implicits._
    val logDir = Files.createTempDirectory("graft-lcrash").toString
    val root = new java.io.File(logDir)
    val log = new ParquetLog(spark, logDir, docSchema, bucketSize = 4L)
    log.append((1L to 12L).map(i => (i, s"doc $i")).toDF("doc_id", "text")) // buckets 0,1,2

    // window A: tmp complete + marker durable (committed), swap lost —
    // recovery must ADOPT the tmp as the named bucket
    val tmp = new java.io.File(root, "_graft_retract_tmp")
    spark.read.schema(StructType(StructField("seq", LongType) +: docSchema.fields))
      .parquet(new java.io.File(root, "seq_bucket=0").getPath)
      .where(col("doc_id") =!= 2L).write.parquet(tmp.getPath)
    java.nio.file.Files.writeString(
      new java.io.File(root, "_graft_retract_marker").toPath, "seq_bucket=0")
    val log2 = new ParquetLog(spark, logDir, docSchema, bucketSize = 4L)
    assert(log2.read.where(col("doc_id") === 2L).count() === 0L,
      "committed rewrite adopted at reopen")
    assert(log2.read.count() === 11L)
    assert(!tmp.exists() && !new java.io.File(root, "_graft_retract_marker").exists())

    // window B: EMPTY tombstone durable, delete lost — recovery deletes
    // the bucket. Bucket 2 is the TAIL: the real retract makes the
    // cursor marker durable before touching any bucket — simulate that.
    java.nio.file.Files.writeString(
      new java.io.File(root, "_graft_cursor").toPath, "11")
    java.nio.file.Files.writeString(
      new java.io.File(root, "_graft_retract_marker").toPath, "seq_bucket=2 EMPTY")
    val log3 = new ParquetLog(spark, logDir, docSchema, bucketSize = 4L)
    assert(!new java.io.File(root, "seq_bucket=2").exists(), "tombstoned bucket deleted")
    assert(log3.read.count() === 7L)
    assert(log3.since === 11L, "cursor never regresses (marker written before any bucket)")

    // window C: tmp written but marker never landed (uncommitted) —
    // recovery drops the tmp, the bucket's original rows are intact
    spark.read.schema(StructType(StructField("seq", LongType) +: docSchema.fields))
      .parquet(new java.io.File(root, "seq_bucket=1").getPath)
      .where(col("doc_id") =!= 5L).write.parquet(tmp.getPath)
    val log4 = new ParquetLog(spark, logDir, docSchema, bucketSize = 4L)
    assert(!tmp.exists(), "uncommitted tmp dropped")
    assert(log4.read.where(col("doc_id") === 5L).count() === 1L, "original bucket intact")

    // window D: torn marker (not atomic-rename-committed) is ignored
    java.nio.file.Files.writeString(
      new java.io.File(root, "_graft_retract_marker").toPath, "seq_bu")
    val log5 = new ParquetLog(spark, logDir, docSchema, bucketSize = 4L)
    assert(log5.read.count() === 7L)
    assert(!new java.io.File(root, "_graft_retract_marker").exists())

    // window E: a committed MULTI plan (the one-job form) with the
    // apply phase lost — bucket 0's staged rewrite unswapped AND bucket
    // 1 tombstoned; recovery replays both
    spark.read.schema(StructType(StructField("seq", LongType) +: docSchema.fields))
      .parquet(new java.io.File(root, "seq_bucket=0").getPath)
      .where(col("doc_id") =!= 1L)
      .withColumn("seq_bucket", lit(0L))
      .write.partitionBy("seq_bucket").parquet(tmp.getPath)
    java.nio.file.Files.writeString(
      new java.io.File(root, "_graft_retract_marker").toPath, "MULTI rw=0 empty=1")
    val log6 = new ParquetLog(spark, logDir, docSchema, bucketSize = 4L)
    assert(log6.read.where(col("doc_id") === 1L).count() === 0L,
      "MULTI recovery swapped the staged bucket in")
    assert(!new java.io.File(root, "seq_bucket=1").exists(),
      "MULTI recovery applied the tombstone delete")
    assert(!tmp.exists() && !new java.io.File(root, "_graft_retract_marker").exists())
  }

  test("ParquetLog.retract fences an in-flight record-granular tail micro-batch") {
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    import spark.implicits._
    val logDir = Files.createTempDirectory("graft-lfence").toString
    val log = new ParquetLog(spark, logDir, docSchema, bucketSize = 4L)
    log.append((1L to 8L).map(i => (i, s"doc $i")).toDF("doc_id", "text"))
    val stream = new graft.streaming.ParquetLogMicroBatchStream(
      "fence-test", log, StructType(StructField("seq", LongType) +: docSchema.fields))
    // a planned-but-uncommitted batch holds planned file readers: the
    // swap would invalidate them — retract must refuse
    stream.planInputPartitions(
      graft.streaming.SeqOffset(-1L), graft.streaming.SeqOffset(log.since))
    intercept[IllegalStateException] { log.retract(col("doc_id") === 1L) }
    // the batch commits → quiescent → retraction proceeds
    stream.commit(graft.streaming.SeqOffset(log.since))
    assert(log.retract(col("doc_id") === 1L) === 1L)
    // stop() also clears the fence (a stopped query never runs its tasks)
    stream.planInputPartitions(
      graft.streaming.SeqOffset(-1L), graft.streaming.SeqOffset(log.since))
    stream.stop()
    assert(log.retract(col("doc_id") === 2L) === 1L)
  }

  test("log method passthrough with collision protection (index.js:270-283)") {
    val log = new MemoryLog(spark, schema) {
      override def methods: Map[String, Seq[Any] => Any] =
        Map("blockSize" -> (_ => 1024), "echo" -> (args => args.mkString(",")))
    }
    val db = new FlumeDb(log)
    assert(db.call("blockSize") === 1024)
    assert(db.call("echo", "a", "b") === "a,b")
    intercept[NoSuchElementException] { db.call("nope") }
    intercept[IllegalArgumentException] { db.use("echo", StatsReduceView("x")) }
    assert(db.meta("blockSize").get() === 1L)
  }

  test("bucket stats of a 4-partition batch across a bucket boundary equal a groupBy over the read") {
    val statsSchema = StructType(Seq(StructField("i", IntegerType), StructField("l", LongType),
      StructField("s", StringType), StructField("z", LongType), StructField("tag", StringType)))
    val cols = Seq("i", "l", "s", "z")
    val dir = Files.createTempDirectory("graft-bstats-batch").toString
    // bucket 0 holds rows from before stats were declared: it has no entry and must get none
    new ParquetLog(spark, dir, statsSchema, bucketSize = 100L)
      .appendRows((0 until 10).map(k => Row(k, k.toLong, s"old$k", null, "old")))
    val log = new ParquetLog(spark, dir, statsSchema, bucketSize = 100L, statsColumns = cols)
    // U+FF5A sorts above the surrogate pair of U+1F600 in UTF-16 and below it in UTF-8
    val strings = Seq("m", "\uFF5A", "\uD83D\uDE00", "", "a b=c%", "\u00e9")
    def batch(from: Int, n: Int) = spark.createDataFrame(spark.sparkContext.parallelize(
      (from until from + n).map(k => Row((k * 7919) % 1000 - 500, k.toLong * -3L,
        strings(k % strings.size), null, "new")), 4), statsSchema)
    log.append(batch(0, 200)) // seqs 10..209: buckets 0, 1 and 2
    log.append(batch(200, 150)) // seqs 210..359: widens bucket 2, opens bucket 3

    def dec(t: String) = java.net.URLDecoder.decode(t.stripPrefix("="), java.nio.charset.StandardCharsets.UTF_8)
    val manifest = Files.readAllLines(java.nio.file.Paths.get(dir, "_graft_stats")).toArray.toSeq
      .map(_.toString.trim.split(" ").toSeq).filter(_.nonEmpty).map {
        case Seq(b, c, "L", lo, hi) => (b.toLong, c) -> (lo, hi)
        case Seq(b, c, "S", lo, hi) => (b.toLong, c) -> (dec(lo), dec(hi))
        case other => fail(s"unparseable manifest line: $other")
      }.toMap
    val aggs = cols.flatMap { c =>
      val t = if (c == "s") "string" else "long"
      Seq(min(col(c)).cast(t).cast("string"), max(col(c)).cast(t).cast("string"))
    }
    val want = log.read.groupBy(expr("seq div 100").as("b")).agg(aggs.head, aggs.tail: _*)
      .collect().toSeq.filter(_.getLong(0) != 0L).flatMap { r =>
        cols.zipWithIndex.collect { case (c, k) if !r.isNullAt(1 + 2 * k) =>
          (r.getLong(0), c) -> (r.getString(1 + 2 * k), r.getString(2 + 2 * k))
        }
      }.toMap
    assert(want.keySet.map(_._1) === Set(1L, 2L, 3L) && !want.keySet.exists(_._2 == "z"))
    assert(want((1L, "s"))._2 === "\uD83D\uDE00", "Spark's string max is the binary UTF-8 one")
    assert(manifest === want)
  }
}
