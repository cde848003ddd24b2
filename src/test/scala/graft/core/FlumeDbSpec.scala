package graft.core

import graft.SparkSpec
import graft.views._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.util.concurrent.atomic.AtomicInteger

/** Mirrors the reference behavioral suite (`test/memlog.js`,
  * `test/memlog-map.js`, `test/rebuild.js`) one-for-one where the
  * semantics transfer: gated reads, view lifecycle, mapper, rebuild
  * delivery counts, close semantics. */
class FlumeDbSpec extends SparkSpec {

  val schema: StructType = StructType(Seq(StructField("foo", LongType)))
  def mkDb(mapper: Option[DataFrame => DataFrame] = None, ready: Boolean = true): (MemoryLog, FlumeDb) = {
    val log = new MemoryLog(spark, schema)
    (log, new FlumeDb(log, isReady = ready, mapper = mapper))
  }

  /** A view that counts deliveries + destroys, for lifecycle assertions
    * (the reference counts re-deliveries in `test/rebuild.js:19-62`). */
  class CountingView extends FlumeView {
    val delivered = new AtomicInteger(0)
    val destroys = new AtomicInteger(0)
    @volatile var sinceSeq: Long = -1L
    def since: Long = sinceSeq
    def absorb(entries: DataFrame, upto: Long): Unit = {
      delivered.addAndGet(entries.count().toInt); sinceSeq = upto
    }
    def destroy(): Unit = { destroys.incrementAndGet(); sinceSeq = -1L }
  }
  def countingDef(v: CountingView): ViewDef = new ViewDef {
    def version = 1
    def create(db: FlumeDb, name: String): FlumeView = v
  }

  test("empty log: view read yields empty, since = -1 (memlog.js:26-34)") {
    val (_, db) = mkDb()
    db.use("stats", StatsReduceView("foo"))
    assert(db.since === -1L)
    val st = db.gated("stats")(_.asInstanceOf[MergeableReduceView[Stats]].value)
    assert(st.exists(_.n == 0) || st.isEmpty)
  }

  test("append then gated read: incremental stats are correct (memlog.js:36-66)") {
    val (_, db2) = mkDb()
    db2.use("stats", StatsReduceView("foo"))
    db2.append(spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row(1L))), schema))
    var st = db2.gated("stats")(_.asInstanceOf[MergeableReduceView[Stats]].value.get)
    assert(st.n === 1L && st.mean === 1.0 && st.stdevPop === 0.0)
    db2.append(spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row(3L))), schema))
    st = db2.gated("stats")(_.asInstanceOf[MergeableReduceView[Stats]].value.get)
    // reference expects mean=2, stdev=1 (population) after {foo:1},{foo:3}
    assert(st.n === 2L && st.mean === 2.0 && math.abs(st.stdevPop - 1.0) < 1e-12)
  }

  test("seqs-only scan + point-get round trip (memlog.js:68-80)") {
    val (log, db) = mkDb()
    log.appendRows(Seq(Row(10L), Row(20L), Row(30L)))
    val seqs = db.stream(LogRange(values = false)).collect().map(_.getLong(0))
    assert(seqs.toSeq === Seq(0L, 1L, 2L))
    val vals = seqs.map(s => db.get(s).collect()(0).getAs[Long]("foo"))
    assert(vals.toSeq === Seq(10L, 20L, 30L))
  }

  test("ready gate stalls gated reads until set (memlog.js:82-96)") {
    val (log, db) = mkDb(ready = false)
    db.use("stats", StatsReduceView("foo"))
    log.appendRows(Seq(Row(5L)))
    @volatile var done = false
    val t = new Thread(() => {
      db.gated("stats")(_ => ()); done = true
    })
    t.start()
    Thread.sleep(300)
    assert(!done, "gated read must stall while not ready")
    db.setReady(true)
    t.join(10000)
    assert(done, "gated read must complete once ready")
  }

  test("view ahead of log is destroyed and rebuilt (memlog.js:98-126)") {
    val (log, db) = mkDb()
    log.appendRows(Seq(Row(1L), Row(2L)))
    val v = new CountingView
    v.sinceSeq = 99L // simulate a view that is ahead of the log
    db.use("count", countingDef(v))
    assert(v.destroys.get() === 1)
    assert(v.since === 1L)
    assert(v.delivered.get() === 2)
  }

  test("duplicate view name throws (memlog.js:128-141)") {
    val (_, db) = mkDb()
    db.use("v", StatsReduceView("foo"))
    intercept[IllegalArgumentException] { db.use("v", StatsReduceView("foo")) }
  }

  test("close is idempotent; gated calls throw after close (memlog.js:143-168)") {
    val (_, db) = mkDb()
    db.use("stats", StatsReduceView("foo"))
    db.close(); db.close()
    intercept[ClosedException] { db.stream() }
    intercept[ClosedException] { db.get(0L) }
    intercept[ClosedException] { db.gated("stats")(_ => ()) }
    intercept[ClosedException] {
      db.append(spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row(1L))), schema))
    }
  }

  test("mapper is applied to values on get/stream but skipped for seqs-only (memlog-map.js)") {
    val mapper: DataFrame => DataFrame = df => df.withColumn("mapped", col("foo") * 10)
    val (log, db) = mkDb(mapper = Some(mapper))
    log.appendRows(Seq(Row(1L), Row(2L)))
    assert(db.get(1L).collect()(0).getAs[Long]("mapped") === 20L)
    assert(db.stream().columns.contains("mapped"))
    assert(!db.stream(LogRange(values = false)).columns.contains("mapped"))
  }

  test("reduce over mapped values (memlog-map.js:110-118)") {
    val mapper: DataFrame => DataFrame = df => df.withColumn("foo", col("foo") + 100)
    val (_, db) = mkDb(mapper = Some(mapper))
    db.use("sum", SumReduceView("foo"))
    db.append(spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row(1L), Row(2L))), schema))
    val (s, n) = db.gated("sum")(_.asInstanceOf[MergeableReduceView[(Double, Long)]].value.get)
    assert(n === 2L && s === 203.0)
  }

  test("since:-1 stale read waits only for view load, not ready/parity (wrap.js:37-41)") {
    // ready=false stalls NORMAL gated reads (memlog.js:82-96), but a
    // since:-1 read goes through as soon as the view has loaded: the
    // reference's `sv.since.once(cb)` fires regardless of isReady.
    val (log, db) = mkDb(ready = false)
    db.use("stats", StatsReduceView("foo"))
    log.appendRows(Seq(Row(7L)))
    @volatile var staleDone = false
    val stale = new Thread(() => {
      db.gated("stats", target = Some(-1L))(_ => ()); staleDone = true
    })
    stale.start(); stale.join(10000)
    assert(staleDone, "since:-1 read must not stall on the ready gate")
    // …whereas the normal gated read still stalls until setReady(true)
    @volatile var gatedDone = false
    val t = new Thread(() => { db.gated("stats")(_ => ()); gatedDone = true })
    t.start(); Thread.sleep(300)
    assert(!gatedDone, "normal gated read must stall while not ready")
    db.setReady(true); t.join(10000)
    assert(gatedDone)
  }

  test("reduce get(path) reads a path into the reduced value (memlog.js:26-33)") {
    val (_, db) = mkDb()
    db.use("stats", StatsReduceView("foo"))
    // empty view: get → None (reference calls back undefined)
    assert(db.gated("stats", target = Some(-1L))(
      _.asInstanceOf[MergeableReduceView[Stats]].get(Seq("mean"))).isEmpty)
    db.append(spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row(1L), Row(3L))), schema))
    val v = db.view("stats").view.asInstanceOf[MergeableReduceView[Stats]]
    db.ready("stats")
    assert(v.get() === Some(Stats(2, 2.0, 2.0)))         // whole value on empty path
    assert(v.get(Seq("mean")) === Some(2.0))             // case-class field
    assert(v.get(Seq("n")) === Some(2L))
    // derived accessor resolves like a JS object property would
    assert(v.get(Seq("stdevPop")) === Some(1.0))
    assert(v.get(Seq("nope")).isEmpty)                   // missing segment -> None
  }

  test("rebuild redelivers the whole log (rebuild.js:19-62 delivery count)") {
    val (_, db) = mkDb()
    val v = new CountingView
    db.use("count", countingDef(v))
    db.append(spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row(1L), Row(2L))), schema))
    assert(v.delivered.get() === 2)
    db.rebuild()
    assert(v.destroys.get() === 1)
    assert(v.delivered.get() === 4) // 2 original + 2 redelivered
    db.append(spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row(3L), Row(4L), Row(5L))), schema))
    assert(v.delivered.get() === 7) // matches reference messagesExpected = 7
    assert(v.since === 4L)
  }

  test("view error triggers destroy + full replay (index.js:66-71)") {
    val (_, db) = mkDb()
    val fails = new AtomicInteger(0)
    val v = new CountingView {
      override def absorb(entries: DataFrame, upto: Long): Unit = {
        if (fails.getAndIncrement() == 1) sys.error("boom") // fail on 2nd delivery
        super.absorb(entries, upto)
      }
    }
    db.use("count", countingDef(v))
    db.append(spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row(1L))), schema))
    db.append(spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row(2L))), schema))
    assert(v.destroys.get() === 1)
    assert(v.since === 1L)
    assert(v.delivered.get() === 3) // 1 + (failed) + 2 replayed
    assert(db.view("count").lastError.isDefined)
  }

  test("meta counts method calls (index.js:81-91)") {
    val (log, db) = mkDb()
    log.appendRows(Seq(Row(1L)))
    db.stream(); db.stream(); db.get(0L)
    assert(db.meta("stream").get() === 2L)
    assert(db.meta("get").get() === 1L)
  }

  test("meta counts records pulled through stream/get (wrap.js:74-76)") {
    val (log, db) = mkDb()
    log.appendRows(Seq(Row(1L), Row(2L), Row(3L)))
    db.stream().collect()
    db.get(1L).collect()
    // record counts land via the (async) query-execution listener
    def poll(key: String, want: Long): Long = {
      val deadline = System.currentTimeMillis() + 15000
      while (System.currentTimeMillis() < deadline &&
        !db.meta.get(key).exists(_.get() == want)) Thread.sleep(50)
      db.meta.get(key).map(_.get()).getOrElse(-1L)
    }
    assert(poll("stream.records", 3L) === 3L, "full scan pulled 3 records")
    assert(poll("get.records", 1L) === 1L, "point get pulled 1 record")
    db.stream(LogRange(lte = Some(1L))).collect() // bounded scan: 2 more
    assert(poll("stream.records", 5L) === 5L, "record counter accumulates per record, not per call")
  }

  test("meta counts records delivered through a LIVE stream, per micro-batch") {
    import org.apache.spark.sql.streaming.OutputMode
    val (log, db) = mkDb()
    log.appendRows(Seq(Row(1L), Row(2L)))
    def poll(key: String, want: Long): Long = {
      val deadline = System.currentTimeMillis() + 15000
      while (System.currentTimeMillis() < deadline &&
        !db.meta.get(key).exists(_.get() == want)) Thread.sleep(50)
      db.meta.get(key).map(_.get()).getOrElse(-1L)
    }
    val q = db.stream(LogRange(live = true)).writeStream
      .format("memory").queryName("meta_live_test").outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      assert(poll("stream.records", 2L) === 2L, "initial delta counted")
      log.appendRows(Seq(Row(3L)))
      q.processAllAvailable()
      assert(poll("stream.records", 3L) === 3L, "post-start appends keep counting")
    } finally q.stop()
  }

  test("append.records counts appended rows") {
    val (_, db) = mkDb()
    db.append(spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row(1L), Row(2L))), schema))
    db.append(spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row(3L))), schema))
    assert(db.meta("append.records").get() === 3L)
    assert(db.meta("append").get() === 2L)
  }

  test("record counters of two dbs on one session stay independent (shared listener)") {
    val (log1, db1) = mkDb()
    val (log2, db2) = mkDb()
    log1.appendRows(Seq(Row(1L), Row(2L)))
    log2.appendRows(Seq(Row(1L)))
    db1.stream().collect()
    db2.stream().collect()
    def poll(db: graft.core.FlumeDb, key: String, want: Long): Long = {
      val deadline = System.currentTimeMillis() + 15000
      while (System.currentTimeMillis() < deadline &&
        !db.meta.get(key).exists(_.get() == want)) Thread.sleep(50)
      db.meta.get(key).map(_.get()).getOrElse(-1L)
    }
    assert(poll(db1, "stream.records", 2L) === 2L)
    assert(poll(db2, "stream.records", 1L) === 1L)
    db1.close() // unregisters db1's meta map...
    db2.stream().collect()
    assert(poll(db2, "stream.records", 2L) === 2L, "...while db2 keeps counting")
  }

  test("throwing mapper errors the read instead of hanging (memlog-map.js:120-131)") {
    val boom = udf { x: Long =>
      if (x >= 0) throw new RuntimeException("mapper boom"); x
    }
    val mapper: DataFrame => DataFrame = df => df.withColumn("foo", boom(col("foo")))
    val (_, db) = mkDb(mapper = Some(mapper))
    db.use("sum", SumReduceView("foo"))
    // the append's synchronous view sync hits the mapper error (absorb +
    // the destroy/replay retry both fail) and must surface it
    val ex = intercept[Exception] {
      db.append(spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row(1L))), schema))
    }
    def rootMessages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: rootMessages(e.getCause))
    assert(rootMessages(ex).exists(m => m != null && m.contains("mapper boom")),
      s"mapper error must propagate, got: $ex")
    assert(db.view("sum").lastError.isDefined)
    // the gated read then times out at the stale cursor — an error, not a hang
    intercept[java.util.concurrent.TimeoutException] {
      db.awaitView("sum", timeoutMs = 1500)
    }
  }

  test("onSince: db cursor observable emits now and on every append (index.js:142)") {
    val (_, db) = mkDb()
    val seen = scala.collection.mutable.Buffer[Long]()
    val unsub = db.onSince(seen += _)
    assert(seen.toSeq === Seq(-1L), "subscribe emits the current value (obz)")
    db.append(spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row(1L))), schema))
    assert(seen.toSeq === Seq(-1L, 0L))
    db.append(spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row(2L), Row(3L))), schema))
    assert(seen.toSeq === Seq(-1L, 0L, 2L), "one emission per committed batch, at its final seq")
    unsub()
    db.append(spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row(4L))), schema))
    assert(seen.size === 3, "unsubscribed listener must not fire")
  }

  test("view onSince drains queued waiters in seq order (wrap.js:17-20)") {
    val (_, db) = mkDb()
    db.use("stats", StatsReduceView("foo"))
    val m = db.view("stats")
    // Restate wrap.js's waiter queue on the callback surface: waiters are
    // (seq, cb) sorted by seq; each since emission pops every waiter whose
    // seq <= upto, in order.
    val fired = scala.collection.mutable.Buffer[Long]()
    val waiting = scala.collection.mutable.Queue(
      0L -> (() => fired += 0L), 2L -> (() => fired += 2L), 5L -> (() => fired += 5L))
    m.onSince { upto =>
      while (waiting.nonEmpty && waiting.head._1 <= upto) waiting.dequeue()._2()
    }
    assert(fired.isEmpty, "view at since=-1: no waiter is due yet")
    db.append(spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row(1L))), schema))
    assert(fired.toSeq === Seq(0L), "since=0 drains exactly the seq<=0 waiter")
    db.append(spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row(2L), Row(3L))), schema))
    assert(fired.toSeq === Seq(0L, 2L), "since=2 drains the seq<=2 waiter; seq=5 still queued")
    assert(waiting.nonEmpty && waiting.head._1 === 5L)
    // a late subscriber on a loaded view gets the current value immediately
    var late = -100L
    m.onSince(late = _)
    assert(late === 2L)
  }

  private def fooDf(vs: Long*): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(vs.map(Row(_))), schema)

  test("db-level takedown: seq-keyed views retract in place ≡ rebuild; folding views rebuild") {
    val (log, db) = mkDb()
    val counting = new CountingView
    db.use("idx", IndexView(array(col("foo").cast("string")), "seq"))
      .use("stats", StatsReduceView("foo"))
      .use("count", countingDef(counting))
    db.append(fooDf(10L, 20L, 30L, 20L, 40L)) // seqs 0..4
    val destroysBefore = counting.destroys.get()
    assert(db.retract(col("foo") === 20L) === 2L)
    // log: matching rows gone, surviving seqs keep their holes
    assert(log.read.select("seq").collect().map(_.getLong(0)).toSet === Set(0L, 2L, 4L))
    assert(db.since === 4L, "the log cursor never regresses")
    // the seq-keyed index retracted IN PLACE: no ghost postings, cursor kept
    val idx = db.view("idx").view.asInstanceOf[IndexView]
    assert(idx.get("20").count() === 0L, "retracted postings must leave the index")
    assert(idx.frame.get.select("seq").collect().map(_.getLong(0)).toSet === Set(0L, 2L, 4L))
    assert(idx.since === 4L, "in-place retraction does not move the view cursor")
    // ...and is IDENTICAL to a twin rebuilt from the retracted log
    val twin = new IndexView(array(col("foo").cast("string")), "seq")
    twin.absorb(log.read, log.since)
    assert(idx.frame.get.collect().toSet === twin.frame.get.collect().toSet)
    // folding views cannot un-absorb: destroyed + rebuilt from the kept rows
    assert(counting.destroys.get() === destroysBefore + 1,
      "a non-seq-keyed view must be destroyed and rebuilt by the takedown")
    val st = db.gated("stats")(_.asInstanceOf[MergeableReduceView[Stats]].value.get)
    assert(st.n === 3L && math.abs(st.mean - (10 + 30 + 40) / 3.0) < 1e-12,
      s"the rebuilt fold must see only kept rows, got n=${st.n} mean=${st.mean}")
  }

  test("db-level takedown by id list: the batch form reaches log and views") {
    val (log, db) = mkDb()
    db.use("idx", IndexView(array(col("foo").cast("string")), "seq"))
    db.append(fooDf(10L, 20L, 30L, 40L))
    val ids = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(20L), Row(40L), Row(999L))),
      StructType(Seq(StructField("foo", LongType))))
    assert(db.retractIds(ids, "foo") === 2L)
    assert(log.read.select("foo").collect().map(_.getLong(0)).toSet === Set(10L, 30L))
    val idx = db.view("idx").view.asInstanceOf[IndexView]
    assert(idx.frame.get.select("seq").collect().map(_.getLong(0)).toSet === Set(0L, 2L))
  }

  test("db-level takedown prunes search postings in place (no ghost terms)") {
    val schema2 = StructType(Seq(StructField("text", StringType)))
    val log = new MemoryLog(spark, schema2)
    val db = new FlumeDb(log)
    db.use("search", SearchView("text"))
    db.append(spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row("spark joins data"), Row("secret document"), Row("spark streams"))), schema2))
    assert(db.retract(col("text").contains("secret")) === 1L)
    val sv = db.view("search").view.asInstanceOf[SearchView]
    assert(sv.search("secret").count() === 0L, "ghost postings must leave the search index")
    assert(sv.search("spark").collect().map(_.getLong(0)).toSeq === Seq(0L, 2L))
    assert(sv.since === 2L, "in-place pruning keeps the view cursor")
  }

  test("durable takedown: the log/view crash window is replayed by recoverRetract") {
    import java.nio.file.{Files, Paths}
    def tmp(p: String) = Files.createTempDirectory(p).toString
    val dirLog = tmp("graft-dbr-log"); val dirIdx = tmp("graft-dbr-idx")
    val intent = Paths.get(tmp("graft-dbr-i"), "_intent").toString
    val log1 = new ParquetLog(spark, dirLog, schema)
    log1.append(fooDf(10L, 20L, 30L, 40L))
    new FlumeDb(log1).use("idx", PersistentIndexView.onColumn(dirIdx, "foo"))
    // simulate a death AFTER the log rewrite, BEFORE the view pass: the
    // durable protocol's state at that instant is (seq list, marker,
    // retracted log, ghost postings)
    log1.read.where(col("foo") === 20L).select("seq").write.parquet(intent + ".seqs")
    Files.writeString(Paths.get(intent), "@seqs")
    log1.retract(col("foo") === 20L)
    // reopen: fresh handles over the same storage
    val log2 = new ParquetLog(spark, dirLog, schema)
    val db2 = new FlumeDb(log2).use("idx", PersistentIndexView.onColumn(dirIdx, "foo"))
    val idx = db2.view("idx").view.asInstanceOf[graft.views.PersistentIndexView]
    assert(idx.get("20").count() === 1L,
      "precondition: the crash left a ghost posting the build loop can never remove")
    // a NEW takedown must refuse while the window is open
    intercept[IllegalStateException](db2.retract(col("foo") === 10L, intent))
    assert(db2.recoverRetract(intent), "an open window must replay")
    assert(idx.get("20").count() === 0L, "the ghost posting left on replay")
    assert(log2.read.count() === 3L)
    assert(!Files.exists(Paths.get(intent)), "the intent cleared")
    assert(!db2.recoverRetract(intent), "no window: recovery is a no-op")
    // the happy path end to end, same api
    assert(db2.retract(col("foo") === 30L, intent) === 1L)
    assert(idx.get("30").count() === 0L)
    assert(!Files.exists(Paths.get(intent)))
    // the durable ID-LIST form: same intent protocol, the matched seq
    // set goes durable and both rewrites ride the count-fenced join
    val ids = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(40L), Row(999L))),
      StructType(Seq(StructField("foo", LongType))))
    assert(db2.retractIds(ids, "foo", intent) === 1L)
    assert(idx.get("40").count() === 0L)
    assert(log2.read.select("foo").collect().map(_.getLong(0)).toSeq === Seq(10L))
    assert(!Files.exists(Paths.get(intent)))
  }

  test("durable retention: the EXPIRE intent replays the horizon across a crash") {
    import java.nio.file.{Files, Paths}
    def tmp(p: String) = Files.createTempDirectory(p).toString
    val dirLog = tmp("graft-dbe-log"); val dirIdx = tmp("graft-dbe-idx")
    val intent = Paths.get(tmp("graft-dbe-i"), "_intent").toString
    val log1 = new ParquetLog(spark, dirLog, schema, bucketSize = 2L)
    log1.append(fooDf(10L, 20L, 30L, 40L, 50L)) // seqs 0..4
    new FlumeDb(log1).use("idx", PersistentIndexView.onColumn(dirIdx, "foo"))
    // death after the log truncation, before the view pass
    Files.writeString(Paths.get(intent), "EXPIRE 2")
    log1.expire(2L)
    val log2 = new ParquetLog(spark, dirLog, schema, bucketSize = 2L)
    val db2 = new FlumeDb(log2).use("idx", PersistentIndexView.onColumn(dirIdx, "foo"))
    val idx = db2.view("idx").view.asInstanceOf[graft.views.PersistentIndexView]
    assert(idx.frame.where(col("seq") <= 2L).count() === 3L, "precondition: ghost postings")
    assert(db2.recoverRetract(intent))
    assert(idx.frame.where(col("seq") <= 2L).count() === 0L)
    assert(idx.frame.count() === 2L)
    assert(log2.since === 4L, "replaying the horizon never regresses the cursor")
  }

  test("db-level retention: expire ages the prefix out of the log and every view") {
    val (log, db) = mkDb()
    db.use("idx", IndexView(array(col("foo").cast("string")), "seq"))
      .use("stats", StatsReduceView("foo"))
    db.append(fooDf(10L, 20L, 30L, 40L, 50L)) // seqs 0..4
    assert(db.expire(2L) === 3L)
    assert(log.read.select("seq").collect().map(_.getLong(0)).toSet === Set(3L, 4L))
    assert(db.since === 4L, "expiry never regresses the cursor")
    val idx = db.view("idx").view.asInstanceOf[IndexView]
    assert(idx.frame.get.select("seq").collect().map(_.getLong(0)).toSet === Set(3L, 4L),
      "expired postings must leave the seq-keyed index in place")
    val st = db.gated("stats")(_.asInstanceOf[MergeableReduceView[Stats]].value.get)
    assert(st.n === 2L && math.abs(st.mean - 45.0) < 1e-12,
      s"the rebuilt fold must see only the surviving suffix, got n=${st.n} mean=${st.mean}")
    // gated reads still gate correctly after the lifecycle ops
    db.append(fooDf(60L))
    val st2 = db.gated("stats")(_.asInstanceOf[MergeableReduceView[Stats]].value.get)
    assert(st2.n === 3L)
  }

  val kvSchema: StructType = StructType(Seq(
    StructField("k", StringType), StructField("v", LongType)))
  private def kvDf(rows: (String, Long)*): DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2))), kvSchema)

  test("hashtable takes a db takedown IN PLACE: purge + affected-key recompute equals rebuild") {
    import java.nio.file.Files
    def tmp(p: String) = Files.createTempDirectory(p).toString
    val dirLog = tmp("graft-htr-log"); val dirHt = tmp("graft-htr-ht")
    val log = new ParquetLog(spark, dirLog, kvSchema)
    val db = new FlumeDb(log).use("ht", PersistentHashtableView(dirHt, "k"))
    // batch 1: a is superseded WITHIN the batch (seq 0 never stored —
    // the within-batch compaction the recompute must see through)
    db.append(kvDf(("a", 1L), ("a", 2L), ("b", 10L)))   // seqs 0,1,2
    db.append(kvDf(("b", 11L), ("c", 20L)))             // seqs 3,4
    val ht = db.view("ht").view.asInstanceOf[graft.views.PersistentHashtableView]
    def state() = ht.frame.select("k", "v", "seq").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(state() === Set(("a", 2L, 1L), ("b", 11L, 3L), ("c", 20L, 4L)))
    // takedown of a's CURRENT latest (seq 1): the true survivor a@0 is
    // in the log but NOT in any stored delta — only the key-pruned log
    // recompute can restore it; a stale-stored-version shortcut cannot
    assert(db.retract(col("k") === "a" && col("v") === 2L) === 1L)
    assert(ht.since === log.since, "in-place takedown keeps the view cursor")
    assert(state() === Set(("a", 1L, 0L), ("b", 11L, 3L), ("c", 20L, 4L)),
      "the affected key recomputed to the surviving superseded version")
    // equivalence pin: a from-scratch rebuild of the same log agrees
    val rebuilt = new graft.views.PersistentHashtableView(
      spark, tmp("graft-htr-rb") + "/ht", 1, "k", "seq")
    rebuilt.absorb(log.read, log.since)
    assert(state() === rebuilt.frame.select("k", "v", "seq").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet)
    // the removed bytes physically left every delta (not just the read)
    val rawSeqs = spark.read.parquet(
      graft.views.FsLists.children(java.nio.file.Paths.get(dirHt, "ht"))
        .filter(_.getFileName.toString.startsWith("batch="))
        .map(_.toString): _*).select("seq").collect().map(_.getLong(0)).toSet
    assert(!rawSeqs.contains(1L), s"retracted seq still stored: $rawSeqs")
    // whole-key takedown: b vanishes entirely (both versions purged)
    assert(db.retract(col("k") === "b") === 2L)
    assert(state() === Set(("a", 1L, 0L), ("c", 20L, 4L)))
    // retention: a@0 ages out by predicate delete, c survives
    assert(db.expire(2L) === 1L) // only seq 0 is left at/under the horizon
    assert(state() === Set(("c", 20L, 4L)))
  }

  test("hashtable in-place takedown is replay-idempotent (the durable intent re-runs it)") {
    import java.nio.file.Files
    def tmp(p: String) = Files.createTempDirectory(p).toString
    val log = new ParquetLog(spark, tmp("graft-htp-log"), kvSchema)
    log.append(kvDf(("a", 1L), ("a", 2L), ("b", 10L)))
    log.append(kvDf(("c", 20L)))
    val ht = new graft.views.PersistentHashtableView(
      spark, tmp("graft-htp-ht") + "/ht", 1, "k", "seq")
    ht.absorb(log.read.where(col("seq") <= 2L), 2L)
    ht.absorb(log.read.where(col("seq") > 2L), 3L)
    val seqs = log.read.where(col("k") === "a" && col("v") === 2L).select("seq")
      .localCheckpoint(true)
    log.retractIds(seqs, "seq")
    ht.retractLogSeqsRecompute(seqs, "seq", log.read)
    def state() = ht.frame.select("k", "seq").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val once = state()
    ht.retractLogSeqsRecompute(seqs, "seq", log.read) // the replay
    assert(state() === once, "a second (replayed) takedown must be a no-op")
    assert(once === Set(("a", 0L), ("b", 2L), ("c", 3L)))
  }

  test("hashtable in-place takedown of EVERY row tombstones the delta instead of writing an empty dir") {
    // review regression: when all affected keys lose all surviving rows
    // and the last delta held only affected keys, the repair swap's
    // content is EMPTY — Spark writes no part files for an empty frame,
    // so a plain swap would leave a schema-less dir (_SUCCESS only)
    // that breaks every later read. swapUnit must tombstone instead.
    import java.nio.file.Files
    def tmp(p: String) = Files.createTempDirectory(p).toString
    val log = new ParquetLog(spark, tmp("graft-hte-log"), kvSchema)
    val db = new FlumeDb(log).use("ht",
      PersistentHashtableView(tmp("graft-hte-ht"), "k"))
    db.append(kvDf(("a", 1L), ("b", 2L)))
    val ht = db.view("ht").view.asInstanceOf[graft.views.PersistentHashtableView]
    assert(db.retract(col("k") === "a" || col("k") === "b") === 2L,
      "the takedown matches every row of every key")
    assert(ht.frameOption.isEmpty, "the store is empty, not corrupt")
    // the store still works: a later append absorbs into a fresh delta
    db.append(kvDf(("c", 3L)))
    assert(ht.frame.select("k").collect().map(_.getString(0)).toSeq === Seq("c"))
  }

  test("a fence refusal DURING a durable pass (post-intent) unlatches the fresh intent") {
    // review regression: the entry probe narrows but cannot close the
    // race — a tail starting between the probe and the rewrite makes
    // log.retract throw AFTER the marker exists, which used to latch an
    // open intent for an operation that mutated nothing
    import java.nio.file.{Files, Paths}
    def tmp(p: String) = Files.createTempDirectory(p).toString
    val intent = Paths.get(tmp("graft-dbfr-i"), "_intent").toString
    val log = new MemoryLog(spark, schema) {
      var probes = 0
      override def probeRewriteFence(op: String): Unit = {
        probes += 1
        if (probes > 1) throw new IllegalStateException(s"$op: a live tail started mid-pass")
      }
      override protected def retractMarked(mark: DataFrame => DataFrame): Long = {
        probeRewriteFence("retract"); super.retractMarked(mark)
      }
    }
    val db = new FlumeDb(log)
    db.append(fooDf(10L, 20L))
    val e = intercept[IllegalStateException](db.retract(col("foo") === 10L, intent))
    assert(e.getMessage.contains("tail started"))
    assert(!Files.exists(Paths.get(intent)),
      "nothing was mutated — the refusal must not leave an open intent")
    assert(!Files.exists(Paths.get(intent + ".seqs")))
    assert(log.read.count() === 2L)
    assert(!db.recoverRetract(intent), "no window was latched")
    // the dual: an UNRELATED mid-rewrite failure must KEEP the intent
    // (the rewrite may have partially run; only the replay completes it)
    val log2 = new MemoryLog(spark, schema) {
      override protected def retractMarked(mark: DataFrame => DataFrame): Long =
        throw new IllegalStateException("disk on fire mid-rewrite")
    }
    val db2 = new FlumeDb(log2)
    db2.append(fooDf(10L))
    val intent2 = Paths.get(tmp("graft-dbfr-i2"), "_intent").toString
    intercept[IllegalStateException](db2.retract(col("foo") === 10L, intent2))
    assert(Files.exists(Paths.get(intent2)),
      "a non-fence failure keeps the window open for the replay")
    Files.delete(Paths.get(intent2))
  }

  test("SCD-2 dimension takes a db takedown/retention IN PLACE, equal to rebuild") {
    import java.nio.file.Files
    def tmp(p: String) = Files.createTempDirectory(p).toString
    val log = new ParquetLog(spark, tmp("graft-scdr-log"), kvSchema)
    val db = new FlumeDb(log).use("dim",
      graft.views.Scd2TableView(tmp("graft-scdr-dim"), "k", "seq", Seq("v")))
    db.append(kvDf(("a", 1L), ("b", 10L)))  // seqs 0,1
    db.append(kvDf(("a", 2L), ("a", 3L)))   // seqs 2,3
    val dim = db.view("dim").view.asInstanceOf[graft.views.Scd2TableView]
    def rows() = dim.dimension.select("k", "from_seq", "to_seq", "v").collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2), r.getLong(3))).toSet
    assert(rows() === Set(("a", 0L, 2L, 1L), ("a", 2L, 3L, 2L), ("a", 3L, -1L, 3L),
      ("b", 1L, -1L, 10L)))
    // take down a's MIDDLE version: the neighbors' intervals must
    // re-close over the gap (0 → 3 directly), exactly as a rebuild
    assert(db.retract(col("k") === "a" && col("v") === 2L) === 1L)
    assert(dim.since === log.since, "in-place delete keeps the view cursor")
    assert(rows() === Set(("a", 0L, 3L, 1L), ("a", 3L, -1L, 3L), ("b", 1L, -1L, 10L)))
    val rebuilt = Scd2.dimension(log.read.select("k", "seq", "v"), "k", "seq", Seq("v"))
      .select("k", "from_seq", "to_seq", "v").collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2), r.getLong(3))).toSet
    assert(rows() === rebuilt, "in-place dimension diverged from rebuild")
    // retention: versions that began before the horizon leave in place
    assert(db.expire(0L) === 1L) // seq 0 (a v1)
    assert(rows() === Set(("a", 3L, -1L, 3L), ("b", 1L, -1L, 10L)))
  }

  test("invertible sum reduce takes a db takedown by subtraction, not rebuild") {
    val (log, db) = mkDb()
    val partialRows = new java.util.concurrent.atomic.AtomicLong()
    val vd = MergeableReduceView.invertible[(Double, Long)] { df =>
      val n = df.count(); partialRows.addAndGet(n)
      val s = if (n == 0) 0.0 else df.agg(sum(col("foo")).cast("double")).head().getDouble(0)
      (s, n)
    } { case ((s1, c1), (s2, c2)) => (s1 + s2, c1 + c2) } {
      case ((s1, c1), (s2, c2)) => (s1 - s2, c1 - c2) }
    db.use("sum", vd)
    db.append(fooDf(10L, 20L, 30L, 40L, 50L)) // 5 rows folded
    val before = partialRows.get()
    assert(db.retract(col("foo") === 20L || col("foo") === 40L) === 2L)
    val v = db.view("sum").view.asInstanceOf[MergeableReduceView[(Double, Long)]]
    assert(v.value.get === ((90.0, 3L)), s"got ${v.value}")
    assert(v.since === log.since, "unabsorb keeps the cursor")
    assert(partialRows.get() - before === 2L,
      s"the inverse path must fold ONLY the removed rows, saw ${partialRows.get() - before}")
    // retention subtracts the expiring prefix the same way
    assert(db.expire(2L) === 2L) // seqs 0,2 remain? removed seqs 1,3 earlier; 0,2 <= 2
    assert(v.value.get === ((50.0, 1L)), s"got ${v.value}")
    // a Welford stats view (no inverse) still rebuilds — and agrees
    db.use("stats", StatsReduceView("foo"))
    val st = db.gated("stats")(_.asInstanceOf[MergeableReduceView[Stats]].value.get)
    assert(st.n === 1L && st.mean === 50.0)
  }

  test("durable sum reduce: the un-merged value survives reopen") {
    import java.nio.file.Files
    def tmp(p: String) = Files.createTempDirectory(p).toString
    val dirLog = tmp("graft-psr-log"); val dirV = tmp("graft-psr-v")
    val log = new ParquetLog(spark, dirLog,
      StructType(Seq(StructField("foo", LongType))))
    val db = new FlumeDb(log).use("sum",
      graft.views.PersistentSumReduceView(dirV, 1, "foo"))
    db.append(fooDf(10L, 20L, 30L))
    assert(db.retract(col("foo") === 20L) === 1L)
    def readVal(d: FlumeDb) =
      d.gated("sum")(_.asInstanceOf[graft.views.PersistentReduceView[(Double, Long)]].value.get)
    assert(readVal(db) === ((40.0, 2L)))
    db.close()
    val log2 = new ParquetLog(spark, dirLog,
      StructType(Seq(StructField("foo", LongType))))
    val db2 = new FlumeDb(log2).use("sum",
      graft.views.PersistentSumReduceView(dirV, 1, "foo"))
    assert(readVal(db2) === ((40.0, 2L)), "the subtracted value must be the durable one")
  }

  test("retention keeps mounted feature tables by default; expireFeatures truncates their deltas") {
    import java.nio.file.Files
    def tmp(p: String) = Files.createTempDirectory(p).toString
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def docs(rows: (Long, String)*) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2))), docSchema)
    val log = new ParquetLog(spark, tmp("graft-fexp-log"), docSchema)
    val db = new FlumeDb(log).use("sigs",
      graft.views.SignatureTableView(tmp("graft-fexp-sig"), "doc_id", "text"))
    db.append(docs((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven")))          // seqs 0,1 → delta upto 1
    db.append(docs((3L, "red green blue yellow purple orange")))   // seq 2 → delta upto 2
    val sv = db.view("sigs").view.asInstanceOf[graft.views.SignatureTableView]
    def sigIds() = sv.sigs.select("id").collect().map(_.getLong(0)).toSet
    assert(sigIds() === Set(1L, 2L, 3L))
    // DEFAULT: the log prefix leaves, the signatures stay (a re-crawl
    // of aged-out content must still dedup) and the cursor is untouched
    assert(db.expire(1L) === 2L)
    assert(log.read.count() === 1L)
    assert(sigIds() === Set(1L, 2L, 3L), "keep-signatures is the default")
    assert(sv.since === log.since)
    // OPT-IN: the aged-out delta truncates — even though the log rows
    // already left in the earlier keep-features pass
    assert(db.expire(1L, expireFeatures = true) === 0L)
    assert(sigIds() === Set(3L), "the horizon delta aged out; the boundary delta stays")
    assert(sv.since === log.since, "feature truncation never moves the cursor")
    // durable form records the flag: replay after a crash reclaims too
    db.append(docs((4L, "omega sigma theta lambda kappa mu")))  // seq 3 → delta upto 3
    val intent = java.nio.file.Paths.get(tmp("graft-fexp-i"), "_intent").toString
    Files.createDirectories(java.nio.file.Paths.get(intent).getParent)
    Files.writeString(java.nio.file.Paths.get(intent), "EXPIRE 2 FEATURES views=sigs")
    log.expire(2L) // crash window: log truncated, features not
    assert(sigIds() === Set(3L, 4L))
    assert(db.recoverRetract(intent))
    assert(sigIds() === Set(4L), "the FEATURES intent replays the truncation")
  }

  test("onRetract (the derived-model retrain hook) fires the removed seq set on takedowns, never on retention") {
    val (_, db) = mkDb()
    db.append(fooDf(10L, 20L, 30L, 40L, 50L)) // seqs 0..4
    var fired = Vector.empty[Seq[Long]]
    val unsub = db.onRetract(seqs =>
      fired :+= seqs.collect().map(_.getLong(0)).sorted.toSeq)
    assert(db.retract(col("foo") === 20L) === 1L)
    assert(fired === Vector(Seq(1L)), "the hook receives exactly the removed seqs")
    import org.apache.spark.sql.Row
    val ids = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(40L))),
      StructType(Seq(StructField("foo", LongType))))
    assert(db.retractIds(ids, "foo") === 1L)
    assert(fired === Vector(Seq(1L), Seq(3L)))
    // zero-match takedowns fire nothing (no model influence changed)
    assert(db.retract(col("foo") === 999L) === 0L)
    assert(fired.size === 2)
    // RETENTION does not fire: aging out is not an erasure request
    assert(db.expire(0L) === 1L)
    assert(fired.size === 2)
    // the durable form fires too (takedown via intent)
    val intent = java.nio.file.Paths.get(
      java.nio.file.Files.createTempDirectory("graft-hook-i").toString, "_i").toString
    assert(db.retract(col("foo") === 30L, intent) === 1L)
    assert(fired.size === 3 && fired.last === Seq(2L))
    unsub()
    assert(db.retract(col("foo") === 50L) === 1L)
    assert(fired.size === 3, "an unsubscribed hook stays silent")
  }

  test("durable takedown hooks: a deferred frame stays usable; a throwing hook cannot latch the intent") {
    import java.nio.file.{Files, Paths}
    def tmp(p: String) = Files.createTempDirectory(p).toString
    val dirLog = tmp("graft-hookd-log")
    val log = new ParquetLog(spark, dirLog, schema)
    val db = new FlumeDb(log)
    db.append(fooDf(10L, 20L, 30L, 40L))
    // DEFERRED evaluation: the documented use is intersecting removed
    // seqs with training lineage, possibly after the call returns — by
    // then the durable .seqs parquet beside the intent is deleted, so
    // the hook frame must not read through it
    var deferred: Option[DataFrame] = None
    val unsub = db.onRetract(seqs => deferred = Some(seqs))
    val i1 = Paths.get(tmp("graft-hookd-i1"), "_i").toString
    assert(db.retract(col("foo") === 20L, i1) === 1L)
    assert(!Files.exists(Paths.get(i1 + ".seqs")), "precondition: the durable list is gone")
    assert(deferred.get.collect().map(_.getLong(0)).toSeq === Seq(1L),
      "the hook frame evaluates after the durable copy left")
    unsub()
    // A THROWING hook surfaces to the caller but must not latch the
    // intent: the erasure itself completed, and an open intent would
    // refuse every future takedown until deleted by hand
    val unsub2 = db.onRetract(_ => throw new RuntimeException("hook boom"))
    val i2 = Paths.get(tmp("graft-hookd-i2"), "_i").toString
    val e = intercept[RuntimeException](db.retract(col("foo") === 30L, i2))
    assert(e.getMessage === "hook boom")
    assert(!Files.exists(Paths.get(i2)), "the completed intent cleared despite the hook")
    assert(log.read.count() === 2L, "the takedown itself completed")
    unsub2()
    // the id-list durable arm gives the same contract
    var deferred2: Option[DataFrame] = None
    db.onRetract(seqs => deferred2 = Some(seqs))
    val ids = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(40L))),
      StructType(Seq(StructField("foo", LongType))))
    val i3 = Paths.get(tmp("graft-hookd-i3"), "_i").toString
    assert(db.retractIds(ids, "foo", i3) === 1L)
    assert(deferred2.get.collect().map(_.getLong(0)).toSeq === Seq(3L))
    // and a REPLAYED crash window fires the hook (the crashed pass never
    // did) — the completion signal derived-model holders wait on
    var replayFired: Option[Seq[Long]] = None
    db.onRetract(seqs => replayFired = Some(seqs.collect().map(_.getLong(0)).toSeq))
    val i4 = Paths.get(tmp("graft-hookd-i4"), "_i").toString
    log.read.where(col("foo") === 10L).select("seq").write.parquet(i4 + ".seqs")
    Files.writeString(Paths.get(i4), "@seqs")
    assert(db.recoverRetract(i4))
    assert(replayFired === Some(Seq(0L)), "replay fires the removed seq set")
  }

  test("onRetract drives a k-means refit — the hook payload suffices for a derived-model consumer") {
    import java.nio.file.{Files, Paths}
    // The worked example the retrain policy promises: a pipeline holds a
    // KMeans model trained on a log snapshot; the hook's removed-seq set
    // intersected with the training lineage decides whether to refit.
    val embSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val dir = Files.createTempDirectory("graft-hookkm").toString
    val log = new ParquetLog(spark, dir, embSchema)
    val db = new FlumeDb(log)
    def vec(seed: Long): Seq[Float] = Seq.tabulate(4)(i => ((seed * 31 + i * 7) % 13).toFloat)
    db.append(spark.createDataFrame(
      spark.sparkContext.parallelize((0L until 12L).map(i => Row(i, vec(i))), 2),
      embSchema))
    var trainedThrough = log.since // lineage: the cursor the snapshot covered
    var model = graft.ops.KMeans.fit(log.read, k = 3, iters = 2)
    var refits = 0
    val unsub = db.onRetract { removed =>
      // seq-set ∩ lineage — the decision the hook exists to enable
      if (removed.where(col("seq") <= trainedThrough).limit(1).count() > 0) {
        model = graft.ops.KMeans.fit(log.read, k = 3, iters = 2)
        trainedThrough = log.since
        refits += 1
      }
    }
    // vec_id 1 is one of the k lowest-id SEED vectors: the refit must
    // both fire and move the model
    val before = model
    assert(db.retract(col("vec_id") === 1L) === 1L)
    assert(refits === 1, "a takedown intersecting the lineage refits exactly once")
    assert(model !== before, "removing a seed vector must move the model")
    // deterministic replay: the hook-driven refit equals a from-scratch
    // fit over the surviving corpus
    assert(model === graft.ops.KMeans.fit(log.read, k = 3, iters = 2))
    // RETENTION does not fire the hook (aging out is not an erasure)
    db.expire(2L)
    assert(refits === 1, "expire must not trigger a retrain")
    // a takedown with NO lineage overlap fires the hook but not a refit
    db.append(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(99L, vec(99L))), 1), embSchema))
    assert(db.retract(col("vec_id") === 99L) === 1L)
    assert(refits === 1, "post-lineage rows do not invalidate the model")
    unsub()
  }

  test("enqueueRetractWhere refuses a predicate over a nonexistent column at ACCEPT, not at drain") {
    import java.nio.file.{Files, Paths}
    def tmp(p: String) = Files.createTempDirectory(p).toString
    val log = new ParquetLog(spark, tmp("graft-qsem-log"), schema)
    val db = new FlumeDb(log)
    db.append(fooDf(10L, 20L, 30L))
    val queue = tmp("graft-qsem-q") + "/queue"
    // parseable but semantically wrong (a typo'd column): before the
    // accept-time resolution this enqueued durably and then threw inside
    // EVERY drain and open-time recovery — blocking valid erasure
    // requests queued behind it until the marker was deleted by hand
    intercept[Exception](db.enqueueRetractWhere("fooo = 20", queue))
    assert(!Files.exists(Paths.get(queue)) || Files.list(Paths.get(queue)).count() === 0L,
      "a semantic refusal leaves nothing durable")
    // the queue stays fully operational for valid requests
    assert(db.enqueueRetractWhere("foo = 20", queue) === 1)
    assert(db.drainRetractQueue(queue) === 1L)
    assert(log.read.select("foo").collect().map(_.getLong(0)).toSet === Set(10L, 30L))
  }

  test("db-level EVENT-TIME retention: expireOlderThan orchestrates views at the derived horizon") {
    import java.nio.file.Files
    def tmp(p: String) = Files.createTempDirectory(p).toString
    val tsSchema = StructType(Seq(
      StructField("ts_ms", LongType), StructField("k", StringType), StructField("v", LongType)))
    def rows(vs: (Long, String, Long)*) = spark.createDataFrame(
      spark.sparkContext.parallelize(vs.map(x => Row(x._1, x._2, x._3))), tsSchema)
    val log = new ParquetLog(spark, tmp("graft-ett-log"), tsSchema, bucketSize = 2L,
      statsColumns = Seq("ts_ms"))
    val db = new FlumeDb(log)
      .use("ht", PersistentHashtableView(tmp("graft-ett-ht"), "k"))
      .use("sum", SumReduceView("v"))
    db.append(rows((1000L, "a", 1L), (2000L, "b", 2L), (3000L, "a", 3L),
      (4000L, "c", 4L), (5000L, "b", 5L)))
    // "older than 3500ms": seqs 0..2 age out of log AND every view
    assert(db.expireOlderThan("ts_ms", 3500L) === 3L)
    assert(log.read.count() === 2L)
    val ht = db.view("ht").view.asInstanceOf[graft.views.PersistentHashtableView]
    assert(ht.frame.select("k", "v").collect().map(r => (r.getString(0), r.getLong(1))).toSet
      === Set(("c", 4L), ("b", 5L)), "the hashtable aged out in place")
    val (s, n) = db.gated("sum")(_.asInstanceOf[MergeableReduceView[(Double, Long)]].value.get)
    assert((s, n) === ((9.0, 2L)), "the sum fold subtracted the expired prefix exactly")
    // durable form: the derived horizon is the scalar intent
    val intent = java.nio.file.Paths.get(tmp("graft-ett-i"), "_intent").toString
    assert(db.expireOlderThan("ts_ms", 4500L, intent, expireFeatures = false) === 1L)
    assert(log.read.count() === 1L)
    assert(!Files.exists(java.nio.file.Paths.get(intent)), "the completed intent cleared")
  }

  test("takedown queue: K enqueued intents drain as ONE merged pass; crash windows replay") {
    import java.nio.file.{Files, Paths}
    def tmp(p: String) = Files.createTempDirectory(p).toString
    def idsDf(vs: Long*) = spark.createDataFrame(
      spark.sparkContext.parallelize(vs.map(Row(_))),
      StructType(Seq(StructField("foo", LongType))))
    val dirLog = tmp("graft-q-log"); val dirIdx = tmp("graft-q-idx")
    val queue = tmp("graft-q-q") + "/queue"
    val log = new ParquetLog(spark, dirLog, schema)
    val db = new FlumeDb(log).use("idx", PersistentIndexView.onColumn(dirIdx, "foo"))
    db.append(fooDf(10L, 20L, 30L, 40L, 50L, 60L))
    // three requests accepted durably, none executed yet
    assert(db.enqueueRetractIds(idsDf(20L), "foo", queue) === 1)
    assert(db.enqueueRetractIds(idsDf(40L, 999L), "foo", queue) === 2)
    assert(db.enqueueRetractIds(idsDf(60L), "foo", queue) === 3)
    assert(log.read.count() === 6L, "acceptance must not touch the log")
    // one merged drain: one match scan, one rewrite, one view pass
    assert(db.drainRetractQueue(queue) === 3L)
    assert(log.read.select("foo").collect().map(_.getLong(0)).toSet === Set(10L, 30L, 50L))
    val idx = db.view("idx").view.asInstanceOf[graft.views.PersistentIndexView]
    Seq("20", "40", "60").foreach(k => assert(idx.get(k).count() === 0L, s"ghost posting $k"))
    assert(Files.list(Paths.get(queue)).count() === 0L, "drained intents must clear")
    assert(db.drainRetractQueue(queue) === 0L, "an empty queue drains to nothing")
    // crash BEFORE any drain: enqueued intents survive and recover at open
    db.enqueueRetractIds(idsDf(10L), "foo", queue)
    db.close()
    val log2 = new ParquetLog(spark, dirLog, schema)
    val db2 = new FlumeDb(log2).use("idx", PersistentIndexView.onColumn(dirIdx, "foo"))
    assert(db2.recoverRetractQueue(queue) === 1L, "the accepted request executes at open")
    assert(log2.read.select("foo").collect().map(_.getLong(0)).toSet === Set(30L, 50L))
    // crash MID-drain: the merged _drain intent exists (log rewritten,
    // views not), queue markers still pending — recovery replays BOTH
    val idx2 = db2.view("idx").view.asInstanceOf[graft.views.PersistentIndexView]
    db2.enqueueRetractIds(idsDf(30L), "foo", queue)
    log2.read.where(col("foo") === 30L).select("seq")
      .write.parquet(queue + "/_drain.seqs")
    Files.writeString(Paths.get(queue + "/_drain"), "@seqs views=idx")
    log2.retractIds(idsDf(30L), "foo")
    assert(idx2.get("30").count() === 1L, "precondition: ghost posting in the crash window")
    assert(db2.recoverRetractQueue(queue) === 0L,
      "replay: the _drain pass re-runs (log already clean), the pending intent re-drains")
    assert(idx2.get("30").count() === 0L, "the ghost posting left on replay")
    assert(log2.read.select("foo").collect().map(_.getLong(0)).toSet === Set(50L))
    assert(Files.list(Paths.get(queue)).count() === 0L)
  }

  test("takedown queue: MIXED domains (two id columns + a predicate) drain as one seq-based pass") {
    import java.nio.file.{Files, Paths}
    def tmp(p: String) = Files.createTempDirectory(p).toString
    val kv = StructType(Seq(
      StructField("doc_id", LongType), StructField("media_id", LongType),
      StructField("src", StringType)))
    def rows(vs: (Long, Long, String)*) = spark.createDataFrame(
      spark.sparkContext.parallelize(vs.map(v => Row(v._1, v._2, v._3))), kv)
    def ids(colName: String, vs: Long*) = spark.createDataFrame(
      spark.sparkContext.parallelize(vs.map(Row(_))),
      StructType(Seq(StructField(colName, LongType))))
    val dirLog = tmp("graft-qm-log"); val dirIdx = tmp("graft-qm-idx")
    val queue = tmp("graft-qm-q") + "/queue"
    val log = new ParquetLog(spark, dirLog, kv)
    val db = new FlumeDb(log).use("idx", PersistentIndexView.onColumn(dirIdx, "src"))
    db.append(rows((1L, 100L, "a"), (2L, 200L, "a"), (3L, 300L, "bad"),
      (4L, 400L, "b"), (5L, 500L, "b"), (6L, 600L, "c")))
    // a doc_id list, a media_id list (overlapping doc 4's row via its
    // media id — the union must dedupe seqs), and a SQL predicate
    assert(db.enqueueRetractIds(ids("doc_id", 1L, 4L), "doc_id", queue) === 1)
    assert(db.enqueueRetractIds(ids("media_id", 400L, 600L), "media_id", queue) === 2)
    assert(db.enqueueRetractWhere("src = 'bad'", queue) === 3)
    assert(log.read.count() === 6L, "acceptance must not touch the log")
    assert(db.drainRetractQueue(queue) === 4L,
      "docs 1,4 + media 400,600 + src=bad → seqs {0,3,5,2}: four rows, counted once")
    assert(log.read.select("doc_id").collect().map(_.getLong(0)).toSet === Set(2L, 5L))
    val idx = db.view("idx").view.asInstanceOf[graft.views.PersistentIndexView]
    assert(idx.get("bad").count() === 0L, "the predicate domain's ghost postings left")
    assert(idx.get("c").count() === 0L && idx.get("a").count() === 1L)
    assert(Files.list(Paths.get(queue)).count() === 0L, "all three intents cleared")
    // a predicate intent survives a crash-before-drain and replays at open
    db.enqueueRetractWhere("doc_id = 2", queue)
    db.close()
    val log2 = new ParquetLog(spark, dirLog, kv)
    val db2 = new FlumeDb(log2).use("idx", PersistentIndexView.onColumn(dirIdx, "src"))
    assert(db2.recoverRetractQueue(queue) === 1L,
      "the accepted predicate executes at open, from its SQL text")
    assert(log2.read.select("doc_id").collect().map(_.getLong(0)).toSet === Set(5L))
    // garbage SQL refuses at ACCEPT time, not at drain
    intercept[Exception](db2.enqueueRetractWhere("not (((", queue))
    assert(Files.list(Paths.get(queue)).count() === 0L, "a refused accept leaves nothing")
  }

  test("recoverRetract refuses while a recorded persistent view is not mounted") {
    import java.nio.file.{Files, Paths}
    def tmp(p: String) = Files.createTempDirectory(p).toString
    val dirLog = tmp("graft-dbrv-log"); val dirIdx = tmp("graft-dbrv-idx")
    val intent = Paths.get(tmp("graft-dbrv-i"), "_intent").toString
    val log1 = new ParquetLog(spark, dirLog, schema)
    log1.append(fooDf(10L, 20L, 30L))
    val db1 = new FlumeDb(log1).use("idx", PersistentIndexView.onColumn(dirIdx, "foo"))
    // crash AFTER the log rewrite, BEFORE the view pass — with the
    // mounted-view names recorded the way the durable form records them
    log1.read.where(col("foo") === 20L).select("seq").write.parquet(intent + ".seqs")
    Files.writeString(Paths.get(intent), "@seqs views=idx")
    log1.retract(col("foo") === 20L)
    db1.close()
    // reopen WITHOUT mounting the recorded view: recovery must refuse
    // (clearing the intent now would leave 'idx' ghost postings forever)
    val log2 = new ParquetLog(spark, dirLog, schema)
    val dbBare = new FlumeDb(log2)
    val e = intercept[IllegalStateException](dbBare.recoverRetract(intent))
    assert(e.getMessage.contains("idx"), s"the refusal names the missing view: ${e.getMessage}")
    assert(Files.exists(Paths.get(intent)), "the refusal leaves the window open")
    // mount it, recover: the ghost posting leaves and the intent clears
    val db2 = dbBare.use("idx", PersistentIndexView.onColumn(dirIdx, "foo"))
    assert(db2.recoverRetract(intent))
    val idx = db2.view("idx").view.asInstanceOf[graft.views.PersistentIndexView]
    assert(idx.get("20").count() === 0L)
    assert(!Files.exists(Paths.get(intent)))
    // the durable forms RECORD the names end to end: crash a fresh pass
    // by hand-checking the marker content they write
    assert(db2.retract(col("foo") === 10L, intent) === 1L)
    assert(!Files.exists(Paths.get(intent)), "happy path still clears")
  }

  test("recoverRetract refuses corrupt markers and missing seq lists descriptively") {
    import java.nio.file.{Files, Paths}
    def tmp(p: String) = Files.createTempDirectory(p).toString
    val intent = Paths.get(tmp("graft-dbrc-i"), "_intent").toString
    val (_, db) = mkDb()
    // corrupt content: neither '@seqs' nor 'EXPIRE <seq>'
    Files.writeString(Paths.get(intent), "garbage 123")
    val e1 = intercept[IllegalStateException](db.recoverRetract(intent))
    assert(e1.getMessage.contains("unrecognized intent content"))
    assert(Files.exists(Paths.get(intent)), "a corrupt window stays open for audit")
    Files.delete(Paths.get(intent))
    // EXPIRE with a non-numeric horizon
    Files.writeString(Paths.get(intent), "EXPIRE soon")
    val e2 = intercept[IllegalStateException](db.recoverRetract(intent))
    assert(e2.getMessage.contains("not a seq"))
    Files.delete(Paths.get(intent))
    // a takedown marker whose durable seq list is gone
    Files.writeString(Paths.get(intent), "@seqs")
    val e3 = intercept[IllegalStateException](db.recoverRetract(intent))
    assert(e3.getMessage.contains("does not exist"))
    assert(Files.exists(Paths.get(intent)))
    Files.delete(Paths.get(intent))
  }

  test("a fence refusal before the durable takedown leaves NO open intent") {
    import java.nio.file.{Files, Paths}
    def tmp(p: String) = Files.createTempDirectory(p).toString
    val dirLog = tmp("graft-dbrf-log")
    val intent = Paths.get(tmp("graft-dbrf-i"), "_intent").toString
    val log = new ParquetLog(spark, dirLog, schema)
    log.append(fooDf(10L, 20L))
    val db = new FlumeDb(log)
    // simulate a planned-but-uncommitted micro-batch on the live tail
    // (the one tail state a rewrite must wait out): every rewrite (and
    // the probe) must refuse
    log.inflightTailBatches.add("tail-z")
    try {
      intercept[IllegalStateException](log.probeRewriteFence("probe"))
      intercept[IllegalStateException](db.retract(col("foo") === 10L, intent))
      assert(!Files.exists(Paths.get(intent)),
        "nothing was mutated — the refusal must not latch an open intent")
      assert(!Files.exists(Paths.get(intent + ".seqs")))
      intercept[IllegalStateException](db.expire(0L, intent))
      assert(!Files.exists(Paths.get(intent)))
      assert(!db.recoverRetract(intent), "no window was ever opened")
    } finally log.inflightTailBatches.remove("tail-z")
  }

  test("a zero-match durable takedown skips the view pass but clears the intent") {
    import java.nio.file.{Files, Paths}
    def tmp(p: String) = Files.createTempDirectory(p).toString
    val intent = Paths.get(tmp("graft-dbrz-i"), "_intent").toString
    val (_, db) = mkDb()
    val v = new CountingView
    db.use("count", countingDef(v))
    db.append(fooDf(10L, 20L, 30L))
    assert(v.destroys.get() === 0)
    assert(db.retract(col("foo") === 999L, intent) === 0L)
    assert(v.destroys.get() === 0,
      "a takedown that matched nothing must not destroy/rebuild folding views")
    assert(!Files.exists(Paths.get(intent)), "the intent still clears")
    assert(db.expire(-1L, intent) === 0L)
    assert(v.destroys.get() === 0)
    assert(!Files.exists(Paths.get(intent)))
  }

  test("one view's failing absorb does not stop its siblings; onSince fires in mount order") {
    val (_, db) = mkDb()
    val failNext = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failAlways = new java.util.concurrent.atomic.AtomicBoolean(false)
    val flaky = new CountingView {
      override def absorb(entries: DataFrame, upto: Long): Unit = {
        if (failAlways.get || failNext.getAndSet(false)) sys.error("absorb boom")
        super.absorb(entries, upto)
      }
    }
    val (a, c) = (new CountingView, new CountingView)
    db.use("a", countingDef(a)).use("flaky", countingDef(flaky)).use("c", countingDef(c))
    val fired = java.util.Collections.synchronizedList(new java.util.ArrayList[(String, Long)]())
    def firedNow: Seq[(String, Long)] = fired.toArray(Array.empty[(String, Long)]).toSeq
    Seq("a", "flaky", "c").foreach(n => db.view(n).onSince(s => fired.add(n -> s)))
    fired.clear()

    // the first absorb fails, its own destroy + replay recovers
    failNext.set(true)
    db.append(fooDf(1L, 2L))
    assert(firedNow === Seq("a" -> 1L, "flaky" -> 1L, "c" -> 1L), "emitted once each, in mount order")
    assert(db.view("flaky").lastError.exists(_.getMessage == "absorb boom"))
    assert(flaky.destroys.get() === 1 && flaky.delivered.get() === 2)
    assert(a.destroys.get() === 0 && c.destroys.get() === 0, "siblings are not rebuilt")

    // the replay fails too: the append surfaces the error, siblings still reach parity
    fired.clear(); failAlways.set(true)
    val ex = intercept[RuntimeException](db.append(fooDf(3L)))
    assert(ex.getMessage === "absorb boom")
    assert(firedNow === Seq("a" -> 2L, "c" -> 2L))
    assert(a.since === 2L && c.since === 2L && a.delivered.get() === 3)
    db.awaitView("a", timeoutMs = 1000)
    db.awaitView("c", timeoutMs = 1000)
    intercept[java.util.concurrent.TimeoutException](db.awaitView("flaky", timeoutMs = 300))

    // the next sync replays the whole log into the reset view only
    fired.clear(); failAlways.set(false)
    db.append(fooDf(4L))
    assert(firedNow === Seq("a" -> 3L, "flaky" -> 3L, "c" -> 3L))
    assert(flaky.since === 3L)
    assert(a.delivered.get() === 4 && c.delivered.get() === 4, "siblings absorb only seq > their cursor")
  }

  test("db.retract on a bucketed ParquetLog with an in-memory search view drops the removed seqs") {
    val schema2 = StructType(Seq(StructField("user_id", LongType), StructField("text", StringType)))
    val dir = java.nio.file.Files.createTempDirectory("graft-inmem-retract").toString
    val log = new ParquetLog(spark, dir, schema2, bucketSize = 64L, statsColumns = Seq("user_id"))
    val db = new FlumeDb(log)
    db.use("search", SearchView("text")).use("idx", IndexView(array(col("user_id").cast("string"))))
    val rows = (0 until 300).map(i => Row((i % 17).toLong, s"w${i % 7} v${i % 11} common"))
    db.append(spark.createDataFrame(spark.sparkContext.parallelize(rows), schema2))
    db.append(spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row(5L, "w3 late"))), schema2))
    val removed = (rows.indices.filter(_ % 17 == 5) :+ 300).map(_.toLong).toSet
    assert(db.retract(col("user_id") === 5L) === removed.size.toLong)
    val sv = db.view("search").view.asInstanceOf[SearchView]
    val want = rows.indices.filter(i => i % 7 == 3 && i % 17 != 5).map(_.toLong)
    assert(sv.searchAll(Seq("common", "w3")).collect().map(_.getLong(0)).toSeq === want)
    assert(sv.search("late").count() === 0L, "postings of the removed seqs must leave the index")
    val idx = db.view("idx").view.asInstanceOf[IndexView]
    assert(idx.get("5").count() === 0L)
    // the view answers again after further log rewrites
    db.append(spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row(6L, "w3 common"))), schema2))
    assert(db.retract(col("user_id") === 6L) > 0L)
    assert(sv.searchAll(Seq("common", "w3")).collect().map(_.getLong(0)).toSeq ===
      want.filterNot(i => i % 17 == 6))
    db.close()
  }

  test("absorb threads carry the caller's local properties; cancelJobGroup cancels their jobs") {
    val sc = spark.sparkContext
    case class Started(id: Int, time: Long, group: String, pool: String, desc: String)
    val started = new java.util.concurrent.ConcurrentLinkedQueue[Started]()
    val failedJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        def p(k: String) = Option(e.properties).flatMap(ps => Option(ps.getProperty(k))).orNull
        started.add(Started(e.jobId, e.time, p("spark.jobGroup.id"), p("spark.scheduler.pool"),
          p("spark.job.description")))
      }
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        if (e.jobResult != org.apache.spark.scheduler.JobSucceeded) failedJobs.add(e.jobId)
    }
    def jobs: Seq[Started] = started.toArray(Array.empty[Started]).toSeq
    def waitFor(what: String)(cond: => Boolean): Unit = {
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!cond && System.nanoTime() < deadline) Thread.sleep(20)
      assert(cond, what)
    }
    /** A job on this thread, seen by the listener: every earlier job start has been delivered too. */
    def drainListener(): Unit = {
      sc.setJobDescription("listener-marker")
      val before = jobs.size
      sc.parallelize(Seq(1), 1).count()
      sc.setJobDescription(null)
      waitFor("listener marker")(jobs.drop(before).exists(_.desc == "listener-marker"))
    }
    sc.addSparkListener(listener)
    try {
      val (_, db) = mkDb()
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, Boolean)]()
      val block = new java.util.concurrent.atomic.AtomicBoolean(false)
      val blocker = new CountingView {
        override def absorb(entries: DataFrame, upto: Long): Unit = {
          seen.add((sc.getLocalProperty("spark.jobGroup.id"), sc.getLocalProperty("spark.scheduler.pool"),
            sc.getJobTags().contains("flume-tag")))
          if (block.getAndSet(false)) {
            sc.setJobDescription("blocker")
            entries.rdd.foreach(_ => Thread.sleep(60000))
          }
          super.absorb(entries, upto)
        }
      }
      db.use("stats", StatsReduceView("foo")).use("blocker", countingDef(blocker))
        .use("idx", IndexView(array(col("foo").cast("string"))))
      seen.clear()
      @volatile var appendError: Option[Throwable] = None
      def appendUnder(group: String): Thread = {
        val t = new Thread(() => {
          sc.setJobGroup(group, "append under a job group", interruptOnCancel = true)
          sc.setLocalProperty("spark.scheduler.pool", "flume-pool")
          sc.addJobTag("flume-tag")
          try db.append(fooDf(1L, 2L, 3L)) catch { case e: Throwable => appendError = Some(e) }
        })
        t.start(); t
      }

      // every job an append starts, on any absorb thread, carries the caller's group and pool
      val t0 = System.currentTimeMillis()
      appendUnder("flume-append").join(60000)
      val t1 = System.currentTimeMillis()
      assert(appendError.isEmpty, s"append failed: $appendError")
      drainListener()
      val during = jobs.filter(j => j.time >= t0 && j.time <= t1)
      assert(during.size >= 3, s"expected the absorbs' jobs, got $during")
      assert(during.forall(j => j.group == "flume-append" && j.pool == "flume-pool"), during.mkString("\n"))
      assert(seen.toArray.toSeq === Seq(("flume-append", "flume-pool", true)))

      // cancelling the group cancels a running absorb job; that view replays on its own
      block.set(true)
      val t2 = System.currentTimeMillis()
      val cancelled = appendUnder("flume-cancel")
      def blockerJob = jobs.find(j => j.desc == "blocker" && j.time >= t2)
      waitFor("the blocking absorb job starts")(blockerJob.nonEmpty)
      assert(blockerJob.get.group === "flume-cancel")
      sc.cancelJobGroup("flume-cancel")
      cancelled.join(45000)
      assert(!cancelled.isAlive, "the cancelled job must not run out its sleep")
      assert(appendError.isEmpty, s"the replay must recover: $appendError")
      waitFor("the blocking job ends failed")(failedJobs.contains(blockerJob.get.id))
      assert(db.view("blocker").lastError.isDefined)
      assert(blocker.since === 5L && db.view("stats").since === 5L && db.view("idx").since === 5L)
      db.close()
    } finally sc.removeSparkListener(listener)
  }

  test("only views at a shared cursor share a materialized read, released after the sync") {
    val sc = spark.sparkContext
    def persisted: Set[Int] = sc.getPersistentRDDs.keySet.toSet
    @volatile var base = persisted
    /** Records, per absorb, the RDDs persisted since `base` was last set: the sync's shared delta. */
    class Recording extends CountingView {
      val newPersisted = new java.util.concurrent.ConcurrentLinkedQueue[Set[Int]]()
      override def absorb(entries: DataFrame, upto: Long): Unit = {
        newPersisted.add(persisted -- base); super.absorb(entries, upto)
      }
      def last: Set[Int] = newPersisted.toArray(Array.empty[Set[Int]]).last
    }
    def released(ids: Set[Int]): Boolean =
      (persisted & ids).isEmpty && !sc.getRDDStorageInfo.exists(i => ids.contains(i.id))

    val (_, db) = mkDb()
    val (a, b, c) = (new Recording, new Recording, new Recording)
    db.use("a", countingDef(a)).use("b", countingDef(b))

    // the first append replays the log from its start: each view streams it, nothing is copied
    base = persisted
    db.append(fooDf(1L, 2L))
    assert(a.last.isEmpty && b.last.isEmpty && a.delivered.get() === 2 && b.delivered.get() === 2)

    // an append: both views share one materialized read, released once both have absorbed it
    base = persisted
    db.append(fooDf(3L))
    assert(a.last.nonEmpty && a.last === b.last, "a and b absorb one shared, materialized read")
    assert(released(a.last), "the shared delta's blocks are released after the sync")
    assert(a.delivered.get() === 3 && b.delivered.get() === 3)

    // a mount over a non-empty log: one reader, nothing materialized for it
    base = persisted
    db.use("c", countingDef(c))
    assert(c.last.isEmpty && c.delivered.get() === 3)

    // c falls behind: a and b share the new rows, c streams its own range
    c.destroy()
    base = persisted
    db.append(fooDf(4L))
    assert(a.last.nonEmpty && a.last === b.last)
    assert(released(a.last))
    assert(a.delivered.get() === 4 && b.delivered.get() === 4, "a and b read only the new row")
    assert(c.delivered.get() === 3 + 4 && c.since === 3L, "c replays the whole log from its own cursor")
    assert(db.view("c").lastError.isEmpty)
    db.close()
  }
}
