package flumebench

import graft.core.{FlumeDb, ParquetLog}
import graft.views._
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.{DataFrame, Row}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** What the generator has appended so far, kept in plain Scala: the
  * ground truth every serve read is checked against. */
final class EventTruth {
  val events = mutable.ArrayBuffer.empty[Event] // index = seq
  val latest = mutable.HashMap.empty[Long, Int]
  val byType = mutable.HashMap.empty[String, mutable.ArrayBuffer[Long]]
  val postings = mutable.HashMap.empty[String, mutable.ArrayBuffer[Long]]
  var sum = 0.0
  def count: Long = events.size.toLong

  def add(e: Event): Unit = {
    val seq = events.size
    events += e
    latest(e.userId) = seq
    byType.getOrElseUpdate(e.eventType, mutable.ArrayBuffer.empty) += seq.toLong
    EventTruth.terms(e.text).foreach(t => postings.getOrElseUpdate(t, mutable.ArrayBuffer.empty) += seq.toLong)
    sum += e.value
  }
  def searchAll(a: String, b: String): Seq[Long] = {
    val pb = postings.getOrElse(b, mutable.ArrayBuffer.empty[Long]).toSet
    postings.getOrElse(a, mutable.ArrayBuffer.empty[Long]).filter(pb).toSeq
  }
}

object EventTruth {
  /** The search view's tokenization: lowercase, split on non-alphanumerics,
    * distinct per row. */
  def terms(text: String): Seq[String] =
    text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).distinct.toSeq
}

/** The event store the serve and takedown workloads share: a bucketed
  * ParquetLog with the four durable views, plus (for serve) the in-memory
  * search view. */
object EventDb {
  val bucketSize = 4096L

  def open(run: Run, root: java.nio.file.Path, search: Boolean): FlumeDb = {
    val log = new ParquetLog(run.spark, root.resolve("log").toString, Event.schema,
      bucketSize = bucketSize, statsColumns = Seq("user_id"))
    val db = new FlumeDb(log)
    val vdir = root.resolve("views").toString
    db.use("idx", PersistentIndexView.onColumn(vdir, "event_type"))
    db.use("ht", PersistentHashtableView(vdir, "user_id"))
    db.use("sum", PersistentSumReduceView(s"$vdir/sum", 1, "value"))
    db.use("bloom", PersistentBloomView(vdir, "user_id", expectedItems = 200000L))
    if (search) db.use("search", SearchView("text"))
    db
  }

  def frame(run: Run, events: Seq[Event]): DataFrame =
    run.spark.createDataFrame(events.map(_.row).asJava, Event.schema)

  /** A known defect, recorded rather than crashed on: `db.retract` on a
    * ParquetLog with an in-memory search view mounted fails, because the
    * view's lazy state still reads the files the log rewrite replaced.
    * Tried on a fresh 300-row db; gives the error class, or None once
    * the defect is fixed. */
  def probeInMemRetract(run: Run): Option[String] = {
    val root = run.dir("inmem-retract")
    val log = new ParquetLog(run.spark, root.resolve("log").toString, Event.schema,
      bucketSize = bucketSize, statsColumns = Seq("user_id"))
    val db = new FlumeDb(log)
    db.use("search", SearchView("text"))
    val few = new EventGen(run.seed + 1).batch(300)
    db.append(frame(run, few))
    val error =
      try { db.retract(col("user_id") === few.head.userId); None }
      catch { case e: Exception => Some(errorClass(e)) }
    db.close()
    Disk.delete(root)
    error
  }

  /** The exception class and, when Spark gave one, its error condition. */
  def errorClass(e: Throwable): String = {
    val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq
    val cond = chain.collectFirst { case s: org.apache.spark.SparkThrowable if s.getCondition != null => s.getCondition }
    e.getClass.getSimpleName + cond.map("/" + _).getOrElse("")
  }

  // ---- reads, each checked against what the view must answer ----------

  def htGet(run: Run, db: FlumeDb, user: Long, want: Option[(Long, Event)]): Unit = {
    val rows = run.op("ht_get", "read", (r: Array[Row]) => r.length.toLong) {
      db.gated("ht")(_.asInstanceOf[PersistentHashtableView].get(user).collect())
    }
    run.check(Checks.htGet(user, rows.toSeq.map(r => (r.getAs[Long]("seq"), r.getAs[String]("event_type"),
      r.getAs[Double]("value"), r.getAs[String]("text"))), want))
  }

  def idxLookup(run: Run, db: FlumeDb, key: String, want: Seq[Long]): Unit = {
    val seqs = run.op("idx_lookup", "read", (s: Array[Long]) => s.length.toLong) {
      db.gated("idx")(_.asInstanceOf[PersistentIndexView].get(key).select("seq").collect().map(_.getLong(0)))
    }
    run.check(Checks.seqs(s"idx_lookup($key)", seqs.toSeq, want))
  }

  def sumRead(run: Run, db: FlumeDb, sum: Double, count: Long): Unit = {
    val v = run.op("sum_read", "read", (_: Option[(Double, Long)]) => 1L) {
      db.gated("sum")(_.asInstanceOf[PersistentReduceView[(Double, Long)]].value)
    }
    run.check(Checks.sum(v, sum, count))
  }

  def bloomCheck(run: Run, db: FlumeDb, user: Long): Unit = {
    val hit = run.op("bloom_check", "read", (_: Boolean) => 1L) {
      db.gated("bloom")(_.asInstanceOf[PersistentBloomView].mightContain(user))
    }
    run.check(Checks.bloom(user, hit))
  }

  def logGet(run: Run, db: FlumeDb, seq: Long, want: Option[Event]): Unit = {
    val rows = run.op("log_get", "read", (r: Array[Row]) => r.length.toLong)(db.get(seq).collect())
    run.check(Checks.logGet(seq, rows.toSeq.map(r => (r.getAs[Long]("user_id"), r.getAs[String]("text"),
      r.getAs[Double]("value"))), want))
  }
}

/** Online use: a closed loop of ~500-event appends, each followed by six
  * gated reads, against five mounted views. */
final class Serve(run: Run) extends Workload {
  private val batch = if (run.warmup) 50 else 500
  private val history = if (run.warmup) 500 else 5000
  private var db: FlumeDb = _
  private var gen: EventGen = _
  private var truth: EventTruth = _
  private var root: java.nio.file.Path = _
  private val r = new Rng(run.seed).fork(1)
  // onSince stamps of the log and of each view, recorded during appends
  private val stamps = mutable.ArrayBuffer.empty[(String, Double)]
  @volatile private var stamping = false

  def setup(): Unit = run.setup { i =>
    if (db != null) { db.close(); Disk.delete(root) }
    root = run.dir(s"serve-$i")
    gen = new EventGen(run.seed)
    truth = new EventTruth
    db = EventDb.open(run, root, search = true)
    val h = gen.batch(history)
    db.append(EventDb.frame(run, h))
    h.foreach(truth.add)
    db.log.onSince(_ => if (stamping) stamps += (("log", Clock.now())))
    db.viewNames.foreach(v => db.view(v).onSince(_ => if (stamping) stamps += ((v, Clock.now()))))
  }

  private def append(events: Vector[Event]): Unit = {
    val df = EventDb.frame(run, events)
    stamps.clear(); stamping = run.tracing
    val t0 = Clock.now()
    val s = run.op("append", "write", (_: Long) => events.size.toLong)(db.append(df))
    stamping = false
    events.foreach(truth.add)
    run.check(Checks.equal("append: since", s, truth.count - 1))
    if (run.tracing) {
      var prev = t0
      stamps.foreach { case (name, t) =>
        run.span(if (name == "log") "core.log.append" else s"views.$name.sync", prev, t)
        prev = t
      }
    }
  }

  def cycle(c: Int): Unit = {
    val events = gen.batch(batch)
    append(events)
    // read-your-writes: the first read after an append sees its last key
    val u = events.last.userId
    EventDb.htGet(run, db, u, Some((truth.latest(u).toLong, truth.events(truth.latest(u)))))
    val reads: Seq[() => Unit] = Seq(
      () => {
        val t = Event.types(r.nextInt(Event.types.size))
        EventDb.idxLookup(run, db, t, truth.byType.getOrElse(t, mutable.ArrayBuffer.empty[Long]).toSeq)
      },
      () => searchAnd(),
      () => {
        val s = r.nextInt(truth.events.size)
        EventDb.logGet(run, db, s.toLong, Some(truth.events(s)))
      },
      () => EventDb.bloomCheck(run, db, truth.events(r.nextInt(truth.events.size)).userId),
      () => EventDb.sumRead(run, db, truth.sum, truth.count))
    // with the read-your-writes ht_get, every cycle runs each read type
    // once; the other five in a seeded order
    val order = reads.indices.toArray
    var i = order.length - 1
    while (i > 0) { val j = r.nextInt(i + 1); val t = order(i); order(i) = order(j); order(j) = t; i -= 1 }
    order.foreach(k => reads(k)())
  }

  private def searchAnd(): Unit = {
    val e = truth.events(r.nextInt(truth.events.size))
    val ts = EventTruth.terms(e.text)
    val a = ts(r.nextInt(ts.size))
    val b = ts.filter(_ != a).lift(r.nextInt(math.max(1, ts.size - 1))).getOrElse(a)
    val want = truth.searchAll(a, b)
    val got = run.op("search_and", "read", (s: Array[Long]) => s.length.toLong) {
      db.gated("search")(_.asInstanceOf[SearchView].searchAll(Seq(a, b)).collect().map(_.getLong(0)))
    }
    run.check(Checks.seqs(s"search_and($a, $b)", got.toSeq, want))
  }

  def rateKinds: Set[String] = Set("append")
  override def minCycles: Int = 5
  private var bytesPerRow = Double.NaN
  private var files = 0L
  def storedBytesPerRow: Double = bytesPerRow
  def logFiles: Long = files

  private val found = mutable.ArrayBuffer.empty[(String, String)]
  override def defects: Seq[(String, String)] = found.toSeq

  def finish(): Unit = {
    bytesPerRow = Disk.bytesUnder(root).toDouble / truth.count
    files = Disk.countFiles(root.resolve("log"), ".parquet")
    db.close()
    Disk.delete(root)
    if (!run.warmup) found ++= EventDb.probeInMemRetract(run).map("retract_inmem" -> _)
  }
}
