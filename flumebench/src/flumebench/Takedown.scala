package flumebench

import graft.core.FlumeDb
import org.apache.spark.sql.functions.col

import java.nio.file.Path
import scala.jdk.CollectionConverters._

/** Lifecycle use: every cycle takes a fresh copy of one seeded log with
  * four durable views, reopens it, rebuilds every view, retracts one key,
  * retracts ~1% of keys spread across buckets, expires a prefix and
  * rebuilds again.
  * Each op is followed by gated reads checked against the generator's
  * rows, so every timed op must have done its real work. */
final class Takedown(run: Run) extends Workload {
  private val rows = if (run.warmup) 2000 else 40000
  private var tpl: Path = _
  private var events: Vector[Event] = _
  private var gen: EventGen = _
  private var bytesPerRow = Double.NaN
  private var files = 0L
  private val found = scala.collection.mutable.ArrayBuffer.empty[(String, String)]

  def rateKinds: Set[String] = Set("rebuild")
  def storedBytesPerRow: Double = bytesPerRow
  def logFiles: Long = files
  override def defects: Seq[(String, String)] = found.toSeq

  def setup(): Unit = run.setup { i =>
    if (tpl != null) Disk.delete(tpl)
    tpl = run.dir(s"takedown-tpl-$i")
    gen = new EventGen(run.seed)
    events = gen.batch(rows)
    val db = EventDb.open(run, tpl, search = false)
    db.append(EventDb.frame(run, events))
    db.close()
  }

  /** The rows still live in this cycle's copy, by seq. */
  private final class Live {
    val alive: Array[Boolean] = Array.fill(rows)(true)
    def seqs: Iterator[Int] = alive.indices.iterator.filter(alive(_))
    def count: Long = alive.count(identity).toLong
    def remove(p: Int => Boolean): Long = {
      var n = 0L
      alive.indices.foreach(s => if (alive(s) && p(s)) { alive(s) = false; n += 1 })
      n
    }
    def latest(user: Long): Option[(Long, Event)] =
      seqs.filter(events(_).userId == user).toSeq.lastOption.map(s => (s.toLong, events(s)))
    def ofType(t: String): Seq[Long] = seqs.filter(events(_).eventType == t).map(_.toLong).toSeq
    def sum: Double = seqs.map(events(_).value).sum
  }

  /** The same questions asked at each check point: two keys' latest
    * rows, one index key, one log row and the sum. */
  private def probes(db: FlumeDb, live: Live, users: Seq[Long], kind: String, seq: Int): Unit = {
    users.foreach(u => EventDb.htGet(run, db, u, live.latest(u)))
    EventDb.idxLookup(run, db, kind, live.ofType(kind))
    EventDb.logGet(run, db, seq.toLong, Some(events(seq)).filter(_ => live.alive(seq)))
    EventDb.sumRead(run, db, live.sum, live.count)
  }

  def cycle(c: Int): Unit = {
    val r = new Rng(run.seed).fork(100 + c)
    val root = run.work.resolve(s"takedown-c$c")
    Disk.copy(tpl, root)
    val live = new Live
    val users = events.map(_.userId).distinct
    val kind = Event.types(r.nextInt(Event.types.size))

    val db = run.op[FlumeDb]("reopen", "read")(EventDb.open(run, root, search = false))
    run.check(Checks.equal("reopen: since", db.since, rows - 1L))
    val probeUsers = Seq.fill(2)(events(r.nextInt(rows)).userId)
    val probeSeq = rows / 2 + r.nextInt(rows / 2)
    probes(db, live, probeUsers, kind, probeSeq)
    // rebuilt views must give the answers the reopened ones gave
    run.op("rebuild", "write", (_: Unit) => live.count)(db.rebuild())
    probes(db, live, probeUsers, kind, probeSeq)

    // one key with several rows, from the Zipf head
    val key = Iterator.from(5 + r.nextInt(50)).map(gen.user).find(u => events.exists(_.userId == u)).get
    val keyRows = live.remove(events(_).userId == key)
    val removedKey = run.op("retract_key", "write", (n: Long) => n)(db.retract(col("user_id") === key))
    run.check(Checks.removed(s"retract_key($key)", removedKey, keyRows))
    EventDb.htGet(run, db, key, None)
    EventDb.sumRead(run, db, live.sum, live.count)

    // ~1% of the keys, spread over the whole key space and so every bucket
    val scatter = Iterator.continually(users(r.nextInt(users.size))).filter(_ != key).distinct
      .take(math.max(1, users.size / 100)).toSet
    val scatterRows = live.remove(s => scatter(events(s).userId))
    val ids = run.spark.createDataFrame(scatter.toSeq.map(u => org.apache.spark.sql.Row(u)).asJava,
      org.apache.spark.sql.types.StructType(Seq(Event.schema("user_id"))))
    val removedScatter = run.op("retract_scatter", "write", (n: Long) => n)(db.retractIds(ids, "user_id"))
    run.check(Checks.removed("retract_scatter", removedScatter, scatterRows))
    EventDb.htGet(run, db, scatter.head, None)
    EventDb.bloomCheck(run, db, events(live.seqs.drop(r.nextInt(1000)).next()).userId)
    EventDb.idxLookup(run, db, kind, live.ofType(kind))

    // a prefix of the log ages out
    val horizon = rows / 10 + r.nextInt(rows / 20)
    val expiredRows = live.remove(_ <= horizon)
    val expired = run.op("expire", "write", (n: Long) => n)(db.expire(horizon.toLong))
    run.check(Checks.removed(s"expire($horizon)", expired, expiredRows))
    EventDb.logGet(run, db, horizon.toLong, None)
    EventDb.idxLookup(run, db, kind, live.ofType(kind))
    EventDb.sumRead(run, db, live.sum, live.count)
    // a second rebuild, after the takedowns, replays only the survivors
    // (a warm-up has compiled the rebuild's code paths by then)
    if (!run.warmup) {
      run.op("rebuild", "write", (_: Unit) => live.count)(db.rebuild())
      probes(db, live, probeUsers, kind, probeSeq)
    }
    val survivors = run.op("log_count", "read", (_: (Long, Long)) => 1L) {
      val row = db.log.read.agg(org.apache.spark.sql.functions.count("*"),
        org.apache.spark.sql.functions.min("seq")).head()
      (row.getLong(0), row.getLong(1))
    }
    run.check(Checks.equal("log_count: (rows, min seq)", survivors, (live.count, live.seqs.next().toLong)))

    bytesPerRow = Disk.bytesUnder(root).toDouble / live.count
    files = Disk.countFiles(root.resolve("log"), ".parquet")
    db.close()
    Disk.delete(root)
  }

  def finish(): Unit = {
    if (!run.warmup) found ++= EventDb.probeInMemRetract(run).map("retract_inmem" -> _)
    Disk.delete(tpl)
  }
}
