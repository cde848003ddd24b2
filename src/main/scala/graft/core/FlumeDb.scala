package graft.core

import org.apache.spark.sql.DataFrame

import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.{ConcurrentHashMap, TimeUnit}
import java.util.concurrent.locks.ReentrantLock
import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import scala.util.Try
import scala.util.control.NonFatal

/** A materialized view over the log: derived, disposable, rebuildable.
  *
  * Spark-native restatement of the flumeview contract
  * (`/root/reference/README.md:215-257`): a view consumes `(seq, value)`
  * entries strictly in seq order, maintains its own state, exposes its own
  * read methods, and can be destroyed and rebuilt from the log at any
  * time.
  */
trait FlumeView {
  /** Last log seq this view has absorbed; -1 before anything. */
  def since: Long

  /** Absorb one ordered batch of log entries with seq in (since, upto].
    * The frame is already passed through the db's mapper. Implementations
    * must update `since` to `upto` only after state is durable. The db
    * calls `absorb` of different views at the same time, each on its own
    * driver thread, all under the db lock: an absorb must not call back
    * into the db. The frame may be a shared materialized delta that the
    * db releases once every view has absorbed it, so a view that keeps
    * rows must materialize them (as [[graft.views.FrameView]] does)
    * rather than hold the frame. */
  def absorb(entries: DataFrame, upto: Long): Unit

  /** Drop all derived state; view returns to since = -1
    * (`/root/reference/README.md:233-236`). */
  def destroy(): Unit

  /** The view's state as a DataFrame, when it is relational (index,
    * hashtable, search...) — lets [[FlumeDb.registerTempViews]] expose it
    * to SQL. Scalar/sketch views return None. */
  def frameOption: Option[DataFrame] = None

  def close(): Unit = ()
}

/** Factory + version for a view. A changed `version` forces a destroy +
  * rebuild on mount, mirroring `flumeview`'s version-number rebuild
  * (`/root/reference/README.md:26-29`). */
trait ViewDef {
  def version: Int
  def create(db: FlumeDb, name: String): FlumeView
}

object ViewDef {
  def apply(version: Int)(create: (FlumeDb, String) => FlumeView): ViewDef = {
    val (v, c) = (version, create) // the members below shadow the parameters
    new ViewDef {
      def version: Int = v
      def create(db: FlumeDb, name: String): FlumeView = c(db, name)
    }
  }
}

/** Opt-in for mounted views whose derived rows are KEYED BY LOG SEQ and
  * append-only — one derived row (or several) per log row, no fold
  * across rows: posting tables like the index and search views. The
  * db-level takedown ([[FlumeDb.retract]]) and retention
  * ([[FlumeDb.expire]]) bring such views to the post-deletion state IN
  * PLACE by the removed seq set — provably identical to a rebuild, at
  * ∝-matches cost instead of ∝-log. Views that FOLD rows (reduce,
  * latest-per-key hashtables, sketches) must NOT implement this:
  * un-absorbing a folded row is impossible, and for a compacted
  * latest-per-key store an in-place delete would diverge from the log
  * (a superseded version the log still holds would not resurface); the
  * db destroys and rebuilds those instead. */
trait SeqRetractableView { self: FlumeView =>
  /** Remove every derived row whose log seq appears in `seqs` — a
    * one-column DataFrame named `seqCol` (never collected: implementors
    * delete via an anti/marked join, the takedown-list discipline). */
  def retractLogSeqs(seqs: DataFrame, seqCol: String): Unit
  /** Remove every derived row with log seq ≤ `throughSeq` (retention —
    * a pure predicate, no id list needed). */
  def expireLogSeqs(throughSeq: Long): Unit
}

/** Opt-in for mounted KEYED folding views (latest-per-key stores like
  * the hashtable): derived state folds per key, so a takedown can be
  * taken IN PLACE at ∝-affected-keys cost instead of the ∝-corpus
  * destroy + rebuild — (1) physically purge every stored row built
  * from a removed log seq (old superseded versions too: takedown bytes
  * must leave storage), (2) recompute ONLY the keys whose current
  * state was built from a removed row, from a key-pruned scan of the
  * post-takedown log (a broadcast semi-join on the affected keys: the
  * scan is narrow and the aggregation materializes only the affected
  * groups). Retention needs no recompute at all: a key's surviving
  * latest is by definition newer than the horizon, so expire is a pure
  * predicate delete. Views whose fold is IRREVERSIBLE across rows
  * (Welford moments, sketches) must not implement this — there is no
  * per-key recompute cheaper than the rebuild the db already does. */
trait KeyRetractableView { self: FlumeView =>
  /** Purge rows built from `seqs` (one column, `seqColName`) and
    * recompute the affected keys from `postLog` — the POST-takedown
    * mapped log frame (what [[FlumeView.absorb]] would have seen).
    * Must be idempotent under whole-call replay: the db's durable
    * intent protocol re-runs it after a crash in any window. */
  def retractLogSeqsRecompute(seqs: DataFrame, seqColName: String, postLog: DataFrame): Unit
  /** Remove every stored row with log seq ≤ `throughSeq` (retention —
    * a pure predicate delete, see class doc). */
  def expireLogSeqs(throughSeq: Long): Unit
}

/** Marker for mounted FEATURE tables (minhash signatures, perceptual
  * hashes, grams, embedding sketches): derived dedup artifacts whose
  * rows carry no log seq. A db-level [[FlumeDb.expire]] leaves them
  * UNTOUCHED by default — the keep-signatures semantic: content aged
  * out by retention should still dedup when re-crawled, so its
  * signatures outlive its bytes (erasure semantics, where the
  * signatures must go too, is the takedown path). Pass
  * `expireFeatures = true` to reclaim them instead: the table
  * truncates its delta chain at absorbed-batch granularity
  * ([[graft.views.CompactableDeltas.expireDeltasThrough]] — pure
  * directory deletes, no data read). */
trait FeatureExpirableView { self: FlumeView =>
  /** Truncate feature deltas absorbed at-or-before the horizon.
    * Returns storage units deleted. */
  def expireFeatureDeltas(throughSeq: Long): Int
}

/** Opt-in for mounted REDUCE views whose merge has an exact inverse
  * (sum, count): a db-level takedown subtracts the removed rows'
  * partial from the fold — O(matches), no rebuild, no storage rewrite.
  * Welford-style moment folds deliberately do NOT opt in even though
  * an algebraic inverse exists: un-merging m2 is catastrophic
  * cancellation when the removed mass approaches the total (exactly
  * the large-takedown case), so the db rebuilds those — stability over
  * speed for a statistics artifact. Sketches (bloom, HLL, CountMin)
  * cannot opt in at all: insertion destroys information. */
trait InvertibleReduceView { self: FlumeView =>
  /** False when the instance was built without an inverse — the db
    * then falls back to destroy + rebuild. */
  def canUnabsorb: Boolean
  /** Two-phase un-absorb: eagerly compute the REMOVED rows' partial NOW
    * (the rows are about to leave storage — one narrow aggregate scan,
    * never a materialization of the rows themselves), and return a
    * thunk that APPLIES the subtraction. The db runs the thunk only
    * after the log rewrite succeeds, so a fence refusal or rewrite
    * failure leaves the fold untouched. The view cursor never moves:
    * a takedown is not an absorb. */
  def prepareUnabsorb(removedRows: DataFrame): () => Unit
  /** One-shot convenience: compute and apply immediately. */
  def unabsorb(removedRows: DataFrame): Unit = prepareUnabsorb(removedRows)()
}

final class ClosedException(msg: String) extends IllegalStateException(msg)

/** The engine core: one ordered log + a star of incrementally-maintained
  * views, with flume's consistency contract — async view maintenance,
  * read-your-writes gating, destroy-and-rebuild lifecycle.
  *
  * The pipeline from the log to the views is the append itself, fanned
  * out, as flume's views read the log's live stream: an append on a
  * [[ParquetLog]] hands its just-written batch, still cached, to the
  * sync, and every view at the pre-append cursor absorbs that batch at
  * the same time on its own driver thread, with nothing read back from
  * storage (see `syncViews`). A view behind the others, or a replay of
  * the whole log, streams its own range; on a log that keeps no batch,
  * or after a takedown that ran between the write and the sync, the
  * views at the head cursor share one read of the new range. A
  * view's failure stays that view's: it destroys and replays on its own
  * while the others reach parity.
  *
  * Restates `/root/reference/index.js` + `wrap.js` on Spark: the data
  * plane (scans, folds, index builds) is distributed DataFrame work; only
  * the tiny control plane (cursors, gating, lifecycle) lives on the
  * driver, which is exactly the part that must be centralized anyway
  * (single-writer log, monotonic `since`).
  *
  * @param mapper optional transform applied to every entry before views,
  *               `get` and `stream` see it — the analog of the async
  *               mapper at `/root/reference/index.js:96-122` (decryption /
  *               decoding / enrichment), applied at the single choke-point
  *               where the log frame is produced.
  */
final class FlumeDb(
    val log: FlumeLog,
    isReady: Boolean = true,
    mapper: Option[DataFrame => DataFrame] = None) {

  private val lock = new ReentrantLock()
  private val parity = lock.newCondition()
  @volatile private var closed = false
  @volatile private var ready = isReady
  private val views = new java.util.LinkedHashMap[String, Mounted]()

  /** Per-method call counters — the analog of `flumedb.meta`
    * (`/root/reference/index.js:81-91`, `wrap.js:66-96`). Alongside each
    * method-call counter, `<method>.records` counts every record actually
    * pulled through that method's frame (the reference counts per record
    * at `wrap.js:74-76`): frames are tagged with `observe()` — an
    * accumulator inside whole-stage codegen, no extra pass — and a
    * [[org.apache.spark.sql.util.QueryExecutionListener]] folds the
    * observed counts in when the user's action completes. Counting is
    * necessarily asynchronous: frames are lazy, so records can only be
    * counted when a query actually runs. */
  val meta: TrieMap[String, AtomicLong] = TrieMap.empty
  private def count(k: String): Unit =
    meta.getOrElseUpdate(k, new AtomicLong()).incrementAndGet()

  private val metaPrefix = s"graft_meta_${FlumeDb.dbIds.incrementAndGet()}:"
  private val obsIds = new AtomicLong()
  FlumeDb.registerMeta(log.spark, metaPrefix, meta)

  /** Tag a returned frame so executed queries report their record count
    * back into [[meta]]. Works for batch frames and live streams alike —
    * the QueryExecutionListener fires per batch action AND per streaming
    * micro-batch execution, so `stream.records` keeps counting as a live
    * tail delivers; the reference's per-record source counting
    * (`wrap.js:74-76`) covers live streams too. */
  private def observed(df: DataFrame, method: String): DataFrame = {
    import org.apache.spark.sql.functions.{count => cnt, lit}
    df.observe(s"$metaPrefix$method:${obsIds.incrementAndGet()}", cnt(lit(1)).as("records"))
  }

  final class Mounted(val name: String, val viewDef: ViewDef, val view: FlumeView) {
    @volatile var lastError: Option[Throwable] = None
    /** True once the view has completed its first sync — the analog of the
      * view's `since` observable having emitted (`sv.since.once`,
      * `/root/reference/wrap.js:40`). A `since: -1` stale read waits for
      * THIS, not for log parity. */
    @volatile var loaded: Boolean = false
    def since: Long = view.since

    private val sinceListeners =
      new java.util.concurrent.CopyOnWriteArrayList[Long => Unit]()
    @volatile private var lastEmitted: Long = Long.MinValue

    /** View-level `since` observable — `sv.since(fn)` as the reference's
      * wrap layer consumes it (`/root/reference/wrap.js:17-20`): fires
      * after every completed sync with the view's cursor; on subscribe,
      * fires immediately iff the view has loaded (obz `once` semantics —
      * the observable has no value until first emission, `wrap.js:37-41`).
      * Returns an unsubscribe thunk. */
    def onSince(fn: Long => Unit): () => Unit = {
      sinceListeners.add(fn)
      if (loaded) fn(view.since)
      () => { sinceListeners.remove(fn); () }
    }

    private[core] def emitSince(): Unit = {
      val v = view.since
      if (v != lastEmitted) {
        lastEmitted = v
        val it = sinceListeners.iterator()
        while (it.hasNext) it.next()(v)
      }
    }
  }

  private def throwIfClosed(): Unit =
    if (closed) throw new ClosedException("flumedb: closed")

  def since: Long = log.since

  /** Subscription form of the cursor — the reference surfaces the log's
    * obz observable directly as `db.since`
    * (`/root/reference/index.js:142`, `README.md:135-140`): `fn` fires now
    * with the current value and after every committed append. Returns an
    * unsubscribe thunk. */
  def onSince(fn: Long => Unit): () => Unit = { throwIfClosed(); log.onSince(fn) }

  /** The mapped log frame — all reads and view builds compose on this. */
  def mapped: DataFrame = mapper.fold(log.read)(f => f(log.read))

  private def mappedStream(r: LogRange): DataFrame = {
    if (!r.values) log.stream(r) // mapper skipped entirely for seqs-only scans,
                                 // per /root/reference/index.js:97-99
    else if (r.live) {
      // Live db-level stream: route through the log's streaming source so
      // post-start appends are visible, and apply the mapper to the
      // unbounded frame — the reference applies the mapper on live streams
      // too (/root/reference/index.js:96-113). Sort/limit don't apply to
      // unbounded streams (each micro-batch arrives in seq order).
      val base = log.stream(r.copy(seqs = true))
      val m = mapper.fold(base)(f => f(base))
      if (!r.seqs) m.drop(log.seqCol) else m
    } else {
      var df = mapped
      val sc = log.seqCol
      import org.apache.spark.sql.functions.col
      r.gt.foreach(v => df = df.where(col(sc) > v))
      r.gte.foreach(v => df = df.where(col(sc) >= v))
      r.lt.foreach(v => df = df.where(col(sc) < v))
      r.lte.foreach(v => df = df.where(col(sc) <= v))
      df = if (r.reverse) df.orderBy(col(sc).desc) else df.orderBy(col(sc))
      r.limit.foreach(n => df = df.limit(n))
      if (!r.seqs) df.drop(sc) else df
    }
  }

  def get(seq: Long): DataFrame = {
    throwIfClosed(); count("get")
    import org.apache.spark.sql.functions.{col, lit}
    observed(mapped.where(col(log.seqCol) === lit(seq)), "get")
  }

  def stream(r: LogRange = LogRange.all): DataFrame = {
    throwIfClosed(); count("stream")
    observed(mappedStream(r), "stream")
  }

  def append(payload: DataFrame): Long = {
    throwIfClosed(); count("append")
    val w = log.appendBatch(payload)
    try {
      meta.getOrElseUpdate("append.records", new AtomicLong()).addAndGet(w.since - w.after)
      lock.lock()
      try syncViews(written = Some(w)) finally lock.unlock()
    } finally w.release()
    w.since
  }

  /** Mount a view under `name` (`/root/reference/index.js:163-193`).
    * Name collisions throw; the view is brought up to log parity
    * synchronously on first mount (the build "loop" — each append then
    * incrementally advances it). */
  def use(name: String, viewDef: ViewDef): FlumeDb = {
    throwIfClosed()
    lock.lock()
    try {
      if (views.containsKey(name) || name == "log" || name == "since" || log.methods.contains(name))
        throw new IllegalArgumentException(s"flumedb.use: view named '$name' already exists")
      val m = new Mounted(name, viewDef, viewDef.create(this, name))
      views.put(name, m)
      syncViews(Seq(m))
      this
    } finally lock.unlock()
  }

  def view(name: String): Mounted = {
    val m = views.get(name)
    if (m == null) throw new NoSuchElementException(s"no view '$name'")
    m
  }
  def viewNames: Seq[String] = {
    lock.lock(); try views.keySet().toArray(Array.empty[String]).toSeq finally lock.unlock()
  }

  /** The one sync loop: bring `ms` (default: every mounted view) up to log
    * parity, in seq order, incrementally — the reference build loop's
    * `gt: since` stream (reference `index.js:36-39`), fanned out. The
    * views at the most advanced lagging cursor — on an append, every
    * view — share one batch of `(cursor, log.since]` in seq order. On an
    * append whose `written` batch covers exactly that range, with no
    * retract or expire of the log begun since it was written, the batch
    * is the append's own cached rows, with no read of the log; the
    * appender releases them after the sync. Under a mapper the views get
    * those rows mapped and sorted by seq, materialized by one eager job
    * when two or more views read them, so the mapper runs once per row.
    * Otherwise (a direct `log.append` or a takedown in between, a log
    * that keeps no batch) it is one read of the range, materialized by
    * one eager job when two or more views read it and the cursor is past
    * the start of the log. Such a copy is released here. Any other view
    * (just mounted, rebuilt or reset by a failed replay, or alone at its
    * cursor) streams its own `(since, log.since]`, so it costs what it
    * would cost synced on its own. Every lagging view absorbs at the
    * same time on its own driver thread. After every absorb has
    * returned, each view in mount order is marked loaded, parity is
    * signalled and its `since` is emitted.
    *
    * A view *ahead* of the log (e.g. log file truncated) is destroyed and
    * rebuilt (reference `index.js:36-37`). A failure — of the
    * shared batch or of the view's own absorb — is the view's alone: it
    * records `lastError`, destroys and replays the whole log on its own
    * (reference `index.js:66-71`) while its siblings reach parity.
    * If the replay fails too, the view stays unloaded at its cursor and
    * the first such failure, in mount order, is rethrown once the others
    * are done. `use`, `append`, `rebuild`, `setReady` and the takedown
    * fallbacks all sync through here. Caller holds the db lock. */
  private def syncViews(ms: Seq[Mounted] = mountedViews,
      written: Option[FlumeLog.Appended] = None): Unit = {
    val target = log.since
    ms.foreach(m => if (m.view.since > target) m.view.destroy()) // ahead of log => rebuild
    val lagging = ms.map(m => m -> m.view.since).filter(_._2 < target)
    val failed: Map[Mounted, Throwable] =
      if (lagging.isEmpty) Map.empty
      else {
        val head = lagging.map(_._2).max
        // the append's batch, unless the log moved past it or a rewrite
        // (a takedown run from a listener or another thread) may have
        // removed some of its rows since it was written
        val fresh = written
          .filter(w => w.after == head && w.since == target && w.rewrites == log.rewrites)
          .flatMap(_.batch)
        // a copy is made only of rows that two or more views read and
        // that cost work to give again: the mapper over the batch, or a
        // read of the log's tail (a replay from the start of the log
        // would copy the whole log)
        val copy = lagging.count(_._2 == head) >= 2 &&
          (if (fresh.nonEmpty) mapper.nonEmpty else head >= 0)
        val shared: Option[Try[DataFrame]] = fresh match {
          case Some(b) => Some(Try {
            val d = mapper.fold(b)(f => f(b).orderBy(org.apache.spark.sql.functions.col(log.seqCol)))
            if (copy) d.localCheckpoint(true) else d
          })
          case None if copy =>
            Some(Try(mappedStream(LogRange(gt = Some(head), lte = Some(target))).localCheckpoint(true)))
          case None => None
        }
        try {
          val outcomes = FlumeDb.fanOut(lagging.map { case (m, since) =>
            val batch: () => DataFrame = shared match {
              case Some(delta) if since == head => () => delta.get
              case _ => () => mappedStream(LogRange(gt = Some(since), lte = Some(target)))
            }
            s"flumedb-absorb-${m.name}" -> (() => absorbOrReplay(m, batch, target))
          })
          lagging.zip(outcomes).collect { case ((m, _), Some(e)) => m -> e }.toMap
        } finally if (copy) shared.foreach(_.foreach(FlumeDb.releaseCheckpoint))
      }
    val synced = ms.filterNot(failed.contains)
    lock.lock(); try { synced.foreach(_.loaded = true); parity.signalAll() } finally lock.unlock()
    synced.foreach(_.emitSince())
    ms.flatMap(failed.get) match {
      case first +: rest => rest.foreach(first.addSuppressed); throw first
      case _ => ()
    }
  }

  /** One view's share of a sync: absorb `batch`; on any failure, of the
    * read or of the absorb, record it and destroy + replay the log. */
  private def absorbOrReplay(m: Mounted, batch: () => DataFrame, target: Long): Unit =
    try m.view.absorb(batch(), target)
    catch {
      case NonFatal(e) =>
        m.lastError = Some(e)
        m.view.destroy()
        m.view.absorb(mappedStream(LogRange(lte = Some(target))), target)
    }

  private def mountedViews: Seq[Mounted] =
    views.values().toArray(Array.empty[Mounted]).toSeq

  /** DB-LEVEL takedown: retract matching rows from the LOG and bring
    * EVERY mounted view to a state with no trace of them — the
    * orchestration between a bare `log.retract` (mounted views keep
    * ghost rows: their cursors have already passed the retracted seqs,
    * so the incremental build loop can never remove them) and the
    * per-family [[graft.views.Retraction]] coordinator (which knows
    * feature tables, not mounted views). `cond` is evaluated against
    * the STORED log rows — the mapper is not applied; a takedown
    * targets stored bytes. Views implementing [[SeqRetractableView]]
    * retract in place by the removed seq set (∝ matches — the pruned
    * delta rewrite underneath); every other view is destroyed and
    * rebuilt from the retracted log, the universally correct fallback
    * (a flume view is by contract derived + disposable): a folded
    * Welford mean or a bloom filter cannot un-absorb a row any other
    * way. Runs under the db lock (no concurrent append/sync). Returns
    * the number of log rows removed. */
  def retract(cond: org.apache.spark.sql.Column): Long = {
    throwIfClosed(); count("retract")
    lock.lock()
    try {
      log.probeRewriteFence("retract")
      // the removed seq set must outlive the rewrite it prunes:
      // materialize BEFORE the log swap (the repo's persist-fence rule);
      // the auxiliary scans ride the log's bucket-stats pruning
      val matched = log.readWherePruned(cond)
      val seqs = matched.select(log.seqCol).localCheckpoint(true)
      val prepared = prepareInversions(matched)
      val removed = log.retract(cond)
      if (removed > 0) { prepared.foreach(_._2()); retractViews(seqs, prepared.map(_._1).toSet); fireRetractHooks(seqs) }
      removed
    } finally lock.unlock()
  }

  /** Takedown by id list — the batch form: `ids` stays a DataFrame end
    * to end (count-fenced broadcast join, shuffle fallback — never an
    * `isin` literal; the seq collection reuses the log rewrite's
    * [[ParquetLog.hitMarker]] plan shape). Same view orchestration as
    * [[retract]]. */
  def retractIds(ids: DataFrame, idCol: String): Long = {
    throwIfClosed(); count("retract")
    lock.lock()
    try {
      import org.apache.spark.sql.functions.col
      log.probeRewriteFence("retract")
      val marked = ParquetLog.hitMarker(ids, idCol, 4L * 1000 * 1000)(
          log.readForTakedownIds(ids, idCol))
        .where(col(ParquetLog.hitCol)).drop(ParquetLog.hitCol)
      val seqs = marked.select(log.seqCol).localCheckpoint(true)
      val prepared = prepareInversions(marked)
      val removed = log.retractIds(ids, idCol)
      if (removed > 0) { prepared.foreach(_._2()); retractViews(seqs, prepared.map(_._1).toSet); fireRetractHooks(seqs) }
      removed
    } finally lock.unlock()
  }

  /** DB-LEVEL retention: age out the seq prefix from the log
    * ([[FlumeLog.expire]] — pure directory truncation on a bucketed
    * parquet log) and from every mounted view — in place where the view
    * is seq-keyed (a predicate delete, no id list), destroy + rebuild
    * from the surviving suffix otherwise. Mounted FEATURE tables
    * ([[FeatureExpirableView]]) are left untouched by default — aged-out
    * content should still dedup on re-crawl — and truncate their delta
    * chains when `expireFeatures = true` (the opt-in for pure-retention
    * workloads where the signature tables would otherwise grow without
    * bound). */
  def expire(throughSeq: Long, expireFeatures: Boolean = false): Long = {
    throwIfClosed(); count("expire")
    lock.lock()
    try {
      import org.apache.spark.sql.functions.{col, lit}
      log.probeRewriteFence("expire")
      // the expiring prefix is never materialized: each invertible fold
      // computes its (tiny) partial over the lazy, bucket-pruned frame
      // NOW — an expiring year of log must not be checkpointed to
      // subtract two numbers — and applies it only after the truncation
      val prepared = prepareInversions(
        log.readWherePruned(col(log.seqCol) <= lit(throughSeq)))
      val removed = log.expire(throughSeq)
      if (removed > 0) {
        prepared.foreach(_._2())
        expireViews(throughSeq, prepared.map(_._1).toSet, expireFeatures)
      }
      // the log prefix may have left in an EARLIER keep-features pass:
      // an explicit opt-in still reclaims the feature deltas (cheap —
      // directory arithmetic, no data read)
      else if (expireFeatures) expireFeatureTables(throughSeq)
      removed
    } finally lock.unlock()
  }

  private def expireFeatureTables(throughSeq: Long): Unit = {
    val it = views.values().iterator()
    while (it.hasNext) it.next().view match {
      case f: FeatureExpirableView => f.expireFeatureDeltas(throughSeq)
      case _ => ()
    }
  }

  /** Phase 1 of reduce inversion: every invertible fold computes its
    * removed-rows partial NOW (one narrow aggregate scan per view over
    * the pruned matched frame — the rows themselves are never
    * materialized), applying NOTHING. The returned thunks run only
    * after the log rewrite succeeds; a fence refusal or rewrite
    * failure drops them, leaving the folds untouched. */
  private def prepareInversions(matched: => DataFrame): Seq[(FlumeView, () => Unit)] = {
    val out = Seq.newBuilder[(FlumeView, () => Unit)]
    lazy val m = { val f = matched; mapper.fold(f)(g => g(f)) }
    val it = views.values().iterator()
    while (it.hasNext) {
      val mv = it.next().view
      mv match {
        case v: InvertibleReduceView if v.canUnabsorb => out += ((mv, v.prepareUnabsorb(m)))
        case _ => ()
      }
    }
    out.result()
  }

  // ---- derived-model retrain hook ------------------------------------------
  // Mounted views rebuild or repair under a takedown, but TRAINED
  // ARTIFACTS held OUTSIDE the db (a PQ [[graft.ops.Pq.Model]], k-means
  // centroids, an NB model, a BPE merge table) summarize a corpus
  // snapshot the db cannot see — a takedown purges the rows while a
  // model trained on them persists in the caller's hands. Per-family
  // policy (also on each trainer's Scaladoc): k-means-REFINED artifacts
  // (KMeans.fit with iters ≥ 1, Pq.train) are aggregate statistics a
  // takedown may keep; SEED-BY-ID artifacts (Pq.seedCodebooks,
  // IVFIndexView's quantizer, KMeans' iters = 0 degenerate) are literal
  // copies of corpus vectors and must re-derive when a seed retracts —
  // the mounted IVF view does this itself (seed redaction); for
  // driver-held models, this hook is the retrain trigger.

  /** Register a callback fired after EVERY completed db takedown (not
    * retention — aging out rows does not erase their statistical
    * influence obligations the way an erasure request does) with the
    * removed SEQ set, so pipelines holding derived models can decide —
    * by intersecting with their training lineage — whether to retrain.
    * Fires only when rows were actually removed, after the view pass.
    * Returns an unsubscribe thunk. */
  def onRetract(hook: DataFrame => Unit): () => Unit = {
    throwIfClosed()
    retractHooks.add(hook)
    () => { retractHooks.remove(hook); () }
  }

  private val retractHooks =
    new java.util.concurrent.CopyOnWriteArrayList[DataFrame => Unit]()

  private def fireRetractHooks(removedSeqs: DataFrame): Unit = {
    val it = retractHooks.iterator()
    while (it.hasNext) it.next()(removedSeqs)
  }

  /** Bring every mounted view to the post-takedown state, cheapest
    * mechanism first per family: seq-keyed posting tables delete in
    * place; keyed folds purge + recompute only the affected keys;
    * invertible reduces were already handled by the two-phase
    * inversion (`handled` — a durable-intent REPLAY has only the seq
    * list, the log is already rewritten, so those fall through to the
    * rebuild); everything else destroys + rebuilds, the universally
    * correct fallback. */
  private def retractViews(removedSeqs: DataFrame, handled: Set[FlumeView]): Unit = {
    lazy val postLog = mapper.fold(log.read)(f => f(log.read))
    val fallback = Seq.newBuilder[Mounted]
    mountedViews.foreach { m =>
      m.view match {
        case v if handled.contains(v) => ()
        case s: SeqRetractableView => s.retractLogSeqs(removedSeqs, log.seqCol)
        case k: KeyRetractableView =>
          k.retractLogSeqsRecompute(removedSeqs, log.seqCol, postLog)
        case _ => fallback += m
      }
    }
    rebuildViews(fallback.result())
  }

  /** Destroy `ms` and replay the log into them through one sync. */
  private def rebuildViews(ms: Seq[Mounted]): Unit = {
    ms.foreach(_.view.destroy())
    syncViews(ms)
  }

  // ---- durable (intent-logged) takedown -----------------------------------
  // The undurable forms above are atomic under the db lock but NOT
  // crash-durable across the log/view boundary: a JVM death between the
  // log rewrite and the view pass leaves mounted views holding GHOST
  // rows for seqs the log no longer serves — and the incremental build
  // loop can never remove them (view cursors already passed those
  // seqs). Same half-state the family-level [[graft.views.Retraction]]
  // intent protocol closes for feature tables; closed here with the
  // same shape. The durable currency is the REMOVED SEQ SET: a
  // predicate cannot replay across JVMs (closures don't serialize into
  // an intent file) but its matched seqs can — and every replay arm is
  // idempotent (log retract of absent seqs rewrites nothing; a seq
  // anti-join on a clean view is a no-op; destroy + rebuild is
  // idempotent by construction).

  /** Crash-durable takedown: like [[retract]], but the removed seq set
    * is made durable as a parquet list plus an atomic intent marker
    * BEFORE the log is touched; a death in any later window is closed
    * by [[recoverRetract]] at the next open. Order: fence probe → seq
    * list durable → intent marker → log rewrite → view pass → intent
    * cleared. The log's live-tail quiescence fence is probed BEFORE the
    * marker commits: a fence refusal mutates nothing, so it must not
    * latch an open intent. The marker records the mounted view names —
    * [[recoverRetract]] refuses to replay (and clear the intent) while
    * any of them is missing, since a view mounted after recovery would
    * keep its ghost rows forever. */
  def retract(cond: org.apache.spark.sql.Column, intentFile: String): Long = {
    throwIfClosed(); count("retract")
    lock.lock()
    try {
      val p = intentPathForNew(intentFile)
      log.probeRewriteFence("retract") // refuse BEFORE the intent exists
      val seqsDir = intentFile + ".seqs"
      deleteDirIfExists(seqsDir) // uncommitted leftover from a pre-marker crash
      log.readWherePruned(cond).select(log.seqCol).write.parquet(seqsDir)
      // the parquet list is complete (_SUCCESS) — NOW commit the intent
      commitIntent(p, intentFile, s"@seqs$viewsToken")
      // checkpoint the durable list NOW: the seqsDir parquet is deleted
      // at the end of this pass, but the retract hooks' contract is a
      // frame usable AFTER this call returns (a pipeline intersecting
      // removed seqs with training lineage evaluates it deferred) — the
      // same contract the undurable arms already give
      val seqs = readSeqList(seqsDir).localCheckpoint(true)
      // inversions prepare on the FRESH pass only (a crash replay finds
      // the log already rewritten — those views rebuild on replay)
      val prepared = prepareInversions(log.readWherePruned(cond))
      val removed = mutateLogOrUnlatch(p, seqsDir)(log.retract(cond))
      // mirror the undurable form: a zero-match takedown has no ghost
      // rows to purge — do not destroy/rebuild every folding view
      if (removed > 0) { prepared.foreach(_._2()); retractViews(seqs, prepared.map(_._1).toSet) }
      java.nio.file.Files.delete(p)
      deleteDirIfExists(seqsDir)
      // hooks fire AFTER the intent is cleared: the erasure is complete
      // at this point, so a throwing hook must surface to the caller
      // without latching an intent that would block all future takedowns
      if (removed > 0) fireRetractHooks(seqs)
      removed
    } finally lock.unlock()
  }

  /** Run the log mutation of a durable pass; if it is refused by the
    * live-tail quiescence fence (a tail started in the window between
    * the entry probe and the rewrite — nothing was mutated), unlatch
    * the just-committed intent before rethrowing, so a pure refusal
    * never leaves an open window that blocks all future takedowns.
    * Unlatching requires BOTH discriminators — the exception is the
    * fence's own (every backend's fence message names the "live tail")
    * AND a re-probe still refuses — because an UNRELATED mid-rewrite
    * failure with a tail that happened to open concurrently must keep
    * the intent: the rewrite may have partially run and only the
    * replay completes the erasure. */
  private def mutateLogOrUnlatch(p: java.nio.file.Path, seqsDir: String)(op: => Long): Long =
    try op catch {
      case e: IllegalStateException
          if e.getMessage != null && e.getMessage.contains("live tail") &&
            scala.util.Try(log.probeRewriteFence("probe")).isFailure =>
        java.nio.file.Files.deleteIfExists(p)
        if (seqsDir != null) deleteDirIfExists(seqsDir)
        throw e
    }

  /** Crash-durable takedown by ID LIST: the batch form of
    * `retract(cond, intentFile)`. The matched SEQ set (not the id list)
    * is what goes durable — it is the currency every replay arm speaks:
    * the log rewrite replays as `retractIds(seqs, seqCol)` and the view
    * pass as the same anti-join, both idempotent. */
  def retractIds(ids: DataFrame, idCol: String, intentFile: String): Long = {
    throwIfClosed(); count("retract")
    lock.lock()
    try durableRetractBySeqs(matchedSeqsPruned(ids, idCol), intentFile)
    finally lock.unlock()
  }

  /** Seqs of log rows whose `idCol` appears in `ids`, with the match
    * scan pruned to the buckets the log's stats manifest cannot prove
    * id-free — the per-domain half of the drain's merged pass. */
  private def matchedSeqsPruned(ids: DataFrame, idCol: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    ParquetLog.hitMarker(ids, idCol, 4L * 1000 * 1000)(
        log.readForTakedownIds(ids, idCol))
      .where(col(ParquetLog.hitCol)).select(log.seqCol)
  }

  /** The durable takedown KERNEL every batch arm shares: make the
    * matched seq set durable (parquet list + atomic intent marker),
    * rewrite the log by seq (bucket pruning on the seq list is exact
    * directory arithmetic), run ONE view pass, clear the intent. Must
    * be called under the db lock. `seqSet` may union several domains'
    * matches (the drain) — it is distinct-ed before going durable. */
  private def durableRetractBySeqs(seqSet: DataFrame, intentFile: String): Long = {
    import org.apache.spark.sql.functions.col
    val p = intentPathForNew(intentFile)
    log.probeRewriteFence("retract")
    val seqsDir = intentFile + ".seqs"
    deleteDirIfExists(seqsDir)
    seqSet.select(col(log.seqCol)).distinct().write.parquet(seqsDir)
    commitIntent(p, intentFile, s"@seqs$viewsToken")
    // checkpointed for the same reason as the cond arm: the retract
    // hooks may evaluate this frame after seqsDir is deleted
    val seqs = readSeqList(seqsDir).localCheckpoint(true)
    val prepared = prepareInversions(
      ParquetLog.hitMarker(seqs, log.seqCol, 4L * 1000 * 1000)(
          log.readForTakedownIds(seqs, log.seqCol))
        .where(col(ParquetLog.hitCol))
        .drop(ParquetLog.hitCol))
    val removed = mutateLogOrUnlatch(p, seqsDir)(log.retractIds(seqs, log.seqCol))
    if (removed > 0) { prepared.foreach(_._2()); retractViews(seqs, prepared.map(_._1).toSet) }
    java.nio.file.Files.delete(p)
    deleteDirIfExists(seqsDir)
    // after intent cleanup — a throwing hook surfaces without latching
    if (removed > 0) fireRetractHooks(seqs)
    removed
  }

  /** Crash-durable retention: like [[expire]], but the horizon itself is
    * the (scalar, trivially durable) intent — marker committed before
    * the log is touched, every replay arm idempotent. */
  def expire(throughSeq: Long, intentFile: String): Long =
    expire(throughSeq, intentFile, expireFeatures = false)

  def expire(throughSeq: Long, intentFile: String, expireFeatures: Boolean): Long = {
    throwIfClosed(); count("expire")
    lock.lock()
    try {
      val p = intentPathForNew(intentFile)
      log.probeRewriteFence("expire")
      val featTok = if (expireFeatures) " FEATURES" else ""
      commitIntent(p, intentFile, s"EXPIRE $throughSeq$featTok$viewsToken")
      val prepared = prepareInversions(log.readWherePruned(
        org.apache.spark.sql.functions.col(log.seqCol) <=
          org.apache.spark.sql.functions.lit(throughSeq)))
      val removed = mutateLogOrUnlatch(p, null)(log.expire(throughSeq))
      if (removed > 0) {
        prepared.foreach(_._2())
        expireViews(throughSeq, prepared.map(_._1).toSet, expireFeatures)
      }
      else if (expireFeatures) expireFeatureTables(throughSeq)
      java.nio.file.Files.delete(p)
      removed
    } finally lock.unlock()
  }

  /** EVENT-TIME retention: users speak time ("older than 90 days"),
    * [[expire]] speaks seq. The log translates
    * ([[FlumeLog.horizonOlderThan]] — manifest arithmetic plus at most
    * a boundary-bucket scan on a stats-declared ts column), then the
    * standard retention orchestration runs at that horizon: log
    * truncation, per-family view handling, feature-table opt-in. The
    * horizon derivation is a pure read — a concurrent append between
    * it and the truncation only makes the horizon conservative. */
  def expireOlderThan(tsCol: String, through: Any, expireFeatures: Boolean = false): Long = {
    throwIfClosed()
    lock.lock()
    try expire(log.horizonOlderThan(tsCol, through), expireFeatures)
    finally lock.unlock()
  }

  /** Crash-durable event-time retention: the derived seq horizon is the
    * (scalar) durable intent, exactly [[expire(throughSeq:Long,intentFile:String,expireFeatures:Boolean)*]]. */
  def expireOlderThan(tsCol: String, through: Any, intentFile: String,
      expireFeatures: Boolean): Long = {
    throwIfClosed()
    lock.lock()
    try expire(log.horizonOlderThan(tsCol, through), intentFile, expireFeatures)
    finally lock.unlock()
  }

  /** Refuse a new durable pass while an unrecovered intent exists;
    * returns the intent path (parent dirs not yet created). */
  private def intentPathForNew(intentFile: String): java.nio.file.Path = {
    val p = java.nio.file.Paths.get(intentFile)
    if (java.nio.file.Files.exists(p))
      throw new IllegalStateException(
        s"an unrecovered db takedown intent exists at $intentFile — run recoverRetract() " +
          "first (starting a new pass would abandon the crashed one's erasure)")
    p
  }

  /** Atomically commit the intent marker (write-then-rename). */
  private def commitIntent(p: java.nio.file.Path, intentFile: String, content: String): Unit = {
    if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
    val tmp = java.nio.file.Paths.get(intentFile + ".tmp")
    java.nio.file.Files.writeString(tmp, content)
    java.nio.file.Files.move(tmp, p, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  // ---- takedown coalescing (the intent QUEUE) -----------------------------
  // K pending rights-holder/GDPR requests cost K separate match scans +
  // rewrites when executed one by one — at 100 TB the match scan is the
  // corpus-proportional part, so batching K requests into ONE merged
  // pass is a ~K× saving. The queue makes acceptance cheap and durable
  // (a parquet id list — or a replayable SQL predicate — beside an
  // atomic marker per request: an acknowledged erasure that survives
  // crashes) and defers execution to a drain. A real queue holds MIXED
  // requests (doc_id lists, media_id lists, predicates): the drain
  // groups them into domains, runs ONE pruned match scan per domain to
  // collect seqs — the universal takedown currency — and then ONE
  // seq-based log rewrite plus ONE view pass for everything. This also
  // resolves the single-intent collision refusal operationally: a
  // second request no longer throws at the caller — it queues.

  /** Durably ACCEPT a takedown request without executing it: the id
    * list lands as parquet beside an atomic marker naming `idCol`.
    * Returns the number of pending intents (including this one). The
    * request is executed — its domain's lists merged into one match
    * scan, all domains sharing one log rewrite and one view pass — at
    * the next [[drainRetractQueue]] (or [[recoverRetractQueue]] at
    * open, if the process dies first). */
  def enqueueRetractIds(ids: DataFrame, idCol: String, queueDir: String): Int = {
    throwIfClosed(); count("retract")
    require(!idCol.startsWith(FlumeDb.PredicateIntent),
      s"id column may not start with '${FlumeDb.PredicateIntent}'")
    lock.lock()
    try {
      val q = java.nio.file.Paths.get(queueDir)
      java.nio.file.Files.createDirectories(q)
      val name = nextIntentName(q)
      val idsDir = q.resolve(name + ".ids")
      deleteDirIfExists(idsDir.toString) // uncommitted leftover
      ids.select(ids.col(idCol)).distinct().write.parquet(idsDir.toString)
      // list durable (_SUCCESS) — NOW commit the marker naming the column
      commitIntent(q.resolve(name), q.resolve(name).toString, idCol)
      pendingIntents(q).size
    } finally lock.unlock()
  }

  /** Durably ACCEPT a PREDICATE takedown request: a `Column` closure
    * cannot replay across JVMs, but its SQL text can — `condSql` (a
    * boolean expression over the stored log columns, e.g.
    * `"source = 'bad-crawler' AND lang = 'en'"`) is parsed NOW (fail at
    * accept, not at drain) and recorded verbatim in the intent marker.
    * At drain it re-enters as `expr(condSql)`, whose match scan still
    * prunes by bucket stats (the SQL-text path of
    * [[org.apache.spark.sql.graftbridge.ColumnBridge.statsProveEmpty]]). */
  def enqueueRetractWhere(condSql: String, queueDir: String): Int = {
    throwIfClosed(); count("retract")
    log.spark.sessionState.sqlParser.parseExpression(condSql) // fail fast: syntax
    // fail fast: SEMANTICS. A parseable predicate over a nonexistent
    // column (a typo) would durably enqueue, then throw at ANALYSIS time
    // inside every later drain AND open-time recovery — blocking the
    // whole queue, valid erasure requests included, until the marker is
    // deleted by hand. Resolving against the log schema here makes a
    // semantic error refuse at accept exactly like a syntax error.
    log.read.where(org.apache.spark.sql.functions.expr(condSql))
      .queryExecution.assertAnalyzed()
    require(!condSql.contains("\n") && !condSql.contains("\r"),
      "predicate SQL must be single-line (the intent marker is line-oriented)")
    lock.lock()
    try {
      val q = java.nio.file.Paths.get(queueDir)
      java.nio.file.Files.createDirectories(q)
      val name = nextIntentName(q)
      commitIntent(q.resolve(name), q.resolve(name).toString,
        s"${FlumeDb.PredicateIntent}$condSql")
      pendingIntents(q).size
    } finally lock.unlock()
  }

  private def nextIntentName(q: java.nio.file.Path): String = {
    val next = pendingIntents(q).map(_.getFileName.toString.stripPrefix("intent-").toLong)
      .foldLeft(-1L)(_ max _) + 1L
    f"intent-$next%06d"
  }

  /** Execute EVERY pending queued intent — id lists across ANY number
    * of id domains, plus predicates — in one merged pass: per id
    * domain, union its lists and run ONE pruned match scan collecting
    * seqs; per predicate, one pruned narrow scan; then ONE durable
    * seq-based takedown (one log rewrite, one view pass) for the union,
    * and clear the drained intents. K mixed requests therefore cost
    * Σ(one match scan per domain) + one rewrite + one view pass — never
    * K separate passes. Returns the number of log rows removed.
    * Crash-safe in every window: a death inside the merged pass leaves
    * the `_drain` intent AND the queue markers — [[recoverRetractQueue]]
    * replays the seq-based pass and re-drains (the second pass finds no
    * matches and skips the view pass); a death while clearing markers
    * re-drains the leftovers idempotently. */
  def drainRetractQueue(queueDir: String): Long = {
    throwIfClosed(); count("retract")
    lock.lock()
    try {
      val q = java.nio.file.Paths.get(queueDir)
      if (!java.nio.file.Files.exists(q)) return 0L
      recoverRetract(q.resolve("_drain").toString) // finish a crashed drain first
      val pend = pendingIntents(q)
      if (pend.isEmpty) return 0L
      val byContent = pend.map(p => (java.nio.file.Files.readString(p).trim, p))
      val (preds, idIntents) = byContent.partition(_._1.startsWith(FlumeDb.PredicateIntent))
      // one merged match scan per id DOMAIN (each pruned by that
      // domain's bucket stats), one pruned scan per predicate — all
      // yielding the universal currency, seqs
      val domainSeqs = idIntents.groupBy(_._1).toSeq.sortBy(_._1).map { case (idCol, ps) =>
        val ids = ps.map(p => graft.views.ParquetFooters.read(
            log.spark, java.nio.file.Paths.get(p._2.toString + ".ids")))
          .reduce(_ unionByName _)
        matchedSeqsPruned(ids, idCol)
      }
      val predSeqs = preds.map { case (content, _) =>
        val cond = org.apache.spark.sql.functions.expr(
          content.stripPrefix(FlumeDb.PredicateIntent))
        log.readWherePruned(cond).select(log.seqCol)
      }
      val allSeqs = (domainSeqs ++ predSeqs).reduce(_ unionByName _)
      val removed = durableRetractBySeqs(allSeqs, q.resolve("_drain").toString)
      pend.foreach { p =>
        java.nio.file.Files.delete(p)
        deleteDirIfExists(p.toString + ".ids")
      }
      removed
    } finally lock.unlock()
  }

  /** Close every interrupted takedown window under `queueDir` at open:
    * finish a crashed drain (its `_drain` intent replays log + views),
    * then drain any still-pending intents. Call AFTER mounting every
    * persistent view, like [[recoverRetract]]. Returns rows removed. */
  def recoverRetractQueue(queueDir: String): Long = drainRetractQueue(queueDir)

  /** Committed queue intents (marker present), oldest first. */
  private def pendingIntents(q: java.nio.file.Path): Seq[java.nio.file.Path] =
    graft.views.FsLists.children(q)
      .filter { p =>
        val n = p.getFileName.toString
        n.startsWith("intent-") && !n.endsWith(".ids") && !n.endsWith(".tmp") &&
          !n.endsWith(".seqs")
      }
      .sortBy(_.getFileName.toString)

  /** ` views=a,b,c` — the mounted view names recorded into a durable
    * intent, so [[recoverRetract]] can detect a replay attempted before
    * every persistent view of the crashed session is mounted again.
    * Names containing whitespace or commas cannot be encoded losslessly
    * in the single-line marker; such a set is recorded as unchecked. */
  private def viewsToken: String = {
    val names = viewNames
    if (names.isEmpty || names.exists(n => n.contains(",") || n.exists(_.isWhitespace))) ""
    else s" views=${names.mkString(",")}"
  }

  /** Close an interrupted durable takedown/retention pass: if an intent
    * survives, both halves re-run from the durable record — the seq
    * list for a takedown, the horizon for a retention pass — and the
    * intent clears (every arm idempotent). Call at open AFTER mounting
    * every persistent view the crashed session had mounted: the replay
    * heals only views mounted NOW, and the incremental build loop can
    * never remove ghost rows later ([[use]] sync only appends). The
    * intent records the mounted-view names at takedown time and this
    * method REFUSES to replay (leaving the window open) while any of
    * them is missing. A corrupt marker, or a takedown marker whose
    * durable seq list is gone, also refuses with a descriptive error
    * rather than clearing the window. Returns true when a window was
    * replayed. */
  def recoverRetract(intentFile: String): Boolean = {
    throwIfClosed()
    lock.lock()
    try {
      val p = java.nio.file.Paths.get(intentFile)
      val tmp = java.nio.file.Paths.get(intentFile + ".tmp")
      if (java.nio.file.Files.exists(tmp)) java.nio.file.Files.delete(tmp)
      val seqsDir = intentFile + ".seqs"
      if (!java.nio.file.Files.exists(p)) {
        deleteDirIfExists(seqsDir) // a list never committed by a marker
        return false
      }
      var replayedSeqs: Option[DataFrame] = None
      val content = java.nio.file.Files.readString(p).trim
      val toks = content.split("\\s+")
      val recorded = toks.find(_.startsWith("views="))
        .map(_.stripPrefix("views=").split(",").toSeq.filter(_.nonEmpty))
        .getOrElse(Seq.empty)
      val missing = recorded.filterNot(viewNames.toSet)
      if (missing.nonEmpty)
        throw new IllegalStateException(
          s"recoverRetract: the crashed pass at $intentFile recorded mounted views " +
            s"[${missing.mkString(", ")}] that are not mounted now — mount every " +
            "persistent view first, or the replay cannot purge their ghost rows " +
            "(the intent is left open)")
      toks.takeWhile(!_.startsWith("views=")) match {
        case Array("EXPIRE", through, rest @ _*) if rest.isEmpty || rest == Seq("FEATURES") =>
          val t = through.toLongOption.getOrElse(throw new IllegalStateException(
            s"recoverRetract: corrupt intent at $intentFile — 'EXPIRE' horizon " +
              s"'$through' is not a seq; the durable window is left open"))
          log.expire(t) // the prefix that survived the crash leaves now
          expireViews(t, Set.empty, expireFeatures = rest.nonEmpty)
        case Array("@seqs") =>
          if (!java.nio.file.Files.exists(java.nio.file.Paths.get(seqsDir)))
            throw new IllegalStateException(
              s"recoverRetract: takedown intent at $intentFile names a durable seq " +
                s"list at $seqsDir that does not exist — the marker is committed only " +
                "after the list, so the list was deleted out of band; the window is " +
                "left open (restore the list or audit the takedown before clearing)")
          val seqs = readSeqList(seqsDir).localCheckpoint(true)
          if (seqs.isEmpty) () // a zero-match pass: nothing to replay anywhere
          else {
            log.retractIds(seqs, log.seqCol) // absent seqs rewrite nothing
            // no prepared inversions on REPLAY: the log may already be
            // rewritten, so the removed rows are unrecoverable —
            // invertible reduces take the rebuild arm (rare; correct)
            retractViews(seqs, Set.empty)
            // the crashed pass died before its hooks could fire — the
            // replay is the completion signal derived-model holders wait
            // on; fired after the intent clears, like the fresh arms
            replayedSeqs = Some(seqs)
          }
        case _ =>
          throw new IllegalStateException(
            s"recoverRetract: unrecognized intent content '$content' at $intentFile — " +
              "expected '@seqs' or 'EXPIRE <seq>'; the durable window is left open " +
              "(a corrupt marker must be audited, not silently cleared)")
      }
      java.nio.file.Files.delete(p)
      deleteDirIfExists(seqsDir)
      replayedSeqs.foreach(fireRetractHooks)
      true
    } finally lock.unlock()
  }

  private def expireViews(throughSeq: Long, handled: Set[FlumeView] = Set.empty,
      expireFeatures: Boolean = false): Unit = {
    val fallback = Seq.newBuilder[Mounted]
    mountedViews.foreach { m =>
      m.view match {
        case v if handled.contains(v) => ()
        // feature tables first: KEEP by default (re-crawls of aged-out
        // content still dedup), truncate the delta chain on opt-in —
        // never the ∝-corpus rebuild the fallback arm would pay
        case f: FeatureExpirableView =>
          if (expireFeatures) f.expireFeatureDeltas(throughSeq)
        case s: SeqRetractableView => s.expireLogSeqs(throughSeq)
        case k: KeyRetractableView => k.expireLogSeqs(throughSeq)
        case _ => fallback += m
      }
    }
    rebuildViews(fallback.result())
  }

  /** The durable seq list, schema pinned: a zero-match takedown writes a
    * zero-row list whose parquet dir may carry no footer to infer from. */
  private def readSeqList(dir: String): DataFrame =
    log.spark.read.schema(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(log.seqCol,
        org.apache.spark.sql.types.LongType, nullable = false)))).parquet(dir)

  private def deleteDirIfExists(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p))
      graft.views.FsLists.walkDeepestFirst(p).foreach(java.nio.file.Files.delete)
  }

  /** Global pause switch (`/root/reference/README.md:115-118`): while not
    * ready, gated reads stall. */
  def setReady(r: Boolean): Unit = {
    lock.lock()
    try { ready = r; if (r) { syncViews() }; parity.signalAll() } finally lock.unlock()
  }

  /** Read-your-writes gate (`/root/reference/wrap.js:29-61`): block until
    * the view has absorbed at least `target` (default: the log's current
    * seq). `target = -1` skips log-parity waiting (stale-read escape
    * hatch, `/root/reference/README.md:249-252`) but still waits for the
    * view to have LOADED — `sv.since.once(cb)` at `wrap.js:37-41`, which
    * fires on first view-since emission regardless of the global ready
    * flag. Throws if the db closes while waiting (`wrap.js:98-100`). */
  def awaitView(name: String, target: Option[Long] = None, timeoutMs: Long = 60000): Unit = {
    throwIfClosed()
    val m = view(name)
    val goal = target.getOrElse(log.since)
    if (goal == -1L) {
      // stale read: ignore `ready` and log parity; only require first load
      val deadline = System.nanoTime() + TimeUnit.MILLISECONDS.toNanos(timeoutMs)
      lock.lock()
      try {
        while (!closed && !m.loaded) {
          val left = deadline - System.nanoTime()
          if (left <= 0) throw new java.util.concurrent.TimeoutException(
            s"view '$name' never loaded")
          parity.awaitNanos(left)
        }
        if (closed) throw new ClosedException("flumedb: closed while waiting")
      } finally lock.unlock()
      return
    }
    val deadline = System.nanoTime() + TimeUnit.MILLISECONDS.toNanos(timeoutMs)
    lock.lock()
    try {
      while (!closed && (!ready || m.view.since < goal)) {
        val left = deadline - System.nanoTime()
        if (left <= 0) throw new java.util.concurrent.TimeoutException(
          s"view '$name' stuck at ${m.view.since}, waiting for $goal")
        parity.awaitNanos(left)
      }
      if (closed) throw new ClosedException("flumedb: closed while waiting")
    } finally lock.unlock()
  }

  /** Gated read: wait for view parity, then run `f` against the view.
    * The analog of wrapped `async` view methods
    * (`/root/reference/wrap.js:80-87`). */
  def gated[V <: FlumeView, A](name: String, target: Option[Long] = None)(f: FlumeView => A): A = {
    count(s"$name.read")
    awaitView(name, target)
    f(view(name).view)
  }

  /** Expose the mapped log and every relational view to Spark SQL as
    * temp views `<prefix>_log` / `<prefix>_<viewName>` — the engine's
    * free SQL surface (the reference has none; Catalyst gives it to us). */
  def registerTempViews(prefix: String = "flume"): Unit = {
    throwIfClosed()
    mapped.createOrReplaceTempView(s"${prefix}_log")
    lock.lock()
    try {
      val it = views.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        e.getValue.view.frameOption.foreach(_.createOrReplaceTempView(s"${prefix}_${e.getKey}"))
      }
    } finally lock.unlock()
  }

  def sql(query: String): DataFrame = { throwIfClosed(); count("sql"); log.spark.sql(query) }

  /** One-shot parity wait for a view — `flumedb[name].ready(cb)`
    * (`/root/reference/README.md:254-257`). */
  def ready(name: String): Unit = awaitView(name)

  /** Invoke a log-exported extra method by name
    * (`/root/reference/index.js:270-283`). */
  def call(method: String, args: Any*): Any = {
    throwIfClosed(); count(method)
    log.methods.getOrElse(method,
      throw new NoSuchElementException(s"log exports no method '$method'"))(args)
  }

  /** Destroy every view and replay the whole log into each
    * (`/root/reference/index.js:194-250`); returns when every view is back
    * at log parity. */
  def rebuild(): Unit = {
    throwIfClosed(); count("rebuild")
    lock.lock()
    try rebuildViews(mountedViews)
    finally lock.unlock()
  }

  /** Idempotent shutdown (`/root/reference/index.js:251-266`); gated calls
    * throw after close (`wrap.js:11-15`). */
  def close(): Unit = {
    lock.lock()
    try {
      if (!closed) {
        closed = true
        FlumeDb.unregisterMeta(metaPrefix)
        val it = views.values().iterator()
        while (it.hasNext) it.next().view.close()
        log.close()
      }
      parity.signalAll()
    } finally lock.unlock()
  }

  def isClosed: Boolean = closed
}

object FlumeDb {
  private val dbIds = new AtomicLong()

  /** Queue-intent marker prefix distinguishing a replayable SQL
    * predicate request from an id-list request (whose marker holds the
    * bare id column name). */
  private[core] val PredicateIntent = "WHERE "

  // ONE QueryExecutionListener per SparkSession, fanned out to per-db
  // meta maps through this registry — many short-lived dbs on a shared
  // session must not accumulate listeners for the session lifetime.
  private val metaMaps = new ConcurrentHashMap[String, TrieMap[String, AtomicLong]]()
  // weak keys: a dropped session must not be pinned by this registry
  private val installedSessions =
    java.util.Collections.synchronizedSet(
      java.util.Collections.newSetFromMap(
        new java.util.WeakHashMap[org.apache.spark.sql.SparkSession, java.lang.Boolean]()))

  private def foldMetric(name: String, row: org.apache.spark.sql.Row): Unit =
    if (name.startsWith("graft_meta_")) {
      val m = metaMaps.get(name.substring(0, name.indexOf(':') + 1))
      if (m != null) {
        val method = name.substring(name.indexOf(':') + 1, name.lastIndexOf(':'))
        m.getOrElseUpdate(s"$method.records", new AtomicLong())
          .addAndGet(row.getAs[Long]("records"))
      }
    }

  private def registerMeta(spark: org.apache.spark.sql.SparkSession,
      prefix: String, meta: TrieMap[String, AtomicLong]): Unit = {
    metaMaps.put(prefix, meta)
    if (installedSessions.add(spark)) {
      // fires for batch actions AND for each streaming micro-batch
      // execution (Spark 4), so one listener covers live streams too
      spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
          qe.observedMetrics.foreach { case (name, row) => foldMetric(name, row) }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, error: Exception): Unit = ()
      })
    }
  }

  private def unregisterMeta(prefix: String): Unit = metaMaps.remove(prefix)

  /** Run every named task at the same time, each on its own new driver
    * thread, and return each task's failure (None on success) in task
    * order. The threads are started by the caller, so they
    * inherit its Spark local properties — job group, scheduler pool, job
    * tags — and its active session: their jobs are the caller's jobs.
    * Waits for every task even when the caller is interrupted (the
    * interrupt is kept): the tasks run under the caller's db lock and
    * must not outlive it. */
  private[core] def fanOut(tasks: Seq[(String, () => Unit)]): Seq[Option[Throwable]] = {
    val failures = Array.fill[Option[Throwable]](tasks.size)(None)
    val threads = tasks.zipWithIndex.map { case ((name, task), i) =>
      val t = new Thread(() =>
        try task() catch { case e: Throwable => failures(i) = Some(e) }, name)
      t.setDaemon(true)
      t.start()
      t
    }
    var interrupted = false
    threads.foreach { t =>
      while (t.isAlive)
        try t.join() catch { case _: InterruptedException => interrupted = true }
    }
    if (interrupted) Thread.currentThread().interrupt()
    failures.toSeq
  }

  /** Free the blocks of a `localCheckpoint`ed frame now, not at some
    * later GC of its RDD. Frames derived from it stop working. */
  private[core] def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical match {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        org.apache.spark.sql.graftbridge.StorageBridge.release(r.rdd)
      case _ => ()
    }
}
