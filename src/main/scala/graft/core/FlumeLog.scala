package graft.core

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Leveldb-style range options for log scans.
  *
  * Mirrors the reference stream contract (`/root/reference/README.md:130-133`
  * and `:192-195`): `gt/gte/lt/lte` bound the seq range, `reverse` flips
  * order, `limit` truncates, and `seqs`/`values` select which half of the
  * `{seq, value}` record is emitted (`/root/reference/index.js:96-113`).
  */
final case class LogRange(
    gt: Option[Long] = None,
    gte: Option[Long] = None,
    lt: Option[Long] = None,
    lte: Option[Long] = None,
    reverse: Boolean = false,
    limit: Option[Int] = None,
    seqs: Boolean = true,
    values: Boolean = true,
    live: Boolean = false) {

  /** This range over `df`, a frame of log rows keyed by `seqCol`: the
    * seq bounds, then (on a batch range) the seq order, then the limit
    * and the seqs/values projection. */
  private[graft] def applyTo(df: DataFrame, seqCol: String): DataFrame = {
    var out = df
    gt.foreach(v => out = out.where(col(seqCol) > lit(v)))
    gte.foreach(v => out = out.where(col(seqCol) >= lit(v)))
    lt.foreach(v => out = out.where(col(seqCol) < lit(v)))
    lte.foreach(v => out = out.where(col(seqCol) <= lit(v)))
    if (!live) out = if (reverse) out.orderBy(col(seqCol).desc) else out.orderBy(col(seqCol))
    limit.foreach(n => out = out.limit(n))
    if (!values) out.select(col(seqCol))
    else if (!seqs) out.drop(seqCol)
    else out
  }
}

object LogRange {
  val all: LogRange = LogRange()
  def after(seq: Long): LogRange = LogRange(gt = Some(seq))
}

/** An append-only, totally-ordered log — the single source of truth.
  *
  * Spark-native restatement of the flumelog contract
  * (`/root/reference/README.md:181-211`): `get/stream/since/append`. The
  * record is a flat row `(seq: Long, <payload columns>)` rather than a
  * nested `{seq, value}` pair so that Catalyst can prune/push down into
  * the payload columns directly.
  *
  * `since` is the consistency cursor: -1 = empty, else the max seq
  * absorbed (`/root/reference/README.md:197-201`).
  */
trait FlumeLog {
  def spark: SparkSession

  /** Name of the seq column (always LongType, unique, monotonic). */
  def seqCol: String = "seq"

  /** Max seq in the log, or -1 if empty. Monotonically non-decreasing. */
  def since: Long

  /** The full log as an ordered DataFrame (seq + payload columns).
    * Implementations must guarantee the frame is lazily planned — a scan,
    * not a materialization. */
  def read: DataFrame

  /** Append a batch of payload rows; seqs are assigned contiguously in the
    * batch's row order. Returns the new `since` (seq of the last row), per
    * the reference contract that `since` is updated before the append
    * callback fires (`/root/reference/README.md:203-206`). */
  def append(payload: DataFrame): Long

  /** [[append]], reporting the batch it wrote (see [[FlumeLog.Appended]]).
    * This default keeps nothing: the db reads the batch back. */
  private[core] def appendBatch(payload: DataFrame): FlumeLog.Appended = {
    val after = since
    FlumeLog.Appended(after, append(payload), rewrites, None, () => ())
  }

  /** How many rewrites that remove rows (retract, expire) have started
    * on this log. A batch kept by [[appendBatch]] is stale once this has
    * moved past its `rewrites`: the rewrite may have removed some of its
    * rows. A log that keeps no batch need not count them. */
  private[core] def rewrites: Long = 0L

  /** Point lookup by seq. Pushed down to storage (parquet row-group
    * min/max skipping) rather than scanned. */
  def get(seq: Long): DataFrame =
    read.where(col(seqCol) === lit(seq))

  /** Ordered range scan (`/root/reference/index.js:124-130`); with
    * `live = true`, an unbounded stream with the same bounds and
    * projection flags. `limit` on a live stream caps the TOTAL records
    * emitted across micro-batches (Spark's streaming global limit), the
    * same semantics as a leveldb-style live stream that hangs up after N
    * records; `reverse` has no meaning on an unbounded stream (the
    * reference's live streams also emit in forward seq order once live —
    * `/root/reference/README.md:133`) and throws rather than silently
    * returning forward order. */
  def stream(r: LogRange = LogRange.all): DataFrame = {
    if (r.live) {
      if (r.reverse) throw new UnsupportedOperationException(
        "reverse is undefined on a live (unbounded) stream; use a batch scan for top-k by seq")
      // a lower bound becomes the stream's START OFFSET (a seek, like the
      // reference's `stream({gt, live: true})`) — the filters below stay
      // as defense in depth and for upper bounds
      val startGt: Long = (r.gt ++ r.gte.map(_ - 1)).reduceOption(_ max _).getOrElse(-1L)
      r.applyTo(if (startGt > -1L) readStreamFrom(startGt) else readStream, seqCol)
    }
    else r.applyTo(read, seqCol)
  }

  def close(): Unit = ()

  // ---- retraction (takedown) ---------------------------------------------

  /** Corpus RETRACTION (takedown): physically remove every row matching
    * `cond` from storage, returning the number removed — the one
    * mutation an append-only pretraining log genuinely needs (a
    * rights-holder takedown or GDPR erasure must actually delete the
    * bytes, not tombstone them). Contract shared by every writable
    * backend: surviving rows keep their seqs (readers tolerate holes;
    * re-stamping would corrupt every artifact keyed by seq), the cursor
    * NEVER regresses (retracting the tail retires those seqs forever),
    * NULL `cond` rows are KEPT (a predicate that cannot identify a row
    * must not delete it), and retracting absent rows is an idempotent
    * no-op. Read-only codec backends ([[TableLog]]) have no storage to
    * rewrite and throw. */
  def retract(cond: Column): Long =
    retractMarked(df => df.withColumn(ParquetLog.hitCol, coalesce(cond, lit(false))))

  /** Takedown by ID LIST — the batch form for rights-holder requests of
    * 10⁵–10⁶ ids, where rendering the list into an `isin` literal would
    * build a million-node `In` expression. The ids stay a DataFrame end
    * to end: matches are marked by a join against the distinct id set —
    * broadcast under a count fence, shuffle fallback — so the plan is
    * one join regardless of list size. Same contract as [[retract]]. */
  def retractIds(ids: DataFrame, idCol: String,
      maxBroadcastKeys: Long = 4L * 1000 * 1000): Long =
    retractMarked(ParquetLog.hitMarker(ids, idCol, maxBroadcastKeys))

  /** Backend retraction kernel: rows marked `true` in
    * [[ParquetLog.hitCol]] by `mark` leave storage. */
  protected def retractMarked(mark: DataFrame => DataFrame): Long =
    throw new UnsupportedOperationException(
      s"${getClass.getSimpleName} is read-only — no storage to retract")

  /** The log frame a takedown's AUXILIARY scans should read (seq
    * collection, removed-rows capture for reduce inversion): backends
    * with a prunable layout override to skip storage units that
    * provably hold none of `ids` — so the db orchestration's side scans
    * prune like the rewrite itself. Default: the full read. */
  def readForTakedownIds(ids: DataFrame, idCol: String): DataFrame = read

  /** Predicate twin of [[readForTakedownIds]]: `read.where(cond)` with
    * provably-unmatched storage units skipped. */
  def readWherePruned(cond: Column): DataFrame = read.where(cond)

  /** Probe the backend's rewrite quiescence fence WITHOUT mutating
    * anything: throws exactly when [[retract]]/[[expire]] would refuse
    * to start (a live tail in flight). Default no-op for backends with
    * no fence. Lets durable orchestration
    * ([[FlumeDb.retract(cond:org\.apache\.spark\.sql\.Column,intentFile:String)*]])
    * verify the rewrite can begin BEFORE committing a crash-recovery
    * intent marker — a fence refusal after the marker exists would
    * latch an open intent for an operation that mutated nothing. */
  def probeRewriteFence(op: String = "rewrite"): Unit = ()

  /** RETENTION (age-out): physically remove every row with
    * `seq <= throughSeq` — the other deletion a 100 TB corpus log needs
    * besides the takedown: data past its retention window must leave
    * storage on schedule, and at scale that must cost ∝ the expired
    * data, not the corpus. Same contract as [[retract]] (surviving seqs
    * unchanged, cursor never regresses — expiring the tail retires its
    * seqs forever, idempotent, read-only backends throw); `removed` is
    * returned. Default = the retraction kernel with a seq-prefix
    * predicate (a full-rewrite on the simple stores — correct, and
    * proportional to what those stores can do); the bucketed
    * [[ParquetLog]] overrides with pure directory truncation: NO scan,
    * NO rewrite except the one boundary bucket. */
  def expire(throughSeq: Long): Long =
    if (throughSeq < 0) 0L
    else retract(col(seqCol) <= lit(throughSeq))

  /** EVENT-TIME retention horizon: the largest seq `h` such that no row
    * with `seq <= h` has `tsColName > through` — users write retention
    * policies in time ("older than 90 days"), but [[expire]]'s contract
    * is a seq PREFIX (whole-directory truncation on the bucketed
    * store), so the policy must first be translated into the longest
    * prefix it provably covers. Exactly
    * `min(seq where ts > through) - 1` (or `since` when no row is
    * newer): rows older than the horizon that sit ABOVE a newer row's
    * seq are conservatively kept — out-of-order event times cannot be
    * prefix-truncated, and at 100 TB ingest order tracks event time
    * closely enough that the residue is the boundary neighborhood, not
    * the corpus. Rows with NULL `tsColName` never extend the horizon
    * (min ignores them): a row whose age is unknowable ages out with
    * its seq neighborhood rather than pinning the prefix forever.
    * `through` is compared with the column's own type (epoch long, or a
    * lexicographically-ordered string such as an ISO date). Default:
    * one narrow (ts, seq) scan; [[ParquetLog]] overrides with manifest
    * arithmetic that reads no data except at most the boundary buckets.
    * Returns -1 when nothing is provably expirable. */
  def horizonOlderThan(tsColName: String, through: Any): Long = {
    if (since < 0) return -1L
    val first = read.where(col(tsColName) > lit(through))
      .agg(coalesce(min(col(seqCol)), lit(Long.MaxValue))).head().getLong(0)
    if (first == Long.MaxValue) since else first - 1L
  }

  /** EVENT-TIME retention: [[expire]] at the [[horizonOlderThan]]
    * horizon — "delete everything older than `through`" as the seq
    * prefix it provably covers. Same contract as [[expire]]. */
  def expireOlderThan(tsColName: String, through: Any): Long =
    expire(horizonOlderThan(tsColName, through))

  // ---- since observable -------------------------------------------------
  // The reference's `log.since` is an obz observable surfaced directly as
  // `db.since` (`/root/reference/index.js:142`, `README.md:135-140`):
  // subscribing emits the current value immediately and again on every
  // change, and returns an unsubscribe thunk. Restated here as a plain
  // callback list on the driver-side control plane (cursor changes are
  // driver events; no data-plane cost).
  private[this] val sinceListeners =
    new java.util.concurrent.CopyOnWriteArrayList[Long => Unit]()
  @volatile private[this] var lastEmitted: Long = Long.MinValue

  /** Subscribe to cursor changes: `fn` fires now with the current `since`
    * and after every committed append. Returns an unsubscribe thunk. */
  def onSince(fn: Long => Unit): () => Unit = {
    sinceListeners.add(fn)
    fn(since)
    () => { sinceListeners.remove(fn); () }
  }

  /** Implementations call this after a committed append advances `since`.
    * De-dupes on value (obz emits on change), so calling it defensively
    * after a zero-row append is safe. */
  protected final def emitSince(): Unit = {
    val v = since
    if (v != lastEmitted) {
      lastEmitted = v
      val it = sinceListeners.iterator()
      while (it.hasNext) it.next()(v)
    }
  }

  /** Extra methods a log implementation exports, surfaced on the db —
    * the log-method passthrough (`/root/reference/index.js:270-283`). */
  def methods: Map[String, Seq[Any] => Any] = Map.empty

  /** The log as an unbounded stream — flume's `stream({live: true})`
    * (`/root/reference/README.md:133`): emits existing entries, then new
    * appends as they land. No default: [[MemoryLog]] uses the seq-offset
    * micro-batch source (record-granular offsets; its planner collects
    * the delta, which is only sane for a driver-resident log) and
    * [[ParquetLog]] the file streaming source. A log without a
    * partition-planned source must throw rather than inherit a planner
    * that would materialize the table on the driver — at 100 TB that is
    * a cluster-killer, not a fallback.
    *
    * ORDERING CONTRACT (r17, the curator-takedown flake's true root
    * cause): consumers that track a seq high-water mark across
    * micro-batches (every curator) REQUIRE the seq-offset source —
    * its batches are exact seq intervals in order. The file-granular
    * fallback can SPLIT one append across batches out of seq order
    * when the tail polls during the append's commit (files rename into
    * place one at a time), and an HWM consumer then skips the
    * earlier-seq batch as a replay: permanent silent record loss. */
  def readStream: DataFrame =
    throw new UnsupportedOperationException(
      s"${getClass.getSimpleName} has no streaming source; use ParquetLog (file source) " +
        "or MemoryLog (seq-offset source) for live tailing")

  /** Live tail starting AFTER seq `gt` — the seek form of
    * `stream({gt, live: true})`. Default falls back to the full stream
    * (callers layer a filter); seq-offset sources override to skip the
    * prefix at the source. */
  def readStreamFrom(gt: Long): DataFrame = readStream
}

object FlumeLog {
  /** One append: the log's `since` before (`after`) and after it, the
    * log's [[FlumeLog.rewrites]] when the append began, and, when the log
    * keeps it, `batch`: the rows `(after, since]` in seq order with the
    * schema of the log's read, as the db's views would read them back
    * had no rewrite run since. They stay readable until `release()`,
    * which the appender calls once every reader is done. */
  private[core] final case class Appended(after: Long, since: Long, rewrites: Long,
      batch: Option[DataFrame], release: () => Unit)
}

/** Read-only log view over an existing ordered table (e.g. the driver's
  * `events.parquet`, whose `event_id` is already a unique monotonic seq).
  * The cheapest way to treat pre-existing data as a flume log: zero copy,
  * full predicate/column pushdown to the parquet scan. */
final class TableLog(
    override val spark: SparkSession,
    table: => DataFrame,
    override val seqCol: String) extends FlumeLog {

  override def read: DataFrame = table

  // Cursor resolved lazily from the data; cached because the table is
  // immutable by construction.
  private lazy val cursor: Long =
    table.agg(coalesce(max(col(seqCol)), lit(-1L)).cast(LongType)).head().getLong(0)

  override def since: Long = cursor

  override def append(payload: DataFrame): Long =
    throw new UnsupportedOperationException("TableLog is read-only")
}

object TableLog {
  /** Open a parquet table as a read-only log. */
  def parquet(spark: SparkSession, path: String, seqCol: String): TableLog =
    new TableLog(spark, spark.read.parquet(path), seqCol)

  /** Open a CSV table as a read-only log (the flumelog family is
    * codec-pluggable — `/root/reference/README.md:84-87`; here the codec
    * is a Spark reader). Schema required: inference is a second full
    * scan, which at 100 TB is not a default anyone wants. */
  def csv(spark: SparkSession, path: String, seqCol: String,
      schema: StructType, header: Boolean = true): TableLog =
    new TableLog(spark, spark.read.schema(schema)
      .option("header", header.toString).csv(path), seqCol)

  /** Open a JSON-lines table as a read-only log (schema required, as
    * [[csv]]). */
  def json(spark: SparkSession, path: String, seqCol: String, schema: StructType): TableLog =
    new TableLog(spark, spark.read.schema(schema).json(path), seqCol)

  /** Open an ORC table as a read-only log — the other columnar codec
    * Spark ships natively; same pushdown/pruning machinery as parquet
    * (predicate pushdown via ORC row-group stats). */
  def orc(spark: SparkSession, path: String, seqCol: String): TableLog =
    new TableLog(spark, spark.read.orc(path), seqCol)
}

/** Durable log over a parquet directory — the analog of flumelog-offset
  * ("a log in a file — recommended", `/root/reference/README.md:85`), but
  * columnar and splittable so a cluster can scan it in parallel.
  *
  * Seq assignment is the one thing Spark does not give us for free
  * (`monotonically_increasing_id` is non-contiguous): a driver-held cursor
  * plus `zipWithIndex` yields dense, contiguous, batch-atomic seqs. Single
  * writer by contract, matching the reference's single-writer ingestion
  * model — readers scale out, appends funnel through one cursor.
  */
final class ParquetLog(
    override val spark: SparkSession,
    val dir: String,
    payloadSchema: StructType,
    bucketSize: Long = 0L,
    statsColumns: Seq[String] = Nil) extends FlumeLog {

  private val fullSchema = StructType(StructField(seqCol, LongType, nullable = false) +: payloadSchema.fields)

  // ---- per-bucket min/max stats for takedown-key columns ----------------
  // Declared takedown keys (`statsColumns` — doc_id, media_id, user_id,
  // url/uuid/sha256 strings, epoch-long event times) get a tiny
  // per-bucket [min, max] manifest beside the cursor marker, maintained
  // at append. A predicate or id-list takedown then SKIPS
  // non-overlapping buckets in its match scan the way seq pruning
  // already skips them for retention — without it the (narrow) match
  // scan is always ∝ corpus — and [[horizonOlderThan]] derives an
  // event-time retention horizon from the same entries with no data
  // read. Conservative by construction: the manifest is widened BEFORE
  // the batch lands (a crash between leaves ranges too wide, never too
  // narrow), rewrites only shrink true ranges, and buckets with no
  // entry are always scanned. Two domains ([[graftbridge.StatsRange]]):
  // integral and string (binary-UTF-8 order, matching Spark's own
  // string comparisons); timestamps are declared as epoch longs —
  // lossless and unit-explicit, where a floored timestamp cast could
  // narrow a true range and silently skip matching rows.
  import org.apache.spark.sql.graftbridge.{LongStats, StatsRange, StringStats}
  private def isStringStatsCol(c: String): Boolean =
    payloadSchema.fields.find(_.name == c).exists(_.dataType == org.apache.spark.sql.types.StringType)
  statsColumns.foreach { c =>
    val f = payloadSchema.fields.find(_.name == c).getOrElse(
      throw new IllegalArgumentException(s"stats column '$c' is not a payload column"))
    require(f.dataType == LongType || f.dataType == org.apache.spark.sql.types.IntegerType ||
        f.dataType == org.apache.spark.sql.types.ShortType ||
        f.dataType == org.apache.spark.sql.types.StringType,
      s"stats column '$c' must be integral or string, got ${f.dataType} " +
        "(declare event times as epoch longs: a floored timestamp cast could " +
        "narrow the range and silently skip matching rows)")
  }
  private val statsFile = new java.io.File(dir, ParquetLog.statsMarker)
  // String tokens carry a '=' marker prefix so they are NEVER empty:
  // enc("") alone would serialize `b c S  hi`, which the whitespace-
  // collapsing split parses as the 4-token legacy integral form and
  // drops — the bucket would silently lose pruning for a legal column
  // value. '=' cannot come from URLEncoder (it escapes '=' as %3D), so
  // a leading '=' unambiguously marks the new form; bare tokens from
  // pre-marker manifests still decode.
  private def enc(s: String): String =
    "=" + java.net.URLEncoder.encode(s, java.nio.charset.StandardCharsets.UTF_8)
  private def dec(s: String): String =
    java.net.URLDecoder.decode(
      if (s.startsWith("=")) s.substring(1) else s,
      java.nio.charset.StandardCharsets.UTF_8)
  private val bucketStats: scala.collection.mutable.Map[(Long, String), StatsRange] = {
    val m = scala.collection.mutable.Map.empty[(Long, String), StatsRange]
    if (statsFile.exists())
      java.nio.file.Files.readAllLines(statsFile.toPath).forEach { line =>
        // `bucket col L lo hi` / `bucket col S enc(lo) enc(hi)`; the
        // 4-token form is the pre-string legacy (integral). A torn or
        // unparseable line drops its entry: unprunable, safe.
        try line.trim.split("\\s+") match {
          case Array(b, c, "L", lo, hi) => m((b.toLong, c)) = LongStats(lo.toLong, hi.toLong)
          case Array(b, c, "S", lo, hi) => m((b.toLong, c)) = StringStats(dec(lo), dec(hi))
          case Array(b, c, lo, hi) => m((b.toLong, c)) = LongStats(lo.toLong, hi.toLong)
          case _ => ()
        } catch { case _: NumberFormatException | _: IllegalArgumentException => () }
      }
    m
  }
  private def writeBucketStats(): Unit = {
    new java.io.File(dir).mkdirs()
    val body = bucketStats.toSeq.sortBy(e => (e._1._1, e._1._2))
      .map {
        case ((b, c), LongStats(lo, hi)) => s"$b $c L $lo $hi"
        case ((b, c), StringStats(lo, hi)) => s"$b $c S ${enc(lo)} ${enc(hi)}"
      }.mkString("\n")
    ParquetLog.writeAtomic(statsFile, body)
  }

  /** Bucket ids present on disk (directory names — no data read). */
  private def listBucketIds(): Seq[Long] =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.startsWith(s"$bucketCol="))
      .map(_.getName.stripPrefix(s"$bucketCol=").toLong).toSeq.sorted

  /** Candidate buckets for a PREDICATE takedown: every existing bucket
    * the stats cannot prove hit-free. The seq column's range is implied
    * by the directory name (the freebie seq pruning already used by
    * retention); declared stats columns read the manifest; buckets with
    * no entry are always candidates. None = pruning unavailable. */
  private def candidatesForPredicate(cond: Column): Option[Seq[Long]] = {
    if (!bucketed) return None
    val ids = listBucketIds()
    if (ids.isEmpty) return None
    Some(ids.filter { b =>
      val lookup: String => Option[StatsRange] = c =>
        if (c == seqCol) Some(LongStats(b * bucketSize, (b + 1) * bucketSize - 1))
        else bucketStats.get((b, c))
      !org.apache.spark.sql.graftbridge.ColumnBridge.statsProveEmpty(cond, lookup)
    })
  }

  /** Candidate buckets for an ID-LIST takedown. When the id column IS
    * the seq (the durable replay and drain paths rewrite by seq list),
    * the candidate set is EXACT: the ids' distinct `seq div bucketSize`
    * values — a driver list bounded by the bucket count, never by the
    * id count — so a scattered seq list rewrites only its own buckets
    * (an envelope would keep everything between its extremes). For a
    * declared stats column the test is the id list's [min, max]
    * envelope (one tiny agg — exact per-id intersection would cost an
    * ids × buckets range join) against each bucket's manifest range,
    * integral or string ([[StatsRange.cmpToRange]]). A clustered
    * rights-holder list prunes to its neighborhood; a scattered one
    * keeps every bucket, which is correct. */
  private def candidatesForIds(ids: DataFrame, idCol: String): Option[Seq[Long]] = {
    if (!bucketed) return None
    val seqBased = idCol == seqCol
    if (!seqBased && !statsColumns.contains(idCol)) return None
    val existing = listBucketIds()
    if (existing.isEmpty) return None
    if (seqBased) {
      val present = ids.selectExpr(s"cast(`$idCol` as long) div $bucketSize as b")
        .where(col("b").isNotNull)
        .distinct().collect().map(_.getLong(0)).toSet
      return Some(existing.filter(present.contains))
    }
    val isStr = isStringStatsCol(idCol)
    val env =
      if (isStr) ids.agg(min(col(idCol)).cast("string"), max(col(idCol)).cast("string")).head()
      else ids.agg(min(col(idCol)).cast("long"), max(col(idCol)).cast("long")).head()
    if (env.isNullAt(0)) return Some(Nil) // empty id list matches nothing
    val pair: (Any, Any) =
      if (isStr) (env.getString(0), env.getString(1)) else (env.getLong(0), env.getLong(1))
    val (lo, hi) = pair
    Some(existing.filter { b =>
      bucketStats.get((b, idCol)) match {
        // overlap iff cmp(lo, bucketHi) <= 0 and cmp(hi, bucketLo) >= 0
        case Some(r) =>
          (r.cmpToRange(lo), r.cmpToRange(hi)) match {
            case (Some((_, loVsHi)), Some((hiVsLo, _))) => loVsHi <= 0 && hiVsLo >= 0
            case _ => true // type mismatch: unknowable, keep the bucket
          }
        case None => true // no stats: always a candidate
      }
    })
  }

  override def readForTakedownIds(ids: DataFrame, idCol: String): DataFrame =
    candidatesForIds(ids, idCol) match {
      case Some(cands) => readBuckets(cands)
      case None => read
    }

  override def readWherePruned(cond: Column): DataFrame =
    candidatesForPredicate(cond) match {
      case Some(cands) => readBuckets(cands).where(cond)
      case None => read.where(cond)
    }

  /** Set by [[retract]]/[[retractIds]] for the duration of the rewrite,
    * consumed by [[retractMarked]]'s match scan (same monitor — the
    * rewrite paths are synchronized and reentrant). */
  private var pruneHint: Option[Seq[Long]] = None

  override def retract(cond: Column): Long = synchronized {
    pruneHint = candidatesForPredicate(cond)
    try super.retract(cond) finally pruneHint = None
  }

  override def retractIds(ids: DataFrame, idCol: String,
      maxBroadcastKeys: Long = 4L * 1000 * 1000): Long = synchronized {
    pruneHint = candidatesForIds(ids, idCol)
    try super.retractIds(ids, idCol, maxBroadcastKeys) finally pruneHint = None
  }

  /** When bucketSize > 0 the log is laid out as
    * `seq_bucket=<seq/bucketSize>/part-*.parquet` and range scans add a
    * bucket predicate, so `stream(gt, lte)` prunes whole directories at
    * planning time (PartitionFilters) — at 100 TB that is the difference
    * between listing a handful of partitions and scanning the log. */
  private val bucketed = bucketSize > 0
  private val bucketCol = "seq_bucket"

  private def diskSchema: StructType =
    if (bucketed) StructType(fullSchema.fields :+ StructField(bucketCol, LongType, nullable = false))
    else fullSchema

  private def containsParquet(f: java.io.File): Boolean = {
    val fs = f.listFiles()
    fs != null && fs.exists(c =>
      c.getName.endsWith(".parquet") || (c.isDirectory && containsParquet(c)))
  }

  private def hasData: Boolean = {
    val d = new java.io.File(dir)
    d.exists() && containsParquet(d)
  }

  private def deleteTree(f: java.io.File): Unit = {
    val fs = f.listFiles(); if (fs != null) fs.foreach(deleteTree); f.delete()
  }

  /** Crash recovery for [[compact]]'s directory swap. A JVM death between
    * the swap's two renames leaves the data only in `<dir>.precompact`
    * (and the rewritten copy in `<dir>.compacting`); without recovery a
    * reopen would see an empty root and report an empty log, and the next
    * compact() would delete both leftovers — destroying the log. Rules:
    * root has data → the side dirs are stale leftovers, deleted only when
    * `cleanStale` (compact entry); root empty but `.precompact` has data
    * → the crash hit between the renames, restore the original; else
    * `.compacting` has a *complete* rewrite (parquet `_SUCCESS` marker)
    * and root is empty → adopt it. Construction passes
    * `cleanStale = false` so a read-only open of a HEALTHY log never
    * mutates the directory; the restore paths only fire on a root with no
    * data, a state a crashed compact leaves behind (the single-writer
    * contract extends to compaction: no other process may be mid-compact
    * while this one opens the log). */
  private def recoverCompactLeftovers(cleanStale: Boolean): Unit = {
    val root = new java.io.File(dir)
    val tmp = new java.io.File(dir + ".compacting")
    val old = new java.io.File(dir + ".precompact")
    def nonEmpty(f: java.io.File): Boolean = f.exists() && containsParquet(f)
    if (hasData) { if (cleanStale) { deleteTree(tmp); deleteTree(old) } }
    else if (nonEmpty(old)) {
      if (root.exists()) deleteTree(root)
      if (!old.renameTo(root)) throw new java.io.IOException(s"compact recovery: cannot restore $old to $root")
      deleteTree(tmp)
    } else if (nonEmpty(tmp) && new java.io.File(tmp, "_SUCCESS").exists()) {
      if (root.exists()) deleteTree(root)
      if (!tmp.renameTo(root)) throw new java.io.IOException(s"compact recovery: cannot adopt $tmp as $root")
      deleteTree(old)
    }
  }

  /** Crash recovery for [[retract]]'s PER-BUCKET swap. The marker is the
    * commit point for the ONE in-flight bucket: it names the bucket
    * directory and whether the filter emptied it. Rules — marker with an
    * `EMPTY` outcome → delete the bucket dir (idempotent); marker plus a
    * COMPLETE tmp (`_SUCCESS`) → delete the bucket dir, adopt the tmp;
    * marker without a complete tmp, or a tmp with no marker → an
    * UNCOMMITTED rewrite, dropped (the bucket's original files are
    * untouched, the old state is intact). Buckets the takedown never
    * reached keep their rows — the FAMILY intent replay
    * ([[graft.views.Retraction.recover]]) re-runs the whole takedown
    * idempotently to finish them; a bare `retract` call (no intent file)
    * must therefore be treated as best-effort-complete after a crash. */
  private def recoverRetractLeftovers(): Unit = {
    val root = new java.io.File(dir)
    val marker = new java.io.File(root, ParquetLog.retractMarker)
    val tmp = new java.io.File(root, ParquetLog.retractTmp)
    if (marker.exists()) {
      val txt =
        try java.nio.file.Files.readString(marker.toPath).trim
        catch { case _: java.io.IOException => "" }
      txt.split(" ") match {
        case arr if arr.headOption.contains("MULTI") =>
          // the committed multi-bucket plan (atomic write — never torn):
          // replay the tombstone deletes and the remaining tmp swaps
          def ids(prefix: String): Seq[Long] = arr.toSeq
            .collectFirst { case t if t.startsWith(prefix) => t.stripPrefix(prefix) }
            .map(_.split(",").filter(_.nonEmpty).map(_.toLong).toSeq).getOrElse(Nil)
          applyRetractPlan(ids("rw="), ids("empty="))
        case Array(unit, "EMPTY") if unit.startsWith(bucketCol + "=") =>
          deleteTree(new java.io.File(root, unit))
        case Array(unit) if unit.startsWith(bucketCol + "=") &&
            new java.io.File(tmp, "_SUCCESS").exists() =>
          val u = new java.io.File(root, unit)
          deleteTree(u)
          if (!tmp.renameTo(u))
            throw new java.io.IOException(s"retract recovery: cannot adopt $tmp as $u")
        case _ => () // torn/uncommitted: original bucket state intact
      }
      marker.delete()
    }
    deleteTree(tmp)
  }

  recoverCompactLeftovers(cleanStale = false)
  recoverRetractLeftovers()

  @volatile private var cursor: Long = {
    // Seqs are monotone with the bucket directory (bucket = seq /
    // bucketSize), so on a bucketed layout the data HWM provably lives
    // in the HIGHEST bucket that still holds rows — recover the cursor
    // from that one directory instead of a corpus-wide max (r19: log
    // reopen was a full-log scan; at 100 TB that is the difference
    // between touching one bucket and touching the corpus). Walk
    // buckets from the top: a rewrite can leave an upper bucket
    // physically empty, in which case the next one down holds the HWM.
    //
    // A retraction that removed the tail rows leaves the true HWM in
    // the cursor marker — seqs of retracted rows must never be reused.
    // Read it FIRST: the walk stops at the first bucket whose whole seq
    // range lies at or below the marker (nothing in it can raise the
    // HWM), so a tail takedown that emptied upper buckets reopens
    // without a scan job per emptied bucket.
    val marker = new java.io.File(dir, ParquetLog.cursorMarker)
    val markerMax =
      if (marker.exists())
        try java.nio.file.Files.readString(marker.toPath).trim.toLong
        catch { case _: NumberFormatException => -1L }
      else -1L
    def scanMax(path: String): Long =
      spark.read.option("basePath", dir).schema(diskSchema).parquet(path)
        .agg(coalesce(max(col(seqCol)), lit(-1L))).head().getLong(0)
    val dataMax =
      if (!hasData) -1L
      else if (!bucketed) scanMax(dir)
      else {
        val ids = listBucketIds().sorted.reverse
        ids.iterator.takeWhile(b => (b + 1) * bucketSize - 1 > markerMax)
          .map(b => scanMax(s"$dir/$bucketCol=$b"))
          .find(_ >= 0L).getOrElse(-1L)
      }
    math.max(dataMax, markerMax)
  }

  override def since: Long = cursor

  /** Raw frame including the internal bucket column (bucketed layout). */
  private def readRaw: DataFrame = {
    if (cursor < 0) spark.createDataFrame(spark.sparkContext.emptyRDD[Row], diskSchema)
    else spark.read.option("basePath", dir).schema(diskSchema).parquet(dir)
  }

  override def read: DataFrame =
    if (bucketed) readRaw.drop(bucketCol) else readRaw

  /** Batch range scans on a bucketed log add directory-pruning
    * predicates on the partition column derived from the seq bounds (a
    * live range seeks through the streaming source instead). */
  override def stream(r: LogRange): DataFrame = {
    if (!bucketed || r.live) super.stream(r)
    else {
      var df = readRaw
      val lower: Option[Long] = (r.gt.map(_ + 1) ++ r.gte).reduceOption(_ max _)
      val upper: Option[Long] = (r.lt.map(_ - 1) ++ r.lte).reduceOption(_ min _)
      lower.foreach(v => df = df.where(col(bucketCol) >= v / bucketSize))
      upper.foreach(v => df = df.where(col(bucketCol) <= v / bucketSize))
      r.applyTo(df.drop(bucketCol), seqCol)
    }
  }

  /** Bucket size when the log is range-bucketed, for the streaming
    * source's plan-time directory pruning. */
  private[graft] def bucketSizeOpt: Option[Long] = if (bucketed) Some(bucketSize) else None

  /** Point-SET pruned read: scan only the given `seq_bucket` directories
    * (planning-time partition pruning — the scan's PartitionFilters carry
    * the isin, so non-candidate buckets are never listed or opened).
    * This is the verify-side read of the incremental embedding dedup:
    * candidate seqs come from the stored signature table, their distinct
    * buckets are a batch-scoped set, and the corpus-sized log is read
    * ∝ candidates instead of ∝ corpus. On an unbucketed log this
    * degrades to the full read (no layout to prune). */
  def readBuckets(buckets: Seq[Long]): DataFrame =
    if (!bucketed) read
    else if (buckets.isEmpty) read.limit(0)
    else readRaw.where(col(bucketCol).isin(buckets: _*)).drop(bucketCol)

  /** Record-granular live tail: the seq-offset DSv2 source. Offsets ARE
    * seqs — each micro-batch is exactly the (start, end] interval of the
    * log, planned as partitioned parquet readers per overlapping file
    * (bucket-directory pruning on a bucketed layout, footer min/max
    * skipping otherwise; no driver collect — see
    * [[graft.streaming.ParquetLogMicroBatchStream]]). This is the
    * reference build loop's `{gt: upto, live: true}` at record precision
    * on the durable log. The slice readers decode through Spark's own
    * parquet machinery (vectorized ColumnarBatch for whole files, the
    * ParquetReadSupport row materializer for boundary slices), so EVERY
    * payload schema the log can store rides THIS ordered source — there
    * is no file-granular fallback tail anymore. (The r15→r17 curator
    * flake was exactly that fallback: the file streaming source's
    * file-granular batches can split one append OUT of seq order under a
    * racing poll, and an HWM-guarded consumer then reads the earlier
    * half as a replay — permanent silent record loss. Deleting the path
    * closes the loss mode by construction.) Schema evolution matches the
    * batch read: a column added after old files were written null-fills
    * when the tail crosses them. */
  override def readStream: DataFrame = readStreamFrom(-1L)

  override def readStreamFrom(gt: Long): DataFrame = {
    val d = new java.io.File(dir)
    if (!d.exists()) d.mkdirs()
    // no compaction fence: this source plans by seq intervals against
    // the directory's current files (listing is atomic with compact's
    // swap via the log monitor, and readers re-resolve their interval
    // if a planned file was rewritten), so a live tail and compact()
    // coexist — every seq is still delivered exactly once
    val id = graft.streaming.LogStreamRegistry.register(this)
    spark.readStream.format("graft.streaming.LogStreamProvider")
      .option("logId", id).option("startSeq", gt.toString).load()
  }

  override def append(payload: DataFrame): Long = {
    val a = appendBatch(payload)
    a.release()
    a.since
  }

  /** The append itself, handing back the stamped batch as the shared
    * delta of a db sync (see [[FlumeLog.Appended]]).
    *
    * Contiguous seq assignment with no shuffle and no join: locally
    * checkpoint the payload rows (partition order pins the batch's row
    * order), pull ONE tiny count per partition to the driver, and stamp
    * each partition's seqs from a driver-held offset map via
    * mapPartitionsWithIndex. The count pass, the stats pass, the write
    * and every view that takes the delta read the same checkpointed
    * blocks, so the payload is evaluated once. A lost block fails its
    * reader rather than re-evaluating the payload, so a non-deterministic
    * payload can never disagree with the seqs already counted; a view
    * that fails that way replays from the log. The cost is staging the
    * batch in cache: for an ingest batch too big to stage, append in
    * bounded slices. */
  override private[core] def appendBatch(payload: DataFrame): FlumeLog.Appended = synchronized {
    val base = cursor
    val rewritesAt = rewrites
    require(payload.schema.fieldNames.toSet == payloadSchema.fieldNames.toSet,
      s"append payload columns ${payload.schema.fieldNames.mkString(",")} " +
        s"must match the log schema ${payloadSchema.fieldNames.mkString(",")}")
    val aligned = payload.select(payloadSchema.fieldNames.toSeq.map(n => col(s"`$n`")): _*)
    val rows = aligned.rdd.localCheckpoint()
    val release = () => org.apache.spark.sql.graftbridge.StorageBridge.release(rows)
    try {
      val counts = rows
        .mapPartitionsWithIndex((pid, it) => {
          var n = 0L; while (it.hasNext) { it.next(); n += 1 }; Iterator((pid, n))
        }, preservesPartitioning = true)
        .collect().sortBy(_._1)
      val n = counts.map(_._2).sum
      val batch = if (n == 0) None else {
        var acc = 0L
        val offsets = counts.map { case (pid, cnt) => val o = (pid, acc); acc += cnt; o }.toMap
        val stamped = rows.mapPartitionsWithIndex { (pid, it) =>
          var s = base + 1L + offsets(pid)
          it.map { r => val out = Row.fromSeq(s +: r.toSeq); s += 1; out }
        }
        val withSeq = spark.createDataFrame(stamped, fullSchema)
        val delta = readOrdered(stamped, rows)
        // widen the bucket-stats manifest BEFORE the rows land: a crash
        // between the two leaves ranges too wide (safe), never too
        // narrow (which would prune a bucket holding matching rows)
        if (bucketed && statsColumns.nonEmpty) {
          // a bucket already on disk WITHOUT a manifest entry holds rows
          // appended before stats were enabled (or before this column
          // was declared) — creating an entry from this batch alone
          // would claim coverage it doesn't have and a takedown would
          // silently skip the legacy rows. Such buckets stay entry-less
          // (= always scanned) forever; only brand-new buckets and
          // already-covered buckets get entries.
          val preExisting = listBucketIds().toSet
          val batchBuckets = scala.collection.mutable.Set.empty[Long]
          val aggCols = statsColumns.flatMap { c =>
            val cast = if (isStringStatsCol(c)) "string" else "long"
            Seq(min(col(s"`$c`")).cast(cast).as(s"min_$c"),
              max(col(s"`$c`")).cast(cast).as(s"max_$c"))
          }
          // over the delta: a batch under the advisory partition size is
          // one declared partition, so this aggregates in one job with no
          // exchange (a bigger one keeps the exchange, as over withSeq)
          delta.withColumn(bucketCol, expr(s"`$seqCol` div $bucketSize"))
            .groupBy(col(bucketCol)).agg(aggCols.head, aggCols.tail: _*)
            .collect().foreach { r =>
              val b = r.getLong(0)
              batchBuckets += b
              statsColumns.zipWithIndex.foreach { case (c, i) =>
                if (!r.isNullAt(1 + 2 * i)) { // all-null batch: no range to extend
                  val batchRange: StatsRange =
                    if (isStringStatsCol(c)) StringStats(r.getString(1 + 2 * i), r.getString(2 + 2 * i))
                    else LongStats(r.getLong(1 + 2 * i), r.getLong(2 + 2 * i))
                  bucketStats.get((b, c)) match {
                    case Some(prev) =>
                      ParquetLog.widen(prev, batchRange) match {
                        case Some(w) => bucketStats((b, c)) = w
                        // domain flip (payload schema redeclared across
                        // reopens): the old range cannot cover the new
                        // rows — drop the entry, bucket stays scanned
                        case None => bucketStats.remove((b, c))
                      }
                    case None if !preExisting.contains(b) =>
                      bucketStats((b, c)) = batchRange
                    case None => () // legacy uncovered bucket: stays unprunable
                  }
                }
              }
            }
          // entries for buckets that expire/retract tombstoned would
          // otherwise accumulate forever (correctness holds — candidates
          // intersect with existing dirs — but every append rewrites the
          // whole manifest): retain only live + this batch's buckets
          val live = preExisting ++ batchBuckets
          bucketStats.filterInPlace { case ((b, _), _) => live.contains(b) }
          writeBucketStats()
        }
        if (bucketed)
          withSeq.withColumn(bucketCol, expr(s"`$seqCol` div $bucketSize"))
            .write.partitionBy(bucketCol).mode("append").parquet(dir)
        else withSeq.write.mode("append").parquet(dir)
        cursor = base + n
        emitSince()
        Some(delta)
      }
      FlumeLog.Appended(base, cursor, rewritesAt, batch, release)
    } catch { case e: Throwable => release(); throw e }
  }

  /** The stamped batch as [[read]] returns it: the read's schema (every
    * field nullable), rows in seq order. A batch whose cached `rows` are
    * under `spark.sql.adaptive.advisoryPartitionSizeInBytes` is one
    * declared partition, so an aggregate over it plans no exchange and a
    * view writes it as one file, as it writes the sorted read-back of
    * such a batch. A bigger batch keeps the payload's partitions, which
    * are already in seq order. */
  private def readOrdered(stamped: org.apache.spark.rdd.RDD[Row],
      rows: org.apache.spark.rdd.RDD[_]): DataFrame = {
    val advisory = spark.sessionState.conf.getConf(
      org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    val df = spark.createDataFrame(stamped,
      org.apache.spark.sql.graftbridge.StorageBridge.asRead(fullSchema))
    if (org.apache.spark.sql.graftbridge.StorageBridge.cachedBytes(rows) < advisory) df.coalesce(1)
    else df
  }

  /** Convenience: append payload rows built on the driver. */
  def appendRows(rows: Seq[Row]): Long =
    append(spark.createDataFrame(spark.sparkContext.parallelize(rows, math.max(1, math.min(rows.size, 4))),
      StructType(fullSchema.fields.drop(1))))

  /** Rewrite the log's storage into right-sized files — the maintenance
    * job for the "tiny appends → small files" failure mode. Contents and
    * the cursor are unchanged; on a bucketed log the layout stays
    * `seq_bucket=N/` with one file per bucket-task. Runs under the
    * single-writer lock; readers planned BEFORE the swap must be re-read
    * (same contract as any table rewrite — at cluster scale this is a
    * per-bucket rewrite with an atomic manifest flip).
    *
    * Coexists with the live tail ([[readStream]]): the seq-offset source
    * plans each micro-batch by seq interval under this same monitor and
    * its readers re-resolve a rewritten file's interval, so every seq is
    * delivered exactly once across the rewrite. */
  def compact(targetFileBytes: Long = 128L * 1024 * 1024): Unit = synchronized {
    if (cursor < 0) return
    val root = new java.io.File(dir)
    val tmp = new java.io.File(dir + ".compacting")
    val old = new java.io.File(dir + ".precompact")
    recoverCompactLeftovers(cleanStale = true)
    recoverRetractLeftovers()
    def bytesUnder(f: java.io.File): Long = {
      val fs = f.listFiles()
      if (fs == null) 0L else fs.map(c => if (c.isDirectory) bytesUnder(c) else c.length()).sum
    }
    val nFiles = math.max(1L, (bytesUnder(root) + targetFileBytes - 1) / targetFileBytes).toInt
    if (bucketed)
      readRaw.repartition(col(bucketCol))
        .write.partitionBy(bucketCol).parquet(tmp.getPath)
    else
      readRaw.coalesce(nFiles).write.parquet(tmp.getPath)
    // a post-retraction cursor marker must survive the rewrite (the
    // retracted tail seqs stay retired forever)
    if (new java.io.File(root, ParquetLog.cursorMarker).exists())
      java.nio.file.Files.writeString(
        new java.io.File(tmp, ParquetLog.cursorMarker).toPath, cursor.toString)
    if (!root.renameTo(old)) throw new java.io.IOException(s"compact: cannot move $root aside")
    if (!tmp.renameTo(root)) { old.renameTo(root); throw new java.io.IOException(s"compact: cannot swap in $tmp") }
    deleteTree(old)
  }

  /** Corpus RETRACTION (takedown): physically remove every row matching
    * `cond` from storage, returning the number removed. The one mutation
    * an append-only pretraining log genuinely needs — a rights-holder
    * takedown or GDPR erasure must actually delete the bytes, not
    * tombstone them. Seqs of surviving rows are UNCHANGED (retraction
    * leaves holes in the seq space — readers already tolerate gaps, and
    * re-stamping would corrupt every downstream artifact keyed by seq),
    * and the cursor NEVER regresses — retracting the tail retires those
    * seqs forever (a durable marker survives reopen and compaction), so
    * the next append cannot re-stamp them under view cursors that have
    * already passed.
    *
    * On the BUCKETED layout the rewrite is PRUNED to the matched
    * partitions: one narrow match scan (only `cond`'s columns plus the
    * directory-derived bucket column are read) yields per-bucket
    * hit/total counts; partially-matched `seq_bucket=N/` directories
    * are then rewritten in ONE job (the pruned read touches only their
    * dirs; `partitionBy` routes each bucket-local task's rows back to
    * its own dir under a staging tree — no shuffle, no per-bucket job
    * latency), fully-emptied buckets are tombstone-deleted, and an
    * atomic marker naming every unit is the COMMIT POINT: a death
    * before it leaves the original buckets intact (staging is
    * uncommitted garbage, the family intent replay re-runs the
    * takedown); after it, [[recoverRetractLeftovers]] replays the
    * swap/delete plan idempotently at open. Untouched bucket
    * directories keep their files byte-for-byte: at 100 TB a
    * single-document takedown rewrites one bucket, not the corpus. The
    * unbucketed layout has no partitions to prune and keeps
    * [[compact]]'s full-rewrite swap.
    *
    * CONCURRENCY: retraction requires QUIESCENT streams on this log.
    * The record-granular DSv2 tail ([[readStream]]) is fenced at batch
    * granularity — a planned-but-uncommitted micro-batch makes retract
    * throw, because the swap could invalidate that batch's planned file
    * readers mid-read. Callers retract at parity boundaries (the
    * curator's `awaitParity`), where no batch is in flight. NULL `cond`
    * rows are KEPT (a predicate that cannot identify a row must not
    * delete it). Idempotent: retracting already-absent rows rewrites
    * nothing. */
  /** Quiescence fence shared by the storage rewrites ([[retract]],
    * [[expire]]): a live tail's planned-but-uncommitted micro-batch
    * would have its planned readers invalidated by the swap. */
  private def fenceRewrite(op: String): Unit = {
    if (!inflightTailBatches.isEmpty)
      throw new IllegalStateException(
        s"$op: a record-granular live tail on $dir has a planned-but-uncommitted " +
          "micro-batch; the rewrite would invalidate its planned readers. Retract at " +
          "a parity boundary (awaitParity / processAllAvailable) instead.")
  }

  override def probeRewriteFence(op: String): Unit = fenceRewrite(op)

  @volatile private var rewriteCount = 0L
  override private[core] def rewrites: Long = rewriteCount

  override protected def retractMarked(mark: DataFrame => DataFrame): Long = synchronized {
    val hitC = col(ParquetLog.hitCol)
    fenceRewrite("retract")
    rewriteCount += 1
    if (cursor < 0) return 0L
    recoverCompactLeftovers(cleanStale = true)
    recoverRetractLeftovers()
    val root = new java.io.File(dir)
    if (!bucketed) {
      // no partition layout to prune: compact()'s full-rewrite swap
      val removed = mark(readRaw).where(hitC).count()
      if (removed == 0L) return 0L
      val tmp = new java.io.File(dir + ".compacting")
      val old = new java.io.File(dir + ".precompact")
      mark(readRaw).where(!hitC)
        .select(diskSchema.fieldNames.toSeq.map(n => col(s"`$n`")): _*)
        .write.parquet(tmp.getPath)
      // the cursor NEVER regresses: seqs are append-monotone and
      // retraction leaves holes — including at the tail. Re-deriving the
      // cursor from max(remaining seq) would re-stamp retracted tail
      // seqs on the next append, and every downstream artifact gated by
      // a seq cursor (view HWMs, curator marks) would silently skip the
      // reused interval. The pre-retract HWM rides the swap in a
      // `_`-prefixed marker (invisible to parquet file listing), so a
      // REOPEN restores it too.
      java.nio.file.Files.writeString(
        new java.io.File(tmp, ParquetLog.cursorMarker).toPath, cursor.toString)
      if (!root.renameTo(old)) throw new java.io.IOException(s"retract: cannot move $root aside")
      if (!tmp.renameTo(root)) { old.renameTo(root); throw new java.io.IOException(s"retract: cannot swap in $tmp") }
      deleteTree(old)
      return removed
    }
    // PRUNED match scan: per-bucket (hits, total) — columnar, reads only
    // the marker's columns and the directory-derived partition column.
    // With bucket stats ([[candidatesForPredicate]]/[[candidatesForIds]])
    // the scan reads ONLY the candidate bucket dirs — skipped buckets
    // are PROVEN hit-free by their [min,max] ranges; without stats the
    // scan is corpus-wide but narrow. The REWRITE below is ∝ matched
    // buckets either way.
    val scanSrc = pruneHint match {
      case Some(cands) =>
        if (cands.isEmpty) return 0L
        val dirs = cands.map(b => new java.io.File(root, s"$bucketCol=$b"))
          .filter(_.exists()).map(_.getPath)
        if (dirs.isEmpty) return 0L
        spark.read.schema(fullSchema).parquet(dirs: _*)
          .withColumn(bucketCol, expr(s"`$seqCol` div $bucketSize"))
      case None => readRaw
    }
    val stats = mark(scanSrc)
      .groupBy(col(bucketCol))
      .agg(sum(when(hitC, lit(1L)).otherwise(lit(0L))).as("hits"),
        count(lit(1)).as("total"))
      .where(col("hits") > 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    if (stats.isEmpty) return 0L
    // the HWM is made durable BEFORE any bucket is touched — atomic
    // write, idempotent, survives reopen and compaction
    ParquetLog.writeAtomic(new java.io.File(root, ParquetLog.cursorMarker), cursor.toString)
    val marker = new java.io.File(root, ParquetLog.retractMarker)
    val tmp = new java.io.File(root, ParquetLog.retractTmp)
    deleteTree(tmp)
    // fully-emptied buckets are tombstone-DELETED (an empty parquet
    // write could not carry a readable schema); partially-matched
    // buckets rewrite in ONE job: the pruned read touches only their
    // directories, and partitionBy routes each task's rows back to its
    // own bucket dir under the tmp tree with NO shuffle (input tasks
    // are bucket-local, so file counts are preserved). One job for any
    // number of matched buckets — never per-bucket job latency, never
    // a corpus-wide rewrite.
    val empties = stats.collect { case (b, h, tot) if h == tot => b }
    val rewrites = stats.collect { case (b, h, tot) if h < tot => b }
    if (rewrites.nonEmpty) {
      // read the matched bucket dirs DIRECTLY (leaf reads — no second
      // listing of the whole partition tree, which at many thousands of
      // buckets costs more than the rewrite itself) and re-derive the
      // partition column from the seq, exactly as append stamps it
      val dirs = rewrites.map(b => new java.io.File(root, s"$bucketCol=$b").getPath)
      mark(spark.read.schema(fullSchema).parquet(dirs: _*))
        .where(!hitC)
        .select(fullSchema.fieldNames.toSeq.map(n => col(s"`$n`")): _*)
        .withColumn(bucketCol, expr(s"`$seqCol` div $bucketSize"))
        .write.partitionBy(bucketCol).parquet(tmp.getPath)
    }
    // COMMIT POINT: the atomic marker names every unit; written only
    // after the rewrite job completed, so the marker implies a complete
    // tmp tree. A death before it leaves the original buckets intact
    // (tmp is uncommitted garbage); after it, recovery replays the
    // swap/delete list idempotently.
    ParquetLog.writeAtomic(marker,
      s"MULTI rw=${rewrites.mkString(",")} empty=${empties.mkString(",")}")
    applyRetractPlan(rewrites, empties)
    marker.delete()
    deleteTree(tmp)
    stats.map(_._2).sum
  }

  /** Execute (or re-execute, from recovery) a committed retraction
    * plan: delete tombstoned buckets, swap each rewritten bucket's tmp
    * dir into place. Idempotent — a bucket whose tmp dir is gone was
    * already swapped. */
  private def applyRetractPlan(rewrites: Seq[Long], empties: Seq[Long]): Unit = {
    val root = new java.io.File(dir)
    val tmp = new java.io.File(root, ParquetLog.retractTmp)
    empties.foreach(b => deleteTree(new java.io.File(root, s"$bucketCol=$b")))
    rewrites.foreach { b =>
      val src = new java.io.File(tmp, s"$bucketCol=$b")
      if (src.exists()) {
        val unit = new java.io.File(root, s"$bucketCol=$b")
        deleteTree(unit)
        if (!src.renameTo(unit))
          throw new java.io.IOException(s"retract: cannot swap $src into $unit")
      }
    }
  }

  /** RETENTION on the bucketed layout: pure directory TRUNCATION.
    * Whether a `seq_bucket=N/` directory is wholly inside the expired
    * prefix is ARITHMETIC on its name (bucket N spans
    * `[N·bucketSize, (N+1)·bucketSize)`), so — unlike [[retract]], whose
    * predicate forces one narrow corpus-wide match scan — expiry reads
    * NO data at all for the dropped buckets (their exact row count comes
    * from parquet footer metadata) and rewrites at most ONE directory:
    * the boundary bucket containing `throughSeq`, filtered through the
    * same staged-tmp → atomic-plan-marker → swap protocol as the
    * takedown ([[recoverRetractLeftovers]] replays it at open). At
    * 100 TB a daily retention pass costs ∝ the day that ages out, not
    * the corpus. Cursor and fencing contracts are [[retract]]'s:
    * the HWM marker is durable before any bucket is touched (expiring
    * the tail retires its seqs forever), live tails fence the rewrite.
    * The unbucketed layout has no directories to truncate and uses the
    * default full-rewrite kernel. */
  override def expire(throughSeq: Long): Long = synchronized {
    if (!bucketed) return super.expire(throughSeq)
    fenceRewrite("expire")
    rewriteCount += 1
    if (cursor < 0 || throughSeq < 0) return 0L
    recoverCompactLeftovers(cleanStale = true)
    recoverRetractLeftovers()
    val root = new java.io.File(dir)
    val buckets = Option(root.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.startsWith(bucketCol + "="))
      .map(_.getName.stripPrefix(bucketCol + "=").toLong).sorted.toSeq
    def bucketDir(b: Long) = new java.io.File(root, s"$bucketCol=$b").getPath
    // bucket N is wholly expired iff its max possible seq ≤ throughSeq
    val whole = buckets.filter(b => (b + 1) * bucketSize - 1 <= throughSeq)
    val boundary = buckets.filter(b =>
      b * bucketSize <= throughSeq && (b + 1) * bucketSize - 1 > throughSeq)
    if (whole.isEmpty && boundary.isEmpty) return 0L
    // exact removed counts: footer metadata only for whole buckets; the
    // boundary bucket (at most one by arithmetic) pays one seq-column
    // scan of just its own directory to split hits from survivors —
    // holes left by earlier retractions mean its name alone cannot say
    val wholeCount =
      if (whole.isEmpty) 0L
      else spark.read.schema(fullSchema).parquet(whole.map(bucketDir): _*).count()
    val boundaryStats = boundary.map { b =>
      // coalesce: sum over a zero-row (hand-emptied) bucket dir is NULL
      val r = spark.read.schema(fullSchema).parquet(bucketDir(b))
        .agg(coalesce(sum(when(col(seqCol) <= throughSeq, lit(1L)).otherwise(lit(0L))), lit(0L)),
          count(lit(1))).head()
      (b, r.getLong(0), r.getLong(1))
    }
    val removed = wholeCount + boundaryStats.map(_._2).sum
    if (removed == 0L) return 0L
    // the HWM outlives the data it counted — durable before any delete
    ParquetLog.writeAtomic(new java.io.File(root, ParquetLog.cursorMarker), cursor.toString)
    val marker = new java.io.File(root, ParquetLog.retractMarker)
    val tmp = new java.io.File(root, ParquetLog.retractTmp)
    deleteTree(tmp)
    val empties = whole ++ boundaryStats.collect { case (b, h, t) if h == t => b }
    val rewrites = boundaryStats.collect { case (b, h, t) if h > 0 && h < t => b }
    if (rewrites.nonEmpty) {
      // leaf read of the one boundary dir; survivors keep their bucket
      // (partitionBy re-derives it from the seq, exactly as append does)
      spark.read.schema(fullSchema).parquet(rewrites.map(bucketDir): _*)
        .where(col(seqCol) > throughSeq)
        .select(fullSchema.fieldNames.toSeq.map(n => col(s"`$n`")): _*)
        .withColumn(bucketCol, expr(s"`$seqCol` div $bucketSize"))
        .write.partitionBy(bucketCol).parquet(tmp.getPath)
    }
    ParquetLog.writeAtomic(marker,
      s"MULTI rw=${rewrites.mkString(",")} empty=${empties.mkString(",")}")
    applyRetractPlan(rewrites, empties)
    marker.delete()
    deleteTree(tmp)
    removed
  }

  /** EVENT-TIME retention horizon from the stats manifest: with the ts
    * column declared in `statsColumns`, walk buckets in seq order —
    * a bucket whose manifest `max(ts) <= through` is provably whole-old
    * (pure arithmetic, NO data read); the first bucket that cannot be
    * proven (manifest wide, legacy entry-less, or genuinely boundary)
    * pays ONE single-bucket (ts, seq) scan, which either finds the
    * first newer row (the exact horizon — stop) or lets the walk
    * continue past a merely-wide manifest range. At 100 TB a daily
    * `expireOlderThan` resolves its horizon from the manifest alone
    * plus at most a few boundary-bucket scans — never a corpus scan.
    * The result is EXACTLY the base contract's
    * `min(seq where ts > through) - 1`: the walk stops at the first
    * bucket containing a newer row, which by seq order contains the
    * global minimum. An undeclared ts column falls back to the base's
    * single narrow corpus scan (parquet row-group stats still skip). */
  override def horizonOlderThan(tsColName: String, through: Any): Long = {
    if (!bucketed || cursor < 0 || !statsColumns.contains(tsColName))
      return super.horizonOlderThan(tsColName, through)
    var horizon = -1L
    listBucketIds().foreach { b =>
      val provablyOld = bucketStats.get((b, tsColName)).exists { r =>
        r.cmpToRange(through) match {
          case Some((_, cmpHi)) => cmpHi >= 0 // through >= bucket's max ts
          case None => false // type mismatch: unknowable
        }
      }
      if (provablyOld) horizon = math.min((b + 1) * bucketSize - 1, cursor)
      else {
        val first = spark.read.schema(fullSchema)
          .parquet(new java.io.File(dir, s"$bucketCol=$b").getPath)
          .where(col(tsColName) > lit(through))
          .agg(coalesce(min(col(seqCol)), lit(Long.MaxValue))).head().getLong(0)
        if (first != Long.MaxValue) return first - 1L
        horizon = math.min((b + 1) * bucketSize - 1, cursor)
      }
    }
    horizon
  }

  /** Stream ids of record-granular DSv2 tails with a
    * planned-but-uncommitted micro-batch on this log — [[retract]]'s
    * quiescence fence. Marked by
    * [[graft.streaming.ParquetLogMicroBatchStream]] at plan time,
    * cleared at batch commit and stream stop. */
  private[graft] val inflightTailBatches =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  override def methods: Map[String, Seq[Any] => Any] =
    Map("compact" -> (args => { compact(args.headOption.map(_.toString.toLong)
      .getOrElse(128L * 1024 * 1024)); cursor }))
}

object ParquetLog {
  /** Cursor high-water-mark marker written by [[ParquetLog.retract]]
    * when rows are removed — `_`-prefixed so Spark's parquet file
    * listing ignores it. */
  private[core] val cursorMarker = "_graft_cursor"

  /** Per-bucket retraction rewrite protocol files, `_`-prefixed so
    * parquet file listing ignores them: the staged rewrite of the ONE
    * in-flight bucket and its commit marker. */
  private[core] val retractTmp = "_graft_retract_tmp"
  private[core] val retractMarker = "_graft_retract_marker"
  /** Per-bucket [min,max] manifest for declared takedown-key columns
    * (`_`-prefixed: invisible to parquet file listing). */
  private[core] val statsMarker = "_graft_stats"

  /** Internal match-marker column added by the retraction paths. */
  private[graft] val hitCol = "__graft_hit"

  /** The union of two manifest ranges for the same (bucket, column) —
    * stats only ever widen at append. None on a domain flip (the
    * payload schema was redeclared across reopens): the old range
    * cannot cover the new rows, so the entry must drop (unprunable). */
  private[core] def widen(a: org.apache.spark.sql.graftbridge.StatsRange,
      b: org.apache.spark.sql.graftbridge.StatsRange): Option[org.apache.spark.sql.graftbridge.StatsRange] = {
    import org.apache.spark.sql.graftbridge.{LongStats, StringStats}
    import org.apache.spark.unsafe.types.UTF8String
    (a, b) match {
      case (LongStats(l0, h0), LongStats(l1, h1)) =>
        Some(LongStats(math.min(l0, l1), math.max(h0, h1)))
      case (StringStats(l0, h0), StringStats(l1, h1)) =>
        def lt(x: String, y: String): Boolean =
          UTF8String.fromString(x).compareTo(UTF8String.fromString(y)) < 0
        Some(StringStats(if (lt(l1, l0)) l1 else l0, if (lt(h0, h1)) h1 else h0))
      case _ => None
    }
  }

  /** Mark rows whose `idCol` appears in `ids` — the join-based takedown
    * predicate shared by [[ParquetLog.retractIds]] and the view-side
    * `retractIds`: a left join against the DISTINCT id set, broadcast
    * under a count fence with a shuffle fallback, instead of an
    * `isin` literal whose `In` expression grows with the list. */
  private[graft] def hitMarker(ids: org.apache.spark.sql.DataFrame, idCol: String,
      maxBroadcastKeys: Long): org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame = {
    val keys = ids.select(col(idCol)).distinct()
    val marked = (if (Fence.broadcastable(keys, maxBroadcastKeys)) broadcast(keys) else keys)
      .withColumn(hitCol, lit(true))
    df => df.join(marked, Seq(idCol), "left")
      .withColumn(hitCol, coalesce(col(hitCol), lit(false)))
  }

  /** All-or-nothing small-file write (write-then-atomic-rename): a torn
    * marker must never be readable as a valid commit. */
  private[core] def writeAtomic(f: java.io.File, content: String): Unit = {
    val tmp = new java.io.File(f.getPath + ".w")
    java.nio.file.Files.writeString(tmp.toPath, content)
    java.nio.file.Files.move(tmp.toPath, f.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Directories with a FILE-GRANULAR live tail planned THIS JVM —
    * sticky for the process lifetime, because the file streaming source
    * tracks processed files by name (a rewrite's files would be
    * re-delivered as duplicates, even to a query started from another
    * log instance on the same dir). Only [[JsonLinesLog.readStream]]
    * marks here now (the parquet log's tail is the rewrite-safe
    * seq-offset source). Keyed by canonical path so a second instance
    * cannot sidestep the guard; cross-process tails are outside the
    * guard and covered by the single-writer contract. */
  private val liveTailDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def canonical(dir: String): String =
    try new java.io.File(dir).getCanonicalPath catch { case _: java.io.IOException => dir }
  private[core] def markLiveTail(dir: String): Unit = liveTailDirs.add(canonical(dir))
  private[core] def liveTailStarted(dir: String): Boolean = liveTailDirs.contains(canonical(dir))
}

/** Durable log over JSON-lines files — the third appendable backend,
  * playing the role flumelog-level plays in the reference ecosystem
  * (`/root/reference/README.md:87`, `test/level.js`): the SAME
  * `get/stream/since/append` contract over a different store and codec,
  * proven by running the shared [[FlumeLogContract]] suite against it.
  * It is also the `flumecodec` JSON story (`README.md:103`,
  * `test/offset.js:9`): records serialized as human-readable JSON text
  * rather than columnar pages.
  *
  * Trade-offs vs [[ParquetLog]] (kept deliberately, as the reference
  * keeps level vs offset): no column pruning, no row-group statistics,
  * so range scans filter rather than skip — fine for modest logs and
  * debugging, wrong for 100 TB. The parquet log remains the recommended
  * production log, exactly as the reference recommends flumelog-offset
  * over flumelog-level (`README.md:85`). Seq assignment reuses the same
  * driver-cursor + per-partition-offset stamping as ParquetLog (no
  * shuffle, no join); appends are batch-atomic via the directory commit.
  */
final class JsonLinesLog(
    override val spark: SparkSession,
    val dir: String,
    payloadSchema: StructType) extends FlumeLog {

  private val fullSchema = StructType(StructField(seqCol, LongType, nullable = false) +: payloadSchema.fields)

  private def hasData: Boolean = {
    val fs = new java.io.File(dir).listFiles()
    fs != null && fs.exists(f => f.getName.endsWith(".json") || f.getName.endsWith(".txt"))
  }

  private def deleteTree(f: java.io.File): Unit = {
    val fs = f.listFiles(); if (fs != null) fs.foreach(deleteTree); f.delete()
  }

  /** Crash recovery for [[retractMarked]]'s directory swap — the same
    * three-state rule as the parquet backend's compact recovery: root
    * has data → side dirs are stale; root empty but `.preretract` has
    * data → restore the original (death between the renames);
    * `.retracting` complete (`_SUCCESS`) and root empty → adopt it. */
  private def recoverSwapLeftovers(cleanStale: Boolean): Unit = {
    val root = new java.io.File(dir)
    val tmp = new java.io.File(dir + ".retracting")
    val old = new java.io.File(dir + ".preretract")
    def jsonUnder(f: java.io.File): Boolean = {
      val fs = f.listFiles()
      fs != null && fs.exists(_.getName.endsWith(".json"))
    }
    if (hasData) { if (cleanStale) { deleteTree(tmp); deleteTree(old) } }
    else if (jsonUnder(old)) {
      if (root.exists()) deleteTree(root)
      if (!old.renameTo(root)) throw new java.io.IOException(s"retract recovery: cannot restore $old")
      deleteTree(tmp)
    } else if (jsonUnder(tmp) && new java.io.File(tmp, "_SUCCESS").exists()) {
      if (root.exists()) deleteTree(root)
      if (!tmp.renameTo(root)) throw new java.io.IOException(s"retract recovery: cannot adopt $tmp")
      deleteTree(old)
    }
  }

  recoverSwapLeftovers(cleanStale = false)

  @volatile private var cursor: Long = {
    val dataMax =
      if (hasData)
        spark.read.schema(fullSchema).json(dir)
          .agg(coalesce(max(col(seqCol)), lit(-1L))).head().getLong(0)
      else -1L
    // tail retraction retires seqs forever: the true HWM survives in
    // the `_`-prefixed marker (hidden from the json file listing)
    val marker = new java.io.File(dir, ParquetLog.cursorMarker)
    val markerMax =
      if (marker.exists())
        try java.nio.file.Files.readString(marker.toPath).trim.toLong
        catch { case _: NumberFormatException => -1L }
      else -1L
    math.max(dataMax, markerMax)
  }

  override def since: Long = cursor

  /** JSON-lines retraction: the full-rewrite swap (this backend has no
    * partition layout to prune — it is the convenience store, not the
    * scale path; see the class doc). Same crash protocol as the parquet
    * compact swap: write keep rows + the cursor marker into
    * `.retracting`, two renames, recovery at open restores old or
    * adopts new — never a partial state. */
  override def probeRewriteFence(op: String): Unit =
    if (ParquetLog.liveTailStarted(dir))
      throw new IllegalStateException(
        s"$op: a live tail (readStream) was started on $dir; the file streaming " +
          "source tracks processed files by name, so the rewrite would re-deliver " +
          "every kept row as a duplicate. Stop the stream first.")

  override protected def retractMarked(mark: DataFrame => DataFrame): Long = synchronized {
    probeRewriteFence("retract")
    if (cursor < 0) return 0L
    recoverSwapLeftovers(cleanStale = true)
    val hitC = col(ParquetLog.hitCol)
    val removed = mark(read).where(hitC).count()
    if (removed == 0L) return 0L
    val root = new java.io.File(dir)
    val tmp = new java.io.File(dir + ".retracting")
    val old = new java.io.File(dir + ".preretract")
    mark(read).where(!hitC)
      .select(fullSchema.fieldNames.toSeq.map(n => col(s"`$n`")): _*)
      .write.json(tmp.getPath)
    java.nio.file.Files.writeString(
      new java.io.File(tmp, ParquetLog.cursorMarker).toPath, cursor.toString)
    if (!root.renameTo(old)) throw new java.io.IOException(s"retract: cannot move $root aside")
    if (!tmp.renameTo(root)) { old.renameTo(root); throw new java.io.IOException(s"retract: cannot swap in $tmp") }
    deleteTree(old)
    removed
  }

  override def read: DataFrame =
    if (cursor < 0) spark.createDataFrame(spark.sparkContext.emptyRDD[Row], fullSchema)
    else spark.read.schema(fullSchema).json(dir)

  /** Live tail via the file streaming source (file-granular offsets —
    * this backend is not the scale path; see class doc). Marks the dir
    * so [[retractMarked]] refuses to swap files out from under the
    * file-name-tracking stream (same fence as the parquet backend's
    * file-granular tail). */
  override def readStream: DataFrame = {
    val d = new java.io.File(dir)
    if (!d.exists()) d.mkdirs()
    ParquetLog.markLiveTail(dir)
    spark.readStream.schema(fullSchema).json(dir)
  }

  override def append(payload: DataFrame): Long = synchronized {
    val base = cursor
    require(payload.schema.fieldNames.toSet == payloadSchema.fieldNames.toSet,
      s"append payload columns ${payload.schema.fieldNames.mkString(",")} " +
        s"must match the log schema ${payloadSchema.fieldNames.mkString(",")}")
    val aligned = payload.select(payloadSchema.fieldNames.toSeq.map(n => col(s"`$n`")): _*)
    val rows = aligned.rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val counts = rows
        .mapPartitionsWithIndex((pid, it) => {
          var n = 0L; while (it.hasNext) { it.next(); n += 1 }; Iterator((pid, n))
        }, preservesPartitioning = true)
        .collect().sortBy(_._1)
      val n = counts.map(_._2).sum
      if (n > 0) {
        var acc = 0L
        val offsets = counts.map { case (pid, cnt) => val o = (pid, acc); acc += cnt; o }.toMap
        val stamped = rows.mapPartitionsWithIndex { (pid, it) =>
          var s = base + 1L + offsets(pid)
          it.map { r => val out = Row.fromSeq(s +: r.toSeq); s += 1; out }
        }
        spark.createDataFrame(stamped, fullSchema).write.mode("append").json(dir)
        cursor = base + n
        emitSince()
      }
      cursor
    } finally rows.unpersist(blocking = false)
  }

  def appendRows(rows: Seq[Row]): Long =
    append(spark.createDataFrame(spark.sparkContext.parallelize(rows, math.max(1, math.min(rows.size, 4))),
      StructType(fullSchema.fields.drop(1))))
}

/** In-memory log, the analog of flumelog-memory
  * (`/root/reference/README.md:86`) — for tests and small interactive use.
  * Thread-safe single-writer appends; reads snapshot the buffer. */
class MemoryLog(
    override val spark: SparkSession,
    payloadSchema: StructType) extends FlumeLog {

  private val fullSchema = StructType(StructField(seqCol, LongType, nullable = false) +: payloadSchema.fields)
  private val buf = scala.collection.mutable.ArrayBuffer.empty[Row]

  /** Seq-offset micro-batch source: offsets are seq-granular and each
    * micro-batch is planned from the driver-resident buffer — exactly the
    * right shape for an in-memory log (and only for one). */
  override def readStream: DataFrame = readStreamFrom(-1L)

  override def readStreamFrom(gt: Long): DataFrame = {
    val id = graft.streaming.LogStreamRegistry.register(this)
    spark.readStream.format("graft.streaming.LogStreamProvider")
      .option("logId", id).option("startSeq", gt.toString).load()
  }

  // the HWM is tracked separately from the buffer: retraction removes
  // rows (holes allowed, tail included) but never regresses the cursor
  @volatile private var cursor: Long = -1L

  override def since: Long = cursor

  override def read: DataFrame = {
    val snapshot = synchronized { buf.toList }
    spark.createDataFrame(spark.sparkContext.parallelize(snapshot, math.max(1, math.min(snapshot.size, 4))), fullSchema)
  }

  override def append(payload: DataFrame): Long = {
    val rows = payload.collect()
    appendRows(rows.toIndexedSeq)
  }

  def appendRows(rows: Seq[Row]): Long = synchronized {
    rows.foreach { r => cursor += 1; buf += Row.fromSeq(cursor +: r.toSeq) }
    emitSince()
    cursor
  }

  def appendValues(values: Seq[Seq[Any]]): Long = synchronized {
    values.foreach { v => cursor += 1; buf += Row.fromSeq(cursor +: v) }
    emitSince()
    cursor
  }

  /** In-memory retraction: evaluate the marker over the stamped rows,
    * keep the misses in seq order. Seqs unchanged, cursor unchanged. */
  override protected def retractMarked(mark: DataFrame => DataFrame): Long = synchronized {
    if (buf.isEmpty) return 0L
    val hitC = col(ParquetLog.hitCol)
    // the id-join marker reorders columns (join key first): reselect the
    // stored row order before the rows re-enter the positional buffer
    val kept = mark(read).where(!hitC)
      .select(fullSchema.fieldNames.toSeq.map(n => col(s"`$n`")): _*)
      .orderBy(col(seqCol)).collect()
    val removed = buf.size - kept.length
    if (removed > 0) { buf.clear(); buf ++= kept }
    removed.toLong
  }
}
