package graft.streaming

import graft.core.FlumeLog
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/** In-JVM registry handing logs to the streaming source (local mode: the
  * driver and executors share the JVM). Every log backend tails through
  * this source — it is THE live tail, not a convenience: offsets are
  * exact seq intervals, which no file-granular source can provide. At
  * cluster scale the registry's role (resolving a table name to log
  * metadata at plan time) is played by a catalog/manifest lookup; the
  * partition/reader shapes are unchanged. */
object LogStreamRegistry {
  private val logs = TrieMap.empty[String, FlumeLog]
  private val ids = new AtomicLong()
  def register(log: FlumeLog): String = {
    val id = s"log-${ids.incrementAndGet()}"
    logs.put(id, log); id
  }
  def get(id: String): FlumeLog =
    logs.getOrElse(id, throw new NoSuchElementException(s"no registered log '$id'"))
  /** Streams unregister on stop — a long-lived session starting many
    * tails must not pin every log instance for the JVM lifetime. */
  def unregister(id: String): Unit = logs.remove(id)
}

/** Seq-granular offset: flume's `since` as a streaming offset.
  * (`/root/reference/README.md:197-201` — the log cursor IS the stream
  * position; -1 = empty.) */
case class SeqOffset(seq: Long) extends Offset {
  override def json: String = seq.toString
}

/** Micro-batch streaming source over a [[FlumeLog]] with offsets in seq
  * space — the "custom source" of the north-star approach. The reference
  * view-build loop streams `{gt: upto, live: true}`
  * (`/root/reference/index.js:39`); here each micro-batch is exactly the
  * seq interval (start, end], so restart/checkpoint recovery is
  * record-precise rather than file-granular.
  *
  * Usage: `spark.readStream.format("graft.streaming.LogStreamProvider")
  * .option("logId", LogStreamRegistry.register(log)).load()`
  */
class LogStreamProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val log = LogStreamRegistry.get(options.get("logId"))
    log.read.schema
  }
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new LogStreamTable(schema, properties.get("logId"),
      Option(properties.get("startSeq")).map(_.toLong).getOrElse(-1L))
}

class LogStreamTable(schema: StructType, logId: String, startSeq: Long = -1L)
    extends Table with SupportsRead {
  override def name(): String = s"graft-log-$logId"
  override def schema(): StructType = schema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns {
      // column pruning is LOAD-BEARING for media logs: without it every
      // control query on the tail (the curator's max(seq) fence, seq
      // traces) decodes each row's full binary content — the parquet
      // projection below skips those pages entirely
      private var required: StructType = schema
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = required
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          LogStreamRegistry.get(logId) match {
            case p: graft.core.ParquetLog =>
              new ParquetLogMicroBatchStream(logId, p, schema, startSeq, required)
            case _ => new LogMicroBatchStream(logId, schema, startSeq, required)
          }
        override def toBatch: Batch = new LogBatch(logId, schema, None, None, required)
      }
    }
}

/** Plans each micro-batch as the (start, end] seq slice of the log,
  * split into `parallelism` contiguous sub-ranges. Rows are serialized to
  * UnsafeRow at plan time (local-mode logs are driver-resident; partition
  * payloads stay small because a batch is only the delta). */
class LogMicroBatchStream(logId: String, schema: StructType, startSeq: Long = -1L,
    required: StructType = null)
    extends MicroBatchStream {
  private def log = LogStreamRegistry.get(logId)
  private def out: StructType = if (required == null) schema else required

  override def latestOffset(): Offset = SeqOffset(log.since)
  /** A live tail from `{gt: N}` starts AT N — a seek, not a scan+filter
    * (`/root/reference/index.js:39`); only consulted when the query has
    * no checkpoint yet. */
  override def initialOffset(): Offset = SeqOffset(startSeq)
  override def deserializeOffset(json: String): Offset = SeqOffset(json.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = LogStreamRegistry.unregister(logId)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    LogBatch.plan(log, out,
      Some(start.asInstanceOf[SeqOffset].seq), Some(end.asInstanceOf[SeqOffset].seq))

  override def createReaderFactory(): PartitionReaderFactory = new LogPartitionReaderFactory
}

/** Batch-mode scan of the same table (so the source is usable with
  * `spark.read` too). */
class LogBatch(logId: String, schema: StructType, gt: Option[Long], lte: Option[Long],
    required: StructType = null) extends Batch {
  override def planInputPartitions(): Array[InputPartition] =
    LogBatch.plan(LogStreamRegistry.get(logId),
      if (required == null) schema else required, gt, lte)
  override def createReaderFactory(): PartitionReaderFactory = new LogPartitionReaderFactory
}

object LogBatch {
  def plan(log: FlumeLog, out: StructType, gt: Option[Long], lte: Option[Long]): Array[InputPartition] = {
    import org.apache.spark.sql.functions.col
    // This planner collects the delta to the driver — correct only for a
    // log whose data is already driver-resident. Anything table-backed
    // must use a partition-planned source (ParquetLog's file source);
    // materializing a 100 TB table here would be a silent scale-killer.
    require(log.isInstanceOf[graft.core.MemoryLog],
      s"seq-offset source only plans MemoryLog deltas; ${log.getClass.getSimpleName} " +
        "must provide a partition-planned streaming source")
    var df = log.read
    gt.foreach(v => df = df.where(col(log.seqCol) > v))
    lte.foreach(v => df = df.where(col(log.seqCol) <= v))
    // pruned output: serialize only the required columns (order kept)
    val rows = df.orderBy(col(log.seqCol))
      .select(out.fieldNames.toSeq.map(n => col(s"`$n`")): _*).collect()
    if (rows.isEmpty) return Array.empty
    val ser = ExpressionEncoder(out).createSerializer()
    val internal = rows.map(r => ser(r).copy().asInstanceOf[InternalRow])
    val slices = math.min(4, internal.length)
    internal.grouped(math.max(1, math.ceil(internal.length.toDouble / slices).toInt))
      .map(g => LogInputPartition(g.toArray): InputPartition).toArray
  }
}

/** Record-granular live tail for the DURABLE log: each micro-batch is
  * the exact seq interval (start, end], planned as one reader per
  * overlapping parquet FILE — the build-loop semantics of the reference
  * (`/root/reference/index.js:39`, `stream({gt: upto, live: true})`) at
  * seq precision on the recommended production log
  * (`/root/reference/README.md:85`).
  *
  * No driver collect anywhere: planning touches only METADATA — the
  * directory listing (pruned to the seq-bucket directories intersecting
  * the batch interval on a bucketed log) and per-file footers (min/max
  * seq, cached for the stream's lifetime since log files are immutable
  * once written). Readers decode parquet directly on the executor with a
  * row-group + record filter on the seq range, so a batch reads the
  * delta's bytes and nothing else. At cluster scale the footer cache
  * becomes a manifest table; the planner shape is unchanged.
  */
class ParquetLogMicroBatchStream(
    logId: String,
    log: graft.core.ParquetLog,
    schema: StructType,
    startSeq: Long = -1L,
    required: StructType = null) extends MicroBatchStream {

  private def out: StructType = if (required == null) schema else required

  // file → (minSeq, maxSeq); log files never change once written, so a
  // footer is read at most once per stream lifetime
  private val footerBounds = TrieMap.empty[String, (Long, Long)]

  override def latestOffset(): Offset = SeqOffset(log.since)
  /** A live tail from `{gt: N}` starts AT N: the skipped prefix is never
    * listed, never footer-read, never decoded — the seek semantics of
    * the reference's `stream({gt, live: true})`. Only consulted when
    * the query has no checkpoint yet. */
  override def initialOffset(): Offset = SeqOffset(startSeq)
  override def deserializeOffset(json: String): Offset = SeqOffset(json.toLong)
  // a planned batch's readers hold planned file paths until the batch
  // commits — ParquetLog.retract's quiescence fence (it must not swap a
  // bucket out from under an in-flight batch). Cleared at commit and at
  // stream stop (a stopped query never runs its planned tasks).
  override def commit(end: Offset): Unit = log.inflightTailBatches.remove(logId)
  override def stop(): Unit = {
    log.inflightTailBatches.remove(logId)
    LogStreamRegistry.unregister(logId)
  }

  private def listParquet(f: java.io.File, lower: Long, upper: Long): Seq[java.io.File] = {
    val fs = f.listFiles()
    if (fs == null) Seq.empty
    else fs.toSeq.flatMap {
      case d if d.isDirectory =>
        val name = d.getName
        // a concurrent append's in-flight commit dir must never be
        // planned (its files are incomplete; their seqs are beyond this
        // batch's end anyway)
        if (name.startsWith("_") || name.startsWith(".")) Seq.empty
        // bucketed layout: prune whole seq_bucket=N directories that
        // cannot intersect (start, end] — plan-time partition pruning
        else if (name.startsWith("seq_bucket=") && log.bucketSizeOpt.exists(_ > 0)) {
          val b = name.stripPrefix("seq_bucket=").toLong
          val bs = log.bucketSizeOpt.get
          if (b >= lower / bs && b <= upper / bs) listParquet(d, lower, upper) else Seq.empty
        } else listParquet(d, lower, upper)
      case p if p.getName.endsWith(".parquet") &&
        !p.getName.startsWith(".") && !p.getName.startsWith("_") => Seq(p)
      case _ => Seq.empty
    }
  }

  /** Footer bounds of a LISTED log file. A visible `part-*.parquet` in
    * final position is always fully committed (every write path here is
    * committer-mediated: task files live under `_temporary/`/dot names
    * — which [[listParquet]] excludes — until an atomic rename), so an
    * unreadable footer is TRANSIENT INFRASTRUCTURE (fd pressure, a
    * checksum sidecar racing its rename), never "a file that is not
    * ours yet". The pre-r17 version returned None here and the planner
    * skipped the file for the batch — SILENT RECORD LOSS: the committed
    * offset interval advanced past the skipped file's rows forever.
    * That was the real curator-takedown flake (r15 → r17: a re-upload
    * vanishing with a clean store, an advanced cursor, and — the r17
    * discriminators — no decode forensic marker and rehash-now fine:
    * the row never entered the batch at all). Now: retry briefly, then
    * THROW — a batch must fail loudly and replan rather than silently
    * lose records; a file that stays unreadable is log corruption, not
    * something to skip. */
  private def bounds(path: String): (Long, Long) =
    footerBounds.getOrElseUpdate(path, {
      var attempt = 0
      var out: Option[(Long, Long)] = None
      var last: Throwable = null
      while (out.isEmpty && attempt < 6) {
        try out = Some(ParquetSliceReader.seqBounds(path, log.seqCol))
        catch {
          case scala.util.control.NonFatal(e) =>
            last = e; attempt += 1
            if (attempt < 6) Thread.sleep(25L * attempt)
        }
      }
      out.getOrElse(throw new java.io.IOException(
        s"seq-offset planner: footer of committed log file $path unreadable after " +
          s"$attempt attempts — failing the batch rather than silently skipping " +
          "its rows (a skipped file's seqs would fall out of the committed " +
          "offset interval forever)", last))
    })

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val gt = start.asInstanceOf[SeqOffset].seq
    val lte = end.asInstanceOf[SeqOffset].seq
    if (lte <= gt) return Array.empty
    log.inflightTailBatches.add(logId)
    // Atomic w.r.t. compact()'s directory swap: compact holds the log
    // monitor across rewrite + rename, so a listing taken under the same
    // monitor sees the pre-compact layout or the post-compact layout,
    // never the empty mid-swap gap (which would silently plan zero rows
    // for a committed offset range — data loss).
    log.synchronized {
      val parts = listParquet(new java.io.File(log.dir), gt + 1, lte)
        .map(_.getPath)
        .flatMap { p =>
          val (lo, hi) = bounds(p)
          if (hi > gt && lo <= lte) {
            // clip the batch interval to THIS file's footer range: log
            // files carry pairwise-disjoint seq ranges, so the clipped
            // intervals partition the batch — and if compaction deletes
            // the file before the task runs, the reader re-resolves
            // exactly its own share from the rewritten layout with no
            // overlap against sibling partitions
            val gtEff = if (lo == Long.MinValue || lo - 1 < gt) gt else lo - 1
            val lteEff = math.min(lte, hi)
            // fullFile: the clip excludes nothing — every row of the
            // file is in (gt, lte]. These partitions read COLUMNAR (no
            // per-record filter needed); boundary files that the batch
            // interval cuts mid-file stay on the row reader.
            val fullFile = lo != Long.MinValue && hi != Long.MaxValue &&
              lo - 1 >= gt && hi <= lte
            Some(ParquetSlicePartition(p, gtEff, lteEff, log.dir, fullFile))
          } else None
        }
        .sortBy(_.gt)
      parts.map(p => p: InputPartition).toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // decided on the DRIVER (SQLConf in scope): columnar decode needs
    // Spark's vectorized reader to support every output type, and the
    // executor-side parquet interpretation flags must match the session
    val conf = log.spark.sessionState.conf
    val vectorizable = conf.parquetVectorizedReaderEnabled &&
      org.apache.spark.sql.execution.datasources.parquet.ParquetUtils
        .isBatchReadSupportedForSchema(conf, out)
    new ParquetSliceReaderFactory(out, log.seqCol, vectorizable,
      ParquetSliceReader.captureConf(log.spark))
  }
}

/** One parquet file's slice of a micro-batch: rows with seq ∈ (gt, lte],
  * where (gt, lte] is already clipped to the file's footer seq range.
  * `dir` is the log root, carried so the reader can re-resolve its
  * interval if a compaction rewrote the layout after planning.
  * `fullFile` = the clip excludes no row of the file (the planner proved
  * it from footer stats) — such partitions decode COLUMNAR. */
case class ParquetSlicePartition(file: String, gt: Long, lte: Long, dir: String,
    fullFile: Boolean = false) extends InputPartition

class ParquetSliceReaderFactory(schema: StructType, seqCol: String,
    vectorizable: Boolean = false, confKVs: Map[String, String] = Map.empty)
    extends PartitionReaderFactory {
  /** Columnar whenever the schema is vectorizable — the decision must be
    * UNIFORM across a scan (Spark refuses mixed row/columnar partition
    * sets), so per-partition shape differences are handled INSIDE the
    * columnar reader: whole-file partitions pass batches through
    * untouched, boundary slices range-check (and copy only the straddling
    * batches). The row reader remains for the rare non-vectorizable
    * schema. */
  override def supportColumnarReads(partition: InputPartition): Boolean = vectorizable
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[ParquetSlicePartition]
    new ParquetSliceRowReader(p, schema, seqCol, confKVs)
  }
  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val p = partition.asInstanceOf[ParquetSlicePartition]
    new ParquetSliceColumnarReader(p, schema, seqCol, confKVs)
  }
}

/** Executor-side ROW decode of one file slice through Spark's own
  * parquet materializer ([[org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport]]
  * → ParquetRowConverter): a pushed seq-range filter (row groups skipped
  * by min/max stats, records dropped by the predicate before
  * materialization), a pushed COLUMN PROJECTION (`schema` is the scan's
  * REQUIRED output; the parquet requested schema is clipped to it plus
  * the seq column, so a `max(seq)` over a media log never decodes a
  * content byte), EVERY Catalyst type Spark can read from parquet (maps,
  * arrays of structs, nested anything — the same converter batch reads
  * use), and batch-read SCHEMA-EVOLUTION semantics (a requested column
  * absent from an old file null-fills instead of throwing).
  *
  * Used for the files a batch interval cuts MID-FILE (at most the first
  * and last of a batch) and for the rare non-vectorizable schema; whole
  * files decode through [[ParquetSliceColumnarReader]].
  *
  * Compaction resilience: the planned file is the fast path. If a
  * [[graft.core.ParquetLog.compact]] rewrote the log between planning
  * and execution the file is gone but its rows are not — the partition's
  * clipped (gt, lte] interval is re-resolved against the log directory's
  * CURRENT files. Planned partitions carry disjoint intervals, so the
  * fallback neither duplicates nor drops records, which is what lets a
  * live tail and compaction coexist. */
class ParquetSliceRowReader(part: ParquetSlicePartition, schema: StructType, seqCol: String,
    confKVs: Map[String, String]) extends PartitionReader[InternalRow] {
  import org.apache.parquet.filter2.compat.FilterCompat
  import org.apache.parquet.filter2.predicate.FilterApi
  import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}

  private val pred = FilterApi.and(
    FilterApi.gt(FilterApi.longColumn(seqCol), java.lang.Long.valueOf(part.gt)),
    FilterApi.ltEq(FilterApi.longColumn(seqCol), java.lang.Long.valueOf(part.lte)))

  // requested = output columns (+ seq appended LAST if pruned out: the
  // record filter and the defensive range check need it)
  private val requested = ParquetSliceReader.withSeq(schema, seqCol)
  private val seqIdx = requested.fieldIndex(seqCol)
  // The materializer's row is REUSED across read() calls; this projection
  // strips the appended seq column (output fields are a PREFIX of
  // `requested`) and copies into an UnsafeRow — the same hand-out
  // contract as Spark's own parquet row path.
  private val project = UnsafeProjection.create(
    schema.fields.zipWithIndex.map { case (f, i) =>
      BoundReference(i, f.dataType, f.nullable): org.apache.spark.sql.catalyst.expressions.Expression
    }.toIndexedSeq)

  private def open(path: String): org.apache.parquet.hadoop.ParquetReader[InternalRow] =
    ParquetSliceReader.openRowReader(path, requested, confKVs, FilterCompat.get(pred))

  private var paths: List[String] = List(part.file)
  private var fellBack = false
  private var reader: org.apache.parquet.hadoop.ParquetReader[InternalRow] = null
  private var row: InternalRow = _

  /** Open the next file, falling back to interval re-resolution exactly
    * once if the planned file vanished under a compaction. A fallback
    * file vanishing too (a second compaction mid-read) fails the task;
    * Spark's task retry re-resolves from scratch. */
  private def advanceReader(): Boolean = paths match {
    case p :: rest =>
      paths = rest
      if (reader != null) { reader.close(); reader = null }
      try { reader = open(p); true }
      catch {
        case _: java.io.FileNotFoundException if !fellBack =>
          fellBack = true
          paths = ParquetSliceReader.resolveInterval(part.dir, seqCol, part.gt, part.lte)
          advanceReader()
      }
    case Nil => false
  }

  override def next(): Boolean = {
    if (reader == null && !advanceReader()) return false
    row = reader.read()
    // parquet's record-level filter drops out-of-range rows already; the
    // loop guards against readers configured without record filtering
    while (row != null && {
      val s = row.getLong(seqIdx); s <= part.gt || s > part.lte
    }) row = reader.read()
    if (row == null) { if (advanceReader()) next() else false } else true
  }

  override def get(): InternalRow = project(row)

  override def close(): Unit = if (reader != null) reader.close()
}

/** Executor-side COLUMNAR decode through Spark's vectorized parquet
  * reader — the ingestion hot path. A partition whose file lies entirely
  * inside the batch interval (`fullFile`, proved from footer stats at
  * plan time — the overwhelmingly common live-tail case, since appends
  * commit whole files) streams its batches straight out as ColumnarBatch
  * and feeds whole-stage codegen without a row transition or a single
  * copy. A BOUNDARY slice (the batch interval cuts the file mid-way, or
  * a compaction fallback re-resolved onto merged files) reads with the
  * seq column appended and a row-group filter pushed, then range-checks
  * each batch: fully-inside batches pass through zero-copy (minus the
  * appended seq vector), straddling batches copy only their in-range
  * rows via Spark's RowToColumnConverter. One reader shape for every
  * partition keeps the scan uniformly columnar (Spark refuses mixed
  * row/columnar partition sets). */
class ParquetSliceColumnarReader(part: ParquetSlicePartition, schema: StructType,
    seqCol: String, confKVs: Map[String, String])
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
  import org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader
  import org.apache.spark.sql.execution.vectorized.{OnHeapColumnVector, WritableColumnVector}
  import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

  private val withSeq = ParquetSliceReader.withSeq(schema, seqCol)
  private val seqIdx = withSeq.fieldIndex(seqCol)
  private val nOut = schema.length

  private var paths: List[String] = List(part.file)
  // checked mode: the current file may hold out-of-interval rows, so
  // read `withSeq` and range-check per batch. Off only for the planned
  // full file; always on after a compaction fallback (merged files).
  private var checked = !part.fullFile
  private var fellBack = false
  private var reader: VectorizedParquetRecordReader = null
  private var current: ColumnarBatch = null
  private var copied: Array[OnHeapColumnVector] = null

  private def closeReader(): Unit = if (reader != null) { reader.close(); reader = null }
  private def releaseCopied(): Unit = if (copied != null) { copied.foreach(_.close()); copied = null }

  private def openNext(): Boolean = paths match {
    case p :: rest =>
      paths = rest
      closeReader()
      try {
        val f = new java.io.File(p)
        if (!f.isFile) throw new java.io.FileNotFoundException(p)
        reader = ParquetSliceReader.openVectorized(
          p, f.length(), if (checked) withSeq else schema, confKVs,
          // boundary slices skip row groups wholly outside the interval
          rowGroupFilter = if (checked) Some((seqCol, part.gt, part.lte)) else None)
        true
      } catch {
        case _: java.io.FileNotFoundException if !fellBack =>
          fellBack = true
          checked = true
          paths = ParquetSliceReader.resolveInterval(part.dir, seqCol, part.gt, part.lte)
          openNext()
      }
    case Nil => false
  }

  override def next(): Boolean = {
    releaseCopied()
    current = null
    while (current == null) {
      if (reader == null && !openNext()) return false
      if (!reader.nextKeyValue()) closeReader() // loop on to the next file
      else {
        val b = reader.getCurrentValue.asInstanceOf[ColumnarBatch]
        if (!checked) current = b // whole file ⊂ interval: pass through
        else prepareChecked(b)    // sets `current` unless the batch has no in-range row
      }
    }
    true
  }

  /** Range-check one batch (columns follow `withSeq`): pass through
    * zero-copy when fully inside the interval, copy the in-range rows
    * when the file straddles it. */
  private def prepareChecked(b: ColumnarBatch): Unit = {
    val n = b.numRows()
    if (n == 0) return
    val sv = b.column(seqIdx)
    var mn = Long.MaxValue; var mx = Long.MinValue
    var r = 0
    while (r < n) {
      val v = sv.getLong(r)
      if (v < mn) mn = v
      if (v > mx) mx = v
      r += 1
    }
    if (mx <= part.gt || mn > part.lte) () // entirely outside: skip
    else if (mn > part.gt && mx <= part.lte)
      current = new ColumnarBatch(Array.tabulate[ColumnVector](nOut)(b.column), n)
    else {
      // straddling: copy rows in (gt, lte] — the converter is built over
      // `withSeq` because it appends by ROW ordinal (the seq vector is
      // filled and then simply not exposed in the emitted batch)
      val vecs = OnHeapColumnVector.allocateColumns(n, withSeq)
      val conv = org.apache.spark.sql.execution.graftbridge.RowToColumnarBridge.converter(withSeq)
      var kept = 0
      val it = b.rowIterator()
      while (it.hasNext) {
        val row = it.next()
        val s = row.getLong(seqIdx)
        if (s > part.gt && s <= part.lte) {
          conv(row, vecs.asInstanceOf[Array[WritableColumnVector]])
          kept += 1
        }
      }
      if (kept == 0) vecs.foreach(_.close())
      else {
        copied = vecs
        current = new ColumnarBatch(vecs.take(nOut).toArray[ColumnVector], kept)
      }
    }
  }

  override def get(): org.apache.spark.sql.vectorized.ColumnarBatch = current

  override def close(): Unit = { releaseCopied(); closeReader() }
}

object ParquetSliceReader {
  import org.apache.spark.sql.types._

  /** The session's parquet-interpretation flags, captured at PLAN time on
    * the driver and mirrored into the executor-side Hadoop conf so the
    * slice decode matches `spark.read.parquet` bit for bit. (Nested
    * schema pruning is pinned OFF: the requested schema handed to the
    * readers IS the projection — Spark's pruneColumns already applied.) */
  def captureConf(spark: org.apache.spark.sql.SparkSession): Map[String, String] = {
    val c = spark.sessionState.conf
    def kv(key: String, default: String): (String, String) = key -> c.getConfString(key, default)
    Map(
      kv("spark.sql.caseSensitive", "false"),
      kv("spark.sql.parquet.binaryAsString", "false"),
      kv("spark.sql.parquet.int96AsTimestamp", "true"),
      kv("spark.sql.parquet.inferTimestampNTZ.enabled", "true"),
      kv("spark.sql.legacy.parquet.nanosAsLong", "false"),
      kv("spark.sql.parquet.fieldId.read.enabled", "false"),
      kv("spark.sql.session.timeZone", java.util.TimeZone.getDefault.getID),
      "spark.sql.optimizer.nestedSchemaPruning.enabled" -> "false")
  }

  /** Output schema + the seq column appended LAST if the projection
    * pruned it (readers need it for record filtering / range checks; the
    * output fields staying a PREFIX is what lets the strip projection and
    * the row-to-columnar copy index by output ordinal). */
  def withSeq(out: StructType, seqCol: String): StructType =
    if (out.fieldNames.contains(seqCol)) out
    else StructType(out.fields :+ StructField(seqCol, LongType, nullable = false))

  private def hadoopConf(confKVs: Map[String, String], requested: StructType)
      : org.apache.hadoop.conf.Configuration = {
    val conf = new org.apache.hadoop.conf.Configuration()
    confKVs.foreach { case (k, v) => conf.set(k, v) }
    conf.set(org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
      .SPARK_ROW_REQUESTED_SCHEMA, requested.json)
    // the vectorized base reader instantiates its ReadSupport from conf
    // (the same registration ParquetFileFormat performs)
    conf.set(org.apache.parquet.hadoop.ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport].getName)
    conf
  }

  private def correctedRebase = org.apache.spark.sql.catalyst.util.RebaseDateTime
    .RebaseSpec(org.apache.spark.sql.internal.LegacyBehaviorPolicy.CORRECTED, None)

  /** Row-materializing reader over Spark's ParquetReadSupport: clipped
    * projection, null-filled missing columns, full nested-type coverage,
    * record-level filtering. Rebase mode is CORRECTED on both calendars —
    * log files are written by THIS engine (Spark 4, proleptic). */
  def openRowReader(path: String, requested: StructType, confKVs: Map[String, String],
      filter: org.apache.parquet.filter2.compat.FilterCompat.Filter)
      : org.apache.parquet.hadoop.ParquetReader[InternalRow] = {
    val support = new org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport(
      None, false, correctedRebase, correctedRebase)
    org.apache.parquet.hadoop.ParquetReader
      .builder(support, new org.apache.hadoop.fs.Path(path))
      .withConf(hadoopConf(confKVs, requested))
      .withFilter(filter)
      .build()
  }

  /** Spark's vectorized parquet reader over one whole file, configured
    * to emit ColumnarBatch in `requested` column order (missing columns
    * null-fill, same as the batch read path). `rowGroupFilter` pushes a
    * seq-interval predicate for ROW-GROUP skipping (records cannot be
    * filtered columnar-side — the caller range-checks batches). */
  def openVectorized(path: String, length: Long, requested: StructType,
      confKVs: Map[String, String],
      rowGroupFilter: Option[(String, Long, Long)] = None)
      : org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader = {
    val conf = hadoopConf(confKVs, requested)
    rowGroupFilter.foreach { case (seqCol, gt, lte) =>
      org.apache.parquet.hadoop.ParquetInputFormat.setFilterPredicate(conf,
        org.apache.parquet.filter2.predicate.FilterApi.and(
          org.apache.parquet.filter2.predicate.FilterApi.gt(
            org.apache.parquet.filter2.predicate.FilterApi.longColumn(seqCol),
            java.lang.Long.valueOf(gt)),
          org.apache.parquet.filter2.predicate.FilterApi.ltEq(
            org.apache.parquet.filter2.predicate.FilterApi.longColumn(seqCol),
            java.lang.Long.valueOf(lte))))
    }
    // the OLD-API FileSplit (it extends the mapreduce one): Spark's
    // SpecificParquetRecordReaderBase downcasts to it internally
    val split = new org.apache.hadoop.mapred.FileSplit(
      new org.apache.hadoop.fs.Path(path), 0, length, Array.empty[String])
    val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
      conf, new org.apache.hadoop.mapreduce.TaskAttemptID())
    val r = new org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader(
      null, "CORRECTED", "UTC", "CORRECTED", "UTC", false, 4096)
    var ok = false
    try {
      r.initialize(split, ctx)
      r.initBatch(new StructType(), InternalRow.empty)
      r.enableReturningBatches()
      ok = true
    } finally if (!ok) r.close()
    r
  }

  /** Re-resolve a seq interval against a log directory's current files —
    * the executor-side fallback when a planned file was deleted by a
    * compaction between planning and execution. Lists the tree, keeps
    * files whose footer range overlaps (gt, lte], in seq order. The
    * interval's rows are known to exist (the offset was committed against
    * a durable cursor), so an empty resolution can only be compact's
    * two-rename swap window — retry briefly, then fail the task rather
    * than silently drop records. */
  def resolveInterval(dir: String, seqCol: String, gt: Long, lte: Long): List[String] = {
    def walk(f: java.io.File): List[java.io.File] = {
      val fs = f.listFiles()
      if (fs == null) Nil
      else fs.toList.flatMap {
        case d if d.isDirectory =>
          if (d.getName.startsWith("_") || d.getName.startsWith(".")) Nil else walk(d)
        case p if p.getName.endsWith(".parquet") &&
          !p.getName.startsWith(".") && !p.getName.startsWith("_") => List(p)
        case _ => Nil
      }
    }
    // a visible part file is always fully committed (committer-mediated
    // writes; dot/underscore staging excluded by walk) — an unreadable
    // footer is transient infrastructure, retried per ATTEMPT; a file
    // that stays unreadable after the retry loop fails the task rather
    // than silently dropping its share of the interval (the same
    // no-silent-skip rule as the planner's `bounds`)
    def attempt(strict: Boolean): List[String] =
      walk(new java.io.File(dir)).flatMap { p =>
        try {
          val (lo, hi) = seqBounds(p.getPath, seqCol)
          if (hi > gt && lo <= lte) List((lo, p.getPath)) else Nil
        } catch {
          case scala.util.control.NonFatal(e) =>
            if (strict) throw new java.io.IOException(
              s"seq interval ($gt, $lte]: footer of committed log file ${p.getPath} " +
                "unreadable after retries — failing the task rather than silently " +
                "dropping its rows", e)
            throw RetryResolve
        }
      }.sortBy(_._1).map(_._2)
    var out: Option[List[String]] = None
    var tries = 0
    while (out.isEmpty && tries < 20) {
      try {
        val r = attempt(strict = tries == 19)
        if (r.isEmpty) { Thread.sleep(50); tries += 1 } // mid-swap gap: retry
        else out = Some(r)
      } catch { case RetryResolve => Thread.sleep(50); tries += 1 }
    }
    out.getOrElse(throw new java.io.FileNotFoundException(
      s"seq interval ($gt, $lte] unresolvable under $dir after compaction"))
  }

  /** Control-flow marker for [[resolveInterval]]'s per-attempt retry. */
  private object RetryResolve extends scala.util.control.ControlThrowable

  /** (min, max) of the seq column from the file footer — metadata only. */
  def seqBounds(path: String, seqCol: String): (Long, Long) = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(path), new org.apache.hadoop.conf.Configuration())
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val blocks = r.getFooter.getBlocks
      var lo = Long.MaxValue; var hi = Long.MinValue
      blocks.forEach { b =>
        b.getColumns.forEach { c =>
          if (c.getPath.toDotString == seqCol && c.getStatistics != null && !c.getStatistics.isEmpty) {
            c.getStatistics.genericGetMin match {
              case l: java.lang.Long => lo = math.min(lo, l); case _ => lo = Long.MinValue
            }
            c.getStatistics.genericGetMax match {
              case l: java.lang.Long => hi = math.max(hi, l); case _ => hi = Long.MaxValue
            }
          }
        }
      }
      if (lo == Long.MaxValue) (Long.MinValue, Long.MaxValue) else (lo, hi)
    } finally r.close()
  }

}

case class LogInputPartition(rows: Array[InternalRow]) extends InputPartition

class LogPartitionReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val rows = partition.asInstanceOf[LogInputPartition].rows
    new PartitionReader[InternalRow] {
      private var i = -1
      override def next(): Boolean = { i += 1; i < rows.length }
      override def get(): InternalRow = rows(i)
      override def close(): Unit = ()
    }
  }
}
