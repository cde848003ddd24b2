package graft.views

import graft.core.{FlumeView, ViewDef}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** flumeview-reduce (`/root/reference/README.md:92`): an incrementally
  * maintained fold of the whole log down to one value.
  *
  * Two execution paths, chosen by the reducer's algebra:
  *
  *  - [[MergeableReduceView]] — the 100 TB path. The per-batch partial is
  *    computed **distributed** (a `df.agg` with map-side combine, one
  *    numeric row to the driver), then merged into the accumulator with a
  *    user merge function. Requires a commutative-mergeable summary (sum,
  *    count, Welford mean/M2, min/max, HLL...). Cost per batch is one scan
  *    of the delta only — O(delta), never O(log).
  *
  *  - [[OrderedFoldView]] — reference-parity path for arbitrary
  *    non-commutative closures, which flume permits because each view is
  *    single-threaded ("a flumeview must process items from the main log
  *    in order", `/root/reference/README.md:222-223`). Entries are folded
  *    in strict seq order on the driver; only for genuinely sequential
  *    reducers and bounded state.
  */
final class MergeableReduceView[S](
    partial: DataFrame => S,
    merge: (S, S) => S,
    inverse: Option[(S, S) => S] = None)
    extends FlumeView with graft.core.InvertibleReduceView {

  @volatile private var state: Option[S] = None
  @volatile private var sinceSeq: Long = -1L

  def since: Long = sinceSeq
  def value: Option[S] = state

  /** Read a path INTO the reduced value — flumeview-reduce's `get(path)`
    * (the reference reads `.foo` / sub-fields of the reduced object,
    * `/root/reference/test/memlog.js:26-33`). Empty path = whole value;
    * missing path segment or empty view = None (the reference calls back
    * `undefined`). */
  def get(path: Seq[String] = Nil): Option[Any] =
    state.flatMap(ReduceValue.navigate(_, path))

  def absorb(entries: DataFrame, upto: Long): Unit = {
    val p = partial(entries)
    state = Some(state.fold(p)(s => merge(s, p)))
    sinceSeq = upto
  }

  /** Exact-inverse folds (sum/count) take db-level takedowns in place:
    * one partial over the removed rows, un-merged — O(matches). Folds
    * without an inverse (Welford, min/max) leave `inverse` None and the
    * db rebuilds them. */
  def canUnabsorb: Boolean = inverse.isDefined
  def prepareUnabsorb(removedRows: DataFrame): () => Unit = {
    val p = partial(removedRows) // eager: the rows are about to leave storage
    () => state = state.map(s => inverse.get(s, p))
  }

  def destroy(): Unit = { state = None; sinceSeq = -1L }
}

/** Path navigation into a reduced value, for flumeview-reduce `get(path)`
  * parity: each segment indexes a Map key, a case-class field (by
  * constructor-parameter name), or a no-arg accessor (so derived reads
  * like `stdev` on [[Stats]] resolve too, as they would on a JS object). */
object ReduceValue {
  def navigate(v: Any, path: Seq[String]): Option[Any] =
    path.foldLeft(Option(v)) {
      case (Some(m: scala.collection.Map[_, _]), k) =>
        m.asInstanceOf[scala.collection.Map[String, Any]].get(k)
      case (Some(p: Product), k) =>
        val i = p.productElementNames.indexOf(k)
        if (i >= 0) Some(p.productElement(i))
        else accessor(p, k)
      case (Some(o), k) => accessor(o, k)
      case (None, _) => None
    }

  private def accessor(o: Any, k: String): Option[Any] =
    o.getClass.getMethods
      .find(m => m.getName == k && m.getParameterCount == 0)
      .map(_.invoke(o))
}

object MergeableReduceView {
  def apply[S](partialFn: DataFrame => S)(mergeFn: (S, S) => S): ViewDef =
    ViewDef(1)((_, _) => new MergeableReduceView[S](partialFn, mergeFn))

  /** A fold with an exact inverse — mounts as an in-place takedown
    * target ([[graft.core.InvertibleReduceView]]). */
  def invertible[S](partialFn: DataFrame => S)(mergeFn: (S, S) => S)(
      inverseFn: (S, S) => S): ViewDef =
    ViewDef(1)((_, _) => new MergeableReduceView[S](partialFn, mergeFn, Some(inverseFn)))
}

/** Running (count, mean, sample-stddev) — the reference's canonical reduce
  * example (`/root/reference/test/memlog.js:13-18`, `statistics` package).
  * Incremental via Welford/Chan parallel merge: the per-batch partial is a
  * distributed `agg(count, avg, var_samp)`; merging two summaries is O(1).
  */
final case class Stats(n: Long, mean: Double, m2: Double) {
  def stdevSamp: Double = if (n < 2) 0.0 else math.sqrt(m2 / (n - 1))
  def stdevPop: Double = if (n == 0) 0.0 else math.sqrt(m2 / n)
  def merge(o: Stats): Stats = {
    if (n == 0) o
    else if (o.n == 0) this
    else {
      val nn = n + o.n
      val d = o.mean - mean
      Stats(nn, mean + d * o.n / nn, m2 + o.m2 + d * d * n.toDouble * o.n / nn)
    }
  }
}

object StatsReduceView {
  def apply(valueCol: String): ViewDef = MergeableReduceView[Stats] { df =>
    val r = df.agg(
      count(col(valueCol)).as("n"),
      avg(col(valueCol)).as("mean"),
      var_samp(col(valueCol)).as("v")).head()
    val n = r.getLong(0)
    if (n == 0) Stats(0, 0.0, 0.0)
    else Stats(n, r.getDouble(1), if (n < 2) 0.0 else r.getDouble(2) * (n - 1))
  }(_ merge _)
}

object SumReduceView {
  /** sum + count of a numeric column (`/root/reference/test/memlog-map.js:24-29`).
    * Sum/count merge has an exact inverse, so this view takes db-level
    * takedowns IN PLACE (one partial over the removed rows, subtracted)
    * instead of a full-log rebuild. [[StatsReduceView]] deliberately
    * does not: un-merging Welford's m2 is catastrophic cancellation
    * when the removed mass approaches the total. */
  def apply(valueCol: String): ViewDef = MergeableReduceView.invertible[(Double, Long)] { df =>
    val r = df.agg(coalesce(sum(col(valueCol)), lit(0.0)).as("s"), count(lit(1)).as("c")).head()
    (r.getDouble(0), r.getLong(1))
  } { case ((s1, c1), (s2, c2)) => (s1 + s2, c1 + c2) } {
    case ((s1, c1), (s2, c2)) => (s1 - s2, c1 - c2)
  }
}

/** Reference-parity ordered fold for arbitrary closures (see class doc on
  * [[MergeableReduceView]]). Collects each delta batch to the driver in
  * seq order — by design, like the single-threaded reference view. */
final class OrderedFoldView[S](zero: S, fold: (S, Row) => S, seqCol: String) extends FlumeView {
  @volatile private var state: S = zero
  @volatile private var sinceSeq: Long = -1L
  @volatile private var touched: Boolean = false

  def since: Long = sinceSeq
  def value: Option[S] = if (touched) Some(state) else None

  /** Path read into the folded value (flumeview-reduce `get(path)`). */
  def get(path: Seq[String] = Nil): Option[Any] =
    value.flatMap(ReduceValue.navigate(_, path))

  def absorb(entries: DataFrame, upto: Long): Unit = {
    val rows = entries.orderBy(col(seqCol)).collect()
    rows.foreach { r => state = fold(state, r); touched = true }
    sinceSeq = upto
  }

  def destroy(): Unit = { state = zero; touched = false; sinceSeq = -1L }
}

object OrderedFoldView {
  def apply[S](zero: S, seqCol: String = "seq")(fold: (S, Row) => S): ViewDef =
    ViewDef(1)((_, _) => new OrderedFoldView[S](zero, fold, seqCol))
}

/** The 100 TB answer to SURVEY §7.4's ordered-fold problem: when the
  * user's reducer has an associative segment `merge` (it need NOT be
  * commutative), the log delta is range-partitioned by seq, each
  * partition folded **in seq order in parallel**, and the per-partition
  * summaries merged left-to-right in seq order on the driver. Order
  * semantics are preserved exactly; wall-clock drops from O(n) to
  * O(n/p + p). `S` must be serializable (summaries travel to the
  * driver). */
final class SegmentedFoldView[S](
    zero: S,
    fold: (S, Row) => S,
    mergeFn: (S, S) => S,
    seqCol: String,
    partitions: Int = 0) extends FlumeView {

  @volatile private var state: S = zero
  @volatile private var sinceSeq: Long = -1L
  @volatile private var touched: Boolean = false

  def since: Long = sinceSeq
  def value: Option[S] = if (touched) Some(state) else None

  def absorb(entries: DataFrame, upto: Long): Unit = {
    val p = if (partitions > 0) partitions
      else entries.sparkSession.sparkContext.defaultParallelism
    val sc = seqCol
    val z = zero
    val f = fold
    val ordered = entries
      .repartitionByRange(p, col(sc))
      .sortWithinPartitions(sc)
    val summaries = ordered.rdd.mapPartitions { it =>
      var s = z
      var minSeq = Long.MaxValue
      var any = false
      it.foreach { r =>
        if (!any) { minSeq = r.getAs[Long](sc); any = true }
        s = f(s, r)
      }
      if (any) Iterator((minSeq, s)) else Iterator.empty
    }.collect().sortBy(_._1).toSeq.map(_._2)
    if (summaries.nonEmpty) {
      val delta = summaries.reduceLeft(mergeFn)
      state = if (touched) mergeFn(state, delta) else delta
      touched = true
    }
    sinceSeq = upto
  }

  def destroy(): Unit = { state = zero; touched = false; sinceSeq = -1L }
}

object SegmentedFoldView {
  def apply[S](zero: S, seqCol: String = "seq", partitions: Int = 0)(
      fold: (S, Row) => S)(merge: (S, S) => S): ViewDef =
    ViewDef(1)((_, _) => new SegmentedFoldView[S](zero, fold, merge, seqCol, partitions))
}

/** Base for views whose state is itself a DataFrame, maintained by
  * appending a per-batch delta frame. Each delta is materialized when it
  * is absorbed, so the state pins neither log rows nor log files: a log
  * rewrite (takedown, retention) cannot pull files from under it, and
  * reads never recompute the delta from the log. State lives as a union
  * of those deltas; `compact()` collapses it (a real deployment would
  * write the delta to a bucketed table — same plan shape). */
abstract class FrameView extends FlumeView {
  @volatile protected var state: Option[DataFrame] = None
  @volatile private var sinceSeq: Long = -1L

  /** Transform one ordered batch of log entries into a state delta. */
  protected def delta(entries: DataFrame): DataFrame

  def since: Long = sinceSeq
  def frame: Option[DataFrame] = state
  override def frameOption: Option[DataFrame] = state

  def absorb(entries: DataFrame, upto: Long): Unit = {
    val d = delta(entries).localCheckpoint(true)
    state = Some(state.fold(d)(s => s.union(d)))
    sinceSeq = upto
    appendsSinceCompact += 1
    if (appendsSinceCompact >= compactEvery) compact()
  }

  /** Collapse the accumulated union lineage: after many small appends
    * the plan tree grows linearly and planning time with it; a local
    * checkpoint materializes state and truncates lineage (the in-memory
    * analog of rewriting the view's backing table). Auto-triggered every
    * `compactEvery` absorbs. */
  def compact(): Unit = {
    state = state.map(_.localCheckpoint(true))
    appendsSinceCompact = 0
  }

  protected def compactEvery: Int = 32
  @volatile private var appendsSinceCompact: Int = 0

  def destroy(): Unit = { state = None; sinceSeq = -1L; appendsSinceCompact = 0 }
}

/** In-place db-level takedown/retention for [[FrameView]]s whose state
  * rows carry the log seq in a `seq` column and are APPEND-ONLY (one or
  * more derived rows per log row, never folded): index and search
  * posting tables. For such views, deleting by the removed seq set is
  * exactly the rebuild result at ∝-matches cost — see
  * [[graft.core.SeqRetractableView]] for why folding views must not
  * take this shortcut. */
trait SeqKeyedPostings extends FrameView with graft.core.SeqRetractableView {
  def retractLogSeqs(seqs: DataFrame, logSeqCol: String): Unit =
    state = state.map { s =>
      // the anti-join reorders columns (join key first): reselect the
      // stored order, same rule as the log kernels
      s.join(seqs.select(col(logSeqCol).as("seq")), Seq("seq"), "left_anti")
        .select(s.columns.toSeq.map(n => col(s"`$n`")): _*).localCheckpoint(true)
    }
  def expireLogSeqs(throughSeq: Long): Unit =
    state = state.map(_.where(col("seq") > throughSeq).localCheckpoint(true))
}

/** flumeview-level (`/root/reference/README.md:93`): a materialized
  * secondary index. `keysFn` maps one entry to N index keys
  * (`/root/reference/test/rebuild.js:27-31`); the index table is
  * `(key, seq)`, i.e. `explode(keys)` — Catalyst's Generator, fully
  * distributed, and a lookup is an equi-filter (or a broadcast-hash join
  * when batched). */
final class IndexView(keys: Column, seqCol: String,
    val indexedColumn: Option[String] = None,
    val indexedColumns: Option[Seq[String]] = None)
    extends FrameView with SeqKeyedPostings {
  protected def delta(entries: DataFrame): DataFrame =
    entries.select(explode(keys).as("key"), col(seqCol).as("seq"))

  /** Point lookup: seqs for a key, ordered. */
  def get(key: String): DataFrame =
    state.map(_.where(col("key") === lit(key)).orderBy("seq"))
      .getOrElse(throw new IllegalStateException("index empty"))
}

object IndexView {
  def apply(keys: Column, seqCol: String = "seq"): ViewDef =
    ViewDef(1)((_, _) => new IndexView(keys, seqCol))

  /** A single-column equality index: key = the column value cast to
    * string. Declaring the indexed COLUMN (not an opaque key expression)
    * is what lets [[Query.run(db*]] rewrite an equality/`isin` filter on
    * it into a posting-table lookup — the reference's "query language
    * with index selection" (`/root/reference/README.md:94`). */
  def onColumn(column: String, seqCol: String = "seq"): ViewDef =
    ViewDef(1)((_, _) => new IndexView(array(col(column).cast("string")), seqCol, Some(column)))

  /** A composite equality index: key = the columns' string forms joined
    * on NUL (the reference's level views take arbitrary composite keys,
    * charwise-encoded — `README.md:93`). Rows where ANY component is
    * null are not indexed: an equality conjunct with a non-null literal
    * can never select them, and `= NULL` selects nothing. [[Query]]
    * rewrites a filter carrying equality conjuncts on ALL components
    * into one posting lookup. Values containing NUL would alias the
    * separator — such columns should use a single-column index. */
  def onColumns(columns: Seq[String], seqCol: String = "seq"): ViewDef = {
    require(columns.size >= 2, "composite index needs >= 2 columns; use onColumn")
    ViewDef(1)((_, _) => new IndexView(IndexView.compositeKeys(columns), seqCol,
      None, Some(columns.toList)))
  }

  /** `[concat_ws(NUL, cols)]` when every component is non-null, else
    * empty (explode drops the row). */
  private[views] def compositeKeys(columns: Seq[String]): Column =
    when(columns.map(c => col(c).isNotNull).reduce(_ && _),
      array(concat_ws("\u0000", columns.map(c => col(c).cast("string")): _*)))
      .otherwise(array().cast("array<string>"))
}

/** flumeview-hashtable (`/root/reference/README.md:96`): unique-key O(1)
  * lookup — as a relational view, "latest record per key". Incremental
  * upsert: per batch, reduce the delta to latest-per-key, union with
  * state, reduce again (`max_by` on seq — single shuffle, map-side
  * combined, no sort). */
final class HashtableView(keyCol: String, seqCol: String) extends FlumeView {
  @volatile private var state: Option[DataFrame] = None
  @volatile private var sinceSeq: Long = -1L
  @volatile private var absorbsSinceCompact: Int = 0

  /** Upserts nest `latest(state ∪ delta)` per absorbed batch, so plan
    * depth (and planning time) would grow linearly with appends; every
    * `compactEvery` absorbs a localCheckpoint materializes the table and
    * truncates the lineage, same discipline as [[FrameView.compact]]. */
  private def compactEvery: Int = 8

  private def latest(df: DataFrame): DataFrame = {
    val payload = struct(df.columns.filter(_ != keyCol).map(col).toIndexedSeq: _*)
    df.groupBy(col(keyCol))
      .agg(max_by(payload, col(seqCol)).as("__v"))
      .select(col(keyCol), col("__v.*"))
  }

  def since: Long = sinceSeq
  def frame: Option[DataFrame] = state
  override def frameOption: Option[DataFrame] = state

  def absorb(entries: DataFrame, upto: Long): Unit = {
    // materialized: the db releases the absorbed frame after the sync
    val d = latest(entries).localCheckpoint(true)
    state = Some(state.fold(d)(s => latest(s.unionByName(d))))
    sinceSeq = upto
    absorbsSinceCompact += 1
    if (absorbsSinceCompact >= compactEvery) {
      state = state.map(_.localCheckpoint(true))
      absorbsSinceCompact = 0
    }
  }

  def get(key: Any): DataFrame =
    state.map(_.where(col(keyCol) === lit(key)))
      .getOrElse(throw new IllegalStateException("hashtable empty"))

  def destroy(): Unit = { state = None; sinceSeq = -1L; absorbsSinceCompact = 0 }
}

object HashtableView {
  def apply(keyCol: String, seqCol: String = "seq"): ViewDef =
    ViewDef(1)((_, _) => new HashtableView(keyCol, seqCol))
}

/** flumeview-search (`/root/reference/README.md:95`): inverted-index
  * full-text search. Tokenize → explode → posting list `(term, seq)`;
  * single-term query = equi-filter; AND = intersect via group-by-count.
  *
  * Why this stays beside the subsuming [[PositionalSearchView]]
  * (term/AND/OR parity since r12): COST, not capability. Plain
  * postings are `array_distinct` per document — ONE row per (term,
  * doc) — while positional postings carry one row per OCCURRENCE plus
  * an int position. On natural text (Zipfian term repetition) the
  * positional index is a multiple of the rows and wider, which at
  * 100 TB is the same multiple on the index build shuffle, the
  * stored-view footprint, AND every
  * membership query's scan. Deployments that never issue phrase
  * queries mount this view; phrase workloads pay for the positional
  * one. Same FrameView lifecycle, same query API subset — choosing is
  * a storage-budget decision, not a semantic one. */
final class SearchView(textCol: String, seqCol: String)
    extends FrameView with SeqKeyedPostings {
  protected def delta(entries: DataFrame): DataFrame =
    entries.select(
      explode(array_distinct(filter(split(lower(col(textCol)), "[^a-z0-9]+"), t => t =!= ""))).as("term"),
      col(seqCol).as("seq"))

  def search(term: String): DataFrame =
    state.map(_.where(col("term") === lit(term)).select("seq").distinct().orderBy("seq"))
      .getOrElse(throw new IllegalStateException("search index empty"))

  /** AND-query: seqs containing every term. Postings are distinct
    * (term, seq) pairs BY CONSTRUCTION (array_distinct per doc, one log
    * entry per seq), so the intersection test is a plain count == nTerms
    * — one map-side-combined shuffle, no N-way self-join, and no
    * count-distinct Expand (which doubled the query's cost in the r5
    * bench). */
  def searchAll(terms: Seq[String]): DataFrame =
    state.map(_.where(col("term").isin(terms.distinct: _*))
        .groupBy("seq").agg(count(lit(1)).as("nt"))
        .where(col("nt") === terms.distinct.size).select("seq").orderBy("seq"))
      .getOrElse(throw new IllegalStateException("search index empty"))

  /** OR-query: seqs containing ANY of `terms` — the posting-UNION dual
    * of [[searchAll]]'s intersection (the index-union `orIndexSeqs`
    * shape from [[graft.views.Query]]): ONE `isin` filter over the
    * posting table, then distinct — never a per-term rescan and never
    * a disjunctive LIKE over the log. */
  def searchAny(terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "empty disjunction")
    state.map(_.where(col("term").isin(terms.distinct: _*))
        .select("seq").distinct().orderBy("seq"))
      .getOrElse(throw new IllegalStateException("search index empty"))
  }
}

object SearchView {
  def apply(textCol: String, seqCol: String = "seq"): ViewDef =
    ViewDef(1)((_, _) => new SearchView(textCol, seqCol))
}

/** Positional full-text search: postings carry the token position, so
  * the index answers PHRASE queries ("spark join" as adjacent tokens),
  * not just term membership. A k-term phrase is k-1 equi-joins on
  * (seq, pos − i) over postings already filtered to the phrase's terms
  * — each side is a tiny slice of the index, the join key carries the
  * doc AND the offset, and no positions array is ever materialized
  * per document (the classic positional-inverted-index plan, e.g.
  * Lucene's PhraseQuery, expressed relationally). */
final class PositionalSearchView(textCol: String, seqCol: String)
    extends FrameView with SeqKeyedPostings {
  protected def delta(entries: DataFrame): DataFrame =
    entries.select(
      posexplode(filter(split(lower(col(textCol)), "[^a-z0-9]+"), t => t =!= "")),
      col(seqCol).as("seq"))
      .select(col("col").as("term"), col("pos"), col("seq"))

  /** Seqs containing `terms` as consecutive tokens, in order. */
  def searchPhrase(terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "empty phrase")
    val postings = state.getOrElse(throw new IllegalStateException("search index empty"))
      .where(col("term").isin(terms.distinct: _*))
    val anchor = postings.where(col("term") === terms.head).select("seq", "pos")
    terms.zipWithIndex.drop(1).foldLeft(anchor) { case (acc, (t, i)) =>
      acc.join(
        postings.where(col("term") === t)
          .select(col("seq"), (col("pos") - i).as("pos")),
        Seq("seq", "pos"))
    }.select("seq").distinct().orderBy("seq")
  }

  /** OR-query over the positional postings — positions ignored, the
    * same posting-union shape as [[SearchView.searchAny]], so the one
    * index serves term, phrase, AND and OR reads. */
  def searchAny(terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "empty disjunction")
    state.map(_.where(col("term").isin(terms.distinct: _*))
        .select("seq").distinct().orderBy("seq"))
      .getOrElse(throw new IllegalStateException("search index empty"))
  }

  /** Single-term membership — [[SearchView.search]] API parity, so the
    * positional index fully subsumes the plain one. */
  def search(term: String): DataFrame = searchAny(Seq(term))

  /** AND-query: seqs containing EVERY term. Positional postings carry
    * one row per OCCURRENCE, so the per-(term, seq) distinct comes
    * first; then the same count == nTerms intersection as
    * [[SearchView.searchAll]] — still one map-side-combined shuffle,
    * no N-way self-join. */
  def searchAll(terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "empty conjunction")
    state.map(_.where(col("term").isin(terms.distinct: _*))
        .select("term", "seq").distinct()
        .groupBy("seq").agg(count(lit(1)).as("nt"))
        .where(col("nt") === terms.distinct.size).select("seq").orderBy("seq"))
      .getOrElse(throw new IllegalStateException("search index empty"))
  }
}

object PositionalSearchView {
  def apply(textCol: String, seqCol: String = "seq"): ViewDef =
    ViewDef(1)((_, _) => new PositionalSearchView(textCol, seqCol))
}

/** flumeview-bloom (`/root/reference/README.md:97`): approximate
  * membership — "check if we _may_ have something". Spark's
  * `stat.bloomFilter` builds the per-batch filter distributed
  * (tree-aggregated); incremental maintenance is `mergeInPlace`, so each
  * batch costs one scan of the delta. No false negatives by construction. */
final class BloomView(keyCol: String, expectedItems: Long, fpp: Double) extends FlumeView {
  @volatile private var filter: Option[BloomFilter] = None
  @volatile private var sinceSeq: Long = -1L

  def since: Long = sinceSeq

  def absorb(entries: DataFrame, upto: Long): Unit = {
    val b = entries.stat.bloomFilter(keyCol, expectedItems, fpp)
    filter match {
      case Some(f) => f.mergeInPlace(b)
      case None    => filter = Some(b)
    }
    sinceSeq = upto
  }

  def mightContain(v: Any): Boolean = filter.exists(_.mightContain(v))

  def destroy(): Unit = { filter = None; sinceSeq = -1L }
}

object BloomView {
  def apply(keyCol: String, expectedItems: Long = 1000000L, fpp: Double = 0.01): ViewDef =
    ViewDef(1)((_, _) => new BloomView(keyCol, expectedItems, fpp))
}

/** Count-min sketch view: approximate per-key frequencies (heavy
  * hitters) in sublinear state. Like [[BloomView]], the per-batch sketch
  * is built distributed and merged into the accumulator, so maintenance
  * is one scan of the delta; estimates never undercount. */
final class CountMinView(keyCol: String, eps: Double, confidence: Double, seed: Int) extends FlumeView {
  @volatile private var sketch: Option[org.apache.spark.util.sketch.CountMinSketch] = None
  @volatile private var sinceSeq: Long = -1L

  def since: Long = sinceSeq

  def absorb(entries: DataFrame, upto: Long): Unit = {
    val s = entries.stat.countMinSketch(col(keyCol), eps, confidence, seed)
    sketch match {
      case Some(acc) => acc.mergeInPlace(s)
      case None      => sketch = Some(s)
    }
    sinceSeq = upto
  }

  def estimate(v: Any): Long = sketch.map(_.estimateCount(v)).getOrElse(0L)

  def destroy(): Unit = { sketch = None; sinceSeq = -1L }
}

object CountMinView {
  def apply(keyCol: String, eps: Double = 0.001, confidence: Double = 0.99, seed: Int = 42): ViewDef =
    ViewDef(1)((_, _) => new CountMinView(keyCol, eps, confidence, seed))
}
