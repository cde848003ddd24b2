package graft.views

import graft.core.{Fence, FlumeDb}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Cast
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.StringType

/** flumeview-query (`/root/reference/README.md:94`): a declarative
  * map-filter-reduce query surface over the log.
  *
  * In the reference this is a JS "functional query language" with index
  * selection; on Spark the DataFrame DSL *is* that language and Catalyst
  * *is* the pushdown selector — so `Query` is a thin, serializable
  * description that compiles to DataFrame operators and inherits predicate
  * pushdown, column pruning, limit pushdown and `TakeOrderedAndProject`
  * (top-k) for free.
  *
  * What Catalyst does NOT know about is the db's mounted secondary
  * indexes. [[run(db*]] adds that half of flumeview-query's contract:
  * an equality / `isin` conjunct on a column covered by a mounted
  * [[IndexView.onColumn]] / [[PersistentIndexView.onColumn]] is rewritten
  * into a posting-table lookup — seqs come from the (small, keyed) index
  * state, and the log is read by seq like a batch of point gets — instead
  * of a full scan + filter of the log.
  */
final case class Query(
    filters: Seq[Column] = Nil,
    projections: Seq[Column] = Nil,
    sort: Seq[Column] = Nil,
    limitN: Option[Int] = None,
    groupBys: Seq[Column] = Nil,
    aggs: Seq[Column] = Nil) {

  def where(c: Column): Query = copy(filters = filters :+ c)
  def select(cs: Column*): Query = copy(projections = projections ++ cs)
  def orderBy(cs: Column*): Query = copy(sort = sort ++ cs)
  def limit(n: Int): Query = copy(limitN = Some(n))
  def groupBy(cs: Column*): Query = copy(groupBys = groupBys ++ cs)
  def agg(cs: Column*): Query = copy(aggs = aggs ++ cs)

  /** Compile to a DataFrame plan. Order: filter → group/agg → project →
    * sort → limit (filters before aggregation so they push to the scan). */
  def run(log: DataFrame): DataFrame =
    finish(filters.foldLeft(log)((d, f) => d.where(f)))

  /** Run against a [[FlumeDb]], consulting its mounted views for index
    * selection. If an equality/`isin` conjunct matches a mounted
    * single-column index, the plan becomes:
    *
    *   posting lookup (key-filtered index state) → seq list →
    *   log read by seq → residual filters → rest of the query.
    *
    * When the seq list is small (≤ `maxInline`) it is collected and
    * inlined as an `isin` predicate on the log's seq column — that pushes
    * to the parquet scan as row-group skipping, the distributed analog of
    * the reference's index-then-point-get. A bigger posting list falls
    * back to a semi-join (never worse than the scan it replaces). The
    * collect is fenced by `maxInline` rows of 8-byte seqs, same
    * model-sized-collect discipline as the IVF centroids.
    *
    * With no matching index the query runs as a plain log scan and
    * Catalyst's own pushdown takes over. */
  def run(db: FlumeDb, maxInline: Int = 8192): DataFrame = {
    indexOnlyCount(db) match {
      case Some(agg) =>
        var out = agg
        if (sort.nonEmpty) out = out.orderBy(sort: _*)
        limitN.foreach(n => out = out.limit(n))
        return out
      case None => ()
    }
    val conjuncts = filters.flatMap(ColumnBridge.conjuncts)
    val hit = Query.compositeIndexHit(db, conjuncts)
      .orElse(Query.indexHit(db, conjuncts))
      .orElse(Query.rangeIndexHit(db, conjuncts))
    hit match {
      case None =>
        Query.orIndexSeqs(db, conjuncts) match {
          case None => run(db.mapped)
          case Some((matchedIdx, seqDf, drop)) =>
            // drop = every arm exact equality; otherwise the original
            // disjunction stays as a zero-cost residual guard over the
            // seq-narrowed rows (superset reads made exact)
            val residual = conjuncts.zipWithIndex.collect {
              case (c, j) if !(drop && j == matchedIdx) => c
            }
            val base = Query.readBySeqs(db, seqDf, maxInline)
            finish(residual.foldLeft(base)((d, f) => d.where(f)))
        }
      case Some(Query.IndexPlan(viewName, matched, postingFilter, dropMatched)) =>
        db.gated(viewName)(_.frameOption) match {
          case None => run(db.mapped)
          case Some(posting) =>
            // single-column index: exactly one key per entry, so the
            // filtered posting yields distinct seqs — no dedup shuffle
            val seqDf = postingFilter(posting).select(col("seq"))
            val residual = conjuncts.zipWithIndex.collect {
              case (c, j) if !(dropMatched && matched(j)) => c
            }
            val base = Query.readBySeqs(db, seqDf, maxInline)
            finish(residual.foldLeft(base)((d, f) => d.where(f)))
        }
    }
  }

  /** Covering-index aggregation: `groupBy(indexedCol)` with aggregates
    * the `(key, seq)` posting table itself can answer — `count(1)` and
    * `min`/`max` of the log's SEQ column (first/last occurrence per
    * value: the "when did each key appear" read a log-centric DB serves
    * constantly) — optionally with equality/`isin` filters on the same
    * column, is answered ENTIRELY from the posting table; the log is
    * never scanned. The single-column index stores one entry per log
    * record (null values included — `explode(array(cast(col)))` keeps
    * them), so per-key posting counts ARE per-value record counts. The
    * stored string key is cast back to the column's type; restricted to
    * types whose string round-trip is lossless, everything else falls
    * through to the normal path. The reference's level views serve reads
    * without touching the log in exactly this way (`README.md:93`). */
  private def indexOnlyCount(db: FlumeDb): Option[DataFrame] = {
    if (projections.nonEmpty || groupBys.size != 1 || aggs.isEmpty) return None
    val keyAttr = ColumnBridge.attributeName(groupBys.head).getOrElse(return None)
    val seqName = db.log.seqCol
    val aggCols: Seq[(Column, String)] = aggs.map { a =>
      ColumnBridge.countAlias(a).map(al => (count(lit(1)).as(al), al))
        .orElse(ColumnBridge.minMaxAlias(a).collect {
          case ("min", `seqName`, al) => (min(col("seq")).as(al), al)
          case ("max", `seqName`, al) => (max(col("seq")).as(al), al)
        })
        .getOrElse(return None)
    }
    val eqs = filters.flatMap(ColumnBridge.conjuncts).map(ColumnBridge.eqInOnAttribute)
    if (eqs.exists(_.isEmpty)) return None
    val eqList = eqs.flatten
    if (!eqList.forall(_._1 == keyAttr)) return None
    val viewName = Query.mountedIndexes(db).get(keyAttr).getOrElse(return None)
    val field = db.mapped.schema.fields.find(_.name == keyAttr).getOrElse(return None)
    if (!Query.losslessKeyRoundTrip(field.dataType)) return None
    val posting = db.gated(viewName)(_.frameOption).getOrElse(return None)
    val filtered = eqList.foldLeft(posting) { case (p, (_, vals)) =>
      val keys = vals.flatMap(v => Query.keyString(v, field.dataType))
      if (keys.isEmpty) p.where(lit(false)) else p.where(col("key").isin(keys: _*))
    }
    val out = filtered.groupBy(col("key")).agg(aggCols.head._1, aggCols.tail.map(_._1): _*)
    Some(out.select(col("key").cast(field.dataType).as(keyAttr) +:
      aggCols.map { case (_, al) => col(al) }: _*))
  }

  private def finish(filtered: DataFrame): DataFrame = {
    var df = filtered
    if (groupBys.nonEmpty || aggs.nonEmpty) {
      df =
        if (groupBys.isEmpty) df.agg(aggs.head, aggs.tail: _*)
        else df.groupBy(groupBys: _*).agg(aggs.head, aggs.tail: _*)
    }
    if (projections.nonEmpty) df = df.select(projections: _*)
    if (sort.nonEmpty) df = df.orderBy(sort: _*)
    limitN.foreach(n => df = df.limit(n))
    df
  }
}

object Query {
  def apply(): Query = new Query()

  /** Log rows whose seq appears in `seqDf`: small lists (≤ `maxInline`
    * 8-byte seqs) inline as an `isin` pushed to the parquet scan as
    * row-group skipping — the distributed index-then-point-get; bigger
    * lists fall back to a semi-join (never worse than a scan). */
  private[views] def readBySeqs(db: FlumeDb, seqDf: DataFrame, maxInline: Int): DataFrame = {
    val sc = db.log.seqCol
    val head = seqDf.limit(maxInline + 1).collect().map(_.getLong(0))
    if (head.isEmpty) db.mapped.where(lit(false))
    else if (head.length <= maxInline)
      db.mapped.where(col(sc).isin(head.toIndexedSeq: _*))
    else
      db.mapped.join(seqDf.withColumnRenamed("seq", sc), Seq(sc), "left_semi")
  }

  /** Index lookup join (index nested-loop join): inner-join a probe
    * table against the log on a mounted-indexed column WITHOUT scanning
    * the log — probe keys meet the posting table on the stored string
    * key, the matching seqs drive a [[readBySeqs]] point-get read, and
    * the probe joins back onto the narrowed rows. The reference's
    * index-then-point-get (`README.md:93-94`), generalized from literal
    * predicates to a probe relation; with no mounted index on `onCol`
    * the call degrades to the plain join it replaces. Probe keys whose
    * string form can't round-trip are simply absent from the posting
    * (no false matches — the index stores `cast(col as string)`). */
  def lookupJoin(
      db: FlumeDb,
      probe: DataFrame,
      onCol: String,
      maxInline: Int = 8192,
      maxBroadcastKeys: Long = 1L << 20): DataFrame = {
    val plain = () => probe.join(db.mapped, Seq(onCol))
    mountedIndexes(db).get(onCol) match {
      case None => plain()
      case Some(viewName) =>
        db.gated(viewName)(_.frameOption) match {
          case None => plain()
          case Some(posting) =>
            val keys = probe.select(col(onCol).cast("string").as("key")).distinct()
            // broadcast fence: the probe relation is caller-supplied and
            // may be huge — force-broadcasting its distinct keys
            // unconditionally could OOM executors. Over the fence the
            // posting-vs-keys join shuffles string keys — still never
            // the full log scan the plain join pays.
            val fenced = if (Fence.broadcastable(keys, maxBroadcastKeys)) broadcast(keys) else keys
            val seqDf = posting.join(fenced, Seq("key")).select("seq")
            probe.join(readBySeqs(db, seqDf, maxInline), Seq(onCol))
        }
    }
  }

  /** A chosen index access path: which mounted view serves it, which
    * conjunct positions it absorbed, the filter over the `(key, seq)`
    * posting table, and whether the absorbed conjuncts are fully served
    * (equality: yes) or re-checked as residuals (range: the posting
    * filter decodes the string key back to the column type, so the
    * original conjunct is kept as a zero-cost exactness guard). */
  private[views] final case class IndexPlan(
      viewName: String,
      matched: Set[Int],
      postingFilter: DataFrame => DataFrame,
      dropMatched: Boolean)

  /** Literal value → the string key the single-column index stores. The
    * index build writes `cast(col as string)`; the filter `col = lit`
    * coerces the literal to the COLUMN's type first — so the key is
    * `cast(cast(lit as colType) as string)`, byte-for-byte what the
    * build produced for a matching row. A value the column type cannot
    * represent casts to null → disqualified (fall back to the scan
    * rather than risk a wrong-encoded lookup). */
  private def keyString(v: Any, colType: org.apache.spark.sql.types.DataType): Option[String] = {
    val lit = org.apache.spark.sql.catalyst.expressions.Literal(v)
    val typed = if (lit.dataType == colType) lit else Cast(lit, colType)
    Option(Cast(typed, StringType).eval(null)).map(_.toString)
  }

  /** Types whose `cast(cast(x as string) as t)` round-trip is the
    * identity — the set the covering-index count may cast back. Floats
    * and decimals are excluded (formatting variance), timestamps too
    * (zone-sensitive rendering). */
  private[views] def losslessKeyRoundTrip(t: org.apache.spark.sql.types.DataType): Boolean = t match {
    case org.apache.spark.sql.types.StringType | org.apache.spark.sql.types.LongType |
         org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.ShortType |
         org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.BooleanType => true
    case _ => false
  }

  /** Mounted single-column indexes: indexed column name → view name. */
  private def mountedIndexes(db: FlumeDb): Map[String, String] =
    db.viewNames.flatMap { n =>
      db.view(n).view match {
        case iv: IndexView           => iv.indexedColumn.map(_ -> n)
        case pv: PersistentIndexView => pv.indexedColumn.map(_ -> n)
        case _                       => None
      }
    }.toMap

  /** Mounted composite indexes: indexed column lists → view name. */
  private def mountedCompositeIndexes(db: FlumeDb): Seq[(Seq[String], String)] =
    db.viewNames.flatMap { n =>
      db.view(n).view match {
        case iv: IndexView           => iv.indexedColumns.map(_ -> n)
        case pv: PersistentIndexView => pv.indexedColumns.map(_ -> n)
        case _                       => None
      }
    }

  /** Composite-index selection: a mounted [[IndexView.onColumns]] whose
    * EVERY component carries an equality/`isin` conjunct becomes one
    * posting lookup on the NUL-joined key. Multi-value (`isin`)
    * components expand as a cartesian key list, capped at
    * `maxCompositeKeys` combinations (beyond that a scan's one pass
    * beats planning thousands of point lookups). Preferred over a
    * single-column hit — the composite key is strictly more selective. */
  private val maxCompositeKeys = 256
  private def compositeIndexHit(db: FlumeDb, conjuncts: Seq[Column]): Option[IndexPlan] = {
    val composites = mountedCompositeIndexes(db)
    if (composites.isEmpty) return None
    lazy val schema = db.mapped.schema
    // attr -> (values, conjunct position) for every eq/isin conjunct;
    // an attr constrained twice keeps its first conjunct (rare, sound:
    // the other stays as a residual filter below)
    val eqs = conjuncts.zipWithIndex.flatMap { case (c, i) =>
      ColumnBridge.eqInOnAttribute(c).map { case (a, vs) => (a, vs, i) }
    }
    val byAttr = eqs.groupBy(_._1).map { case (a, hits) => a -> hits.head }
    composites.collectFirst(Function.unlift { case (cols, viewName) =>
      val parts = cols.map(byAttr.get)
      if (parts.exists(_.isEmpty)) None
      else {
        val keyLists = cols.zip(parts.flatten).map { case (c, (_, vs, _)) =>
          schema.find(_.name == c).map(f => vs.flatMap(v => keyString(v, f.dataType)))
            .filter(_.nonEmpty)
        }
        if (keyLists.exists(_.isEmpty)) None
        else {
          val lists = keyLists.flatten
          if (lists.map(_.size.toLong).product > maxCompositeKeys) None
          else {
            // seed from the first component (a Seq("") seed would
            // conflate with a legitimate empty-string key value)
            val full = lists.tail.foldLeft(lists.head) { (acc, vs) =>
              for (a <- acc; v <- vs) yield a + "\u0000" + v
            }
            val matched = parts.flatten.map(_._3).toSet
            // dropMatched = false: an `isin` with a value that casts to
            // null was filtered out of the key list, so the original
            // conjuncts must stay as (zero-cost) residual guards
            Some(IndexPlan(viewName, matched,
              p => p.where(col("key").isin(full: _*)), dropMatched = false))
          }
        }
      }
    })
  }

  /** One OR arm's chosen access path: an exact per-view `isin` key
    * list, or a superset posting read (range bound / partial conjunct)
    * that needs the original disjunction kept as a residual guard. */
  private sealed trait OrArm
  private final case class EqArm(viewName: String, keys: Seq[String]) extends OrArm
  private final case class ReadArm(viewName: String, filter: DataFrame => DataFrame) extends OrArm

  /** Index-UNION selection (the r8 verdict's OR gap): the first
    * top-level DISJUNCTION conjunct whose EVERY arm has a servable
    * index access path resolves to a union-distinct of posting reads —
    * `type = 'a' OR user = 3` reads two posting tables and unions
    * their seqs instead of scanning the log. The level-view analog is
    * a union of two ordered index reads
    * (`/root/reference/README.md:93`).
    *
    * Arm shapes served (each arm independently):
    *  - `col = lit` / `col isin (…)` on an indexed column — exact
    *    (the `keyString` cast-round-trip contract, as [[indexHit]]);
    *  - range conjuncts (`>=`/`<=`/`>`/`<`) on an indexed column — a
    *    decoded-key range read of that posting table, ALL of the arm's
    *    bounds on that column applied at once (the [[rangeIndexHit]]
    *    shape);
    *  - a CONJUNCTIVE arm (`a OR (b AND c)`): served through any one
    *    indexable conjunct — the posting read is a SUPERSET of the
    *    arm (rows satisfying b ⊇ rows satisfying b AND c), which the
    *    residual guard below makes exact.
    *
    * Per VIEW the eq arms' keys merge into ONE `isin` posting filter;
    * range/partial arms read their posting separately; across reads
    * the seq lists union with `distinct` — a row matching two arms
    * must surface once, and the dedup shuffles only 8-byte seqs from
    * key-filtered postings, never log rows. When every arm is a bare
    * exact equality the matched conjunct is fully served and dropped
    * (`drop = true`); any range or conjunctive arm keeps the ORIGINAL
    * disjunction as a zero-cost residual filter over the seq-narrowed
    * rows — the superset reads stay exact. Any arm with no servable
    * path (unindexed column, un-castable literal) disqualifies the
    * whole disjunction — OR is only safe to serve when every arm is.
    * A conjunction without any OR conjunct returns None at zero cost. */
  private[views] def orIndexSeqs(
      db: FlumeDb, conjuncts: Seq[Column]): Option[(Int, DataFrame, Boolean)] = {
    val indexes = mountedIndexes(db)
    if (indexes.isEmpty) return None
    lazy val schema = db.mapped.schema

    def eqPath(d: Column): Option[EqArm] = for {
      (attr, values) <- ColumnBridge.eqInOnAttribute(d)
      viewName <- indexes.get(attr)
      field <- schema.find(_.name == attr)
      keys <- Some(values.flatMap(v => keyString(v, field.dataType)))
      if keys.length == values.length
    } yield EqArm(viewName, keys)

    // range path over the arm's conjuncts: first indexed column with
    // range bounds, ALL of that column's bounds applied to the decode
    def rangePath(armConjuncts: Seq[Column]): Option[ReadArm] = {
      val ranged = armConjuncts.flatMap(ColumnBridge.rangeOnAttribute)
      ranged.collectFirst(Function.unlift { case (attr, _, _) =>
        for {
          viewName <- indexes.get(attr)
          field <- schema.find(_.name == attr)
          bounds <- Some(ranged.filter(_._1 == attr))
          if bounds.forall { case (_, _, v) =>
            scala.util.Try(keyString(v, field.dataType)).toOption.flatten.isDefined
          }
        } yield {
          val decoded = col("key").cast(field.dataType)
          val pred = bounds.map { case (_, op, v) =>
            val l = lit(v).cast(field.dataType)
            op match {
              case ">=" => decoded >= l
              case "<=" => decoded <= l
              case ">"  => decoded > l
              case "<"  => decoded < l
            }
          }.reduce(_ && _)
          ReadArm(viewName, p => p.where(pred))
        }
      })
    }

    def armPath(d: Column): Option[OrArm] = {
      val armConjuncts = ColumnBridge.conjuncts(d)
      // a single-predicate arm tries eq first (exact); a conjunctive
      // arm may serve through ANY of its conjuncts (superset read)
      armConjuncts.flatMap(eqPath).headOption
        .map(a => if (armConjuncts.length == 1) a
          else ReadArm(a.viewName, p =>
            if (a.keys.isEmpty) p.where(lit(false))
            else p.where(col("key").isin(a.keys: _*))))
        .orElse(rangePath(armConjuncts))
    }

    conjuncts.zipWithIndex.collectFirst(Function.unlift { case (c, i) =>
      val ds = ColumnBridge.disjuncts(c)
      if (ds.length < 2) None
      else {
        val arms = ds.map(armPath)
        if (arms.exists(_.isEmpty)) None
        else {
          val flat = arms.flatten
          val exact = flat.forall(_.isInstanceOf[EqArm])
          val eqByView = flat.collect { case EqArm(v, ks) => (v, ks) }
            .groupBy(_._1).map { case (v, ks) => v -> ks.flatMap(_._2).distinct }
          val reads: Seq[Option[DataFrame]] =
            eqByView.toSeq.sortBy(_._1).map { case (viewName, keys) =>
              db.gated(viewName)(_.frameOption).map { p =>
                if (keys.isEmpty) p.where(lit(false)).select(col("seq"))
                else p.where(col("key").isin(keys: _*)).select(col("seq"))
              }
            } ++ flat.collect { case ReadArm(viewName, f) =>
              db.gated(viewName)(_.frameOption).map(p => f(p).select(col("seq")))
            }
          if (reads.exists(_.isEmpty)) None
          else {
            val rs = reads.flatten
            val seqDf =
              if (rs.length == 1 && exact) rs.head
              else rs.reduce(_ union _).distinct()
            Some((i, seqDf, exact))
          }
        }
      }
    })
  }

  /** First conjunct of the form `indexedCol = lit` / `indexedCol in
    * (lits…)` for which the db has a mounted single-column index. */
  private def indexHit(db: FlumeDb, conjuncts: Seq[Column]): Option[IndexPlan] = {
    val indexes = mountedIndexes(db)
    if (indexes.isEmpty) return None
    lazy val schema = db.mapped.schema
    conjuncts.zipWithIndex.collectFirst(Function.unlift { case (c, i) =>
      for {
        (attr, values) <- ColumnBridge.eqInOnAttribute(c)
        viewName <- indexes.get(attr)
        field <- schema.find(_.name == attr)
        keys <- Some(values.flatMap(v => keyString(v, field.dataType)))
        // a key that failed conversion means we can't trust the lookup
        if keys.length == values.length
      } yield IndexPlan(viewName, Set(i),
        p => p.where(col("key").isin(keys: _*)), dropMatched = true)
    })
  }

  /** Range-predicate index selection (the reference's level views are
    * ORDERED — range reads are native to its index family,
    * `/root/reference/README.md:93`). The first indexed column carrying
    * `>=`/`<=`/`>`/`<` conjuncts (in conjunct order; `between` arrives as
    * its two halves via the `and`-split) becomes a range read of that
    * index's posting table: the stored string key is decoded back to the
    * column's type and bounded by ALL of that column's range conjuncts at
    * once. For a string column the decode is the identity, so the bound
    * pushes straight to the posting parquet's min/max stats; for other
    * types the posting table is still orders of magnitude narrower than
    * the log scan it replaces. The original conjuncts stay as residual
    * filters on the seq-restricted rows — a zero-cost guard that keeps
    * the rewrite exact even where `cast(cast(x as string) as t)` might
    * not round-trip. */
  private def rangeIndexHit(db: FlumeDb, conjuncts: Seq[Column]): Option[IndexPlan] = {
    val indexes = mountedIndexes(db)
    if (indexes.isEmpty) return None
    lazy val schema = db.mapped.schema
    val ranged = conjuncts.zipWithIndex.flatMap { case (c, i) =>
      ColumnBridge.rangeOnAttribute(c).map { case (a, op, v) => (a, op, v, i) }
    }
    ranged.collectFirst(Function.unlift { case (attr, _, _, _) =>
      for {
        viewName <- indexes.get(attr)
        field <- schema.find(_.name == attr)
        bounds <- Some(ranged.filter(_._1 == attr))
        // every bound literal must represent cleanly in the column type;
        // otherwise fall back to the scan rather than mis-bound the read
        if bounds.forall { case (_, _, v, _) =>
          scala.util.Try(keyString(v, field.dataType)).toOption.flatten.isDefined
        }
      } yield {
        val decoded = col("key").cast(field.dataType)
        val pred = bounds.map { case (_, op, v, _) =>
          val l = lit(v).cast(field.dataType)
          op match {
            case ">=" => decoded >= l
            case "<=" => decoded <= l
            case ">"  => decoded > l
            case "<"  => decoded < l
          }
        }.reduce(_ && _)
        IndexPlan(viewName, bounds.map(_._4).toSet,
          p => p.where(pred), dropMatched = false)
      }
    })
  }
}
