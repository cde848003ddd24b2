package graft.views

import graft.core.{FlumeView, ViewDef}
import org.apache.spark.sql.DataFrame

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** Durable flumeview-reduce: the reduced value persisted alongside
  * `(version, since)` in ONE atomically-replaced file — the shape of the
  * reference's store for reduce views (flumeview-reduce keeps
  * `{version, since, value}` in an atomic file and reloads it at open,
  * so a restart resumes from the stored cursor instead of refolding the
  * log). Restated here per-absorb rather than on a write timer: the
  * value file is the commit record, written AFTER the in-memory fold, via
  * write-temp-then-rename so a crash leaves either the old state or the
  * new — never a torn file.
  *
  * The data plane is [[MergeableReduceView]]'s: the per-batch partial is
  * a distributed aggregate (map-side combined, one summary row to the
  * driver), merged into the accumulator; only the tiny encoded summary
  * ever touches disk. A version bump at mount wipes the file and returns
  * the view to since = -1 (the "version changes ⇒ just rebuilds" rule,
  * `/root/reference/README.md:26-29`).
  *
  * @param encode/decode value codec (a short text line) — no Java
  *                      serialization, so stored state survives
  *                      recompiles and is greppable on disk.
  */
final class PersistentReduceView[S](
    dir: String,
    version: Int,
    partial: DataFrame => S,
    merge: (S, S) => S,
    encode: S => String,
    decode: String => S,
    inverse: Option[(S, S) => S] = None)
    extends FlumeView with graft.core.InvertibleReduceView {

  private val root: Path = Paths.get(dir)
  private val file: Path = root.resolve("VALUE")
  @volatile private var state: Option[S] = None
  @volatile private var sinceSeq: Long = -1L

  locally {
    Files.createDirectories(root)
    readFile() match {
      case Some((v, s, enc)) if v == version =>
        sinceSeq = s
        state = enc.map(decode)
      case Some(_) => destroy() // version bump: rebuild from scratch
      case None    => ()
    }
  }

  private def readFile(): Option[(Int, Long, Option[String])] =
    if (!Files.exists(file)) None
    else Files.readString(file).split("\n", 2) match {
      case Array(head, enc) => head.trim.split("\\s+") match {
        case Array(v, s) => Some((v.toInt, s.toLong, Some(enc)))
        case _           => None
      }
      case Array(head) => head.trim.split("\\s+") match {
        case Array(v, s) => Some((v.toInt, s.toLong, None))
        case _           => None
      }
      case _ => None
    }

  private def writeFile(): Unit = {
    val tmp = root.resolve("VALUE.tmp")
    val body = s"$version $sinceSeq" + state.map(s => "\n" + encode(s)).getOrElse("")
    Files.writeString(tmp, body)
    Files.move(tmp, file, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  def since: Long = sinceSeq
  def value: Option[S] = state

  /** Path read into the reduced value (flumeview-reduce `get(path)`). */
  def get(path: Seq[String] = Nil): Option[Any] =
    state.flatMap(ReduceValue.navigate(_, path))

  def absorb(entries: DataFrame, upto: Long): Unit = {
    val p = partial(entries)
    state = Some(state.fold(p)(s => merge(s, p)))
    sinceSeq = upto
    writeFile()
  }

  /** Exact-inverse folds take db-level takedowns in place — the
    * un-merged value is committed through the same atomic file swap as
    * an absorb (cursor unchanged: a takedown is not an absorb). */
  def canUnabsorb: Boolean = inverse.isDefined
  def prepareUnabsorb(removedRows: DataFrame): () => Unit = {
    val p = partial(removedRows) // eager: the rows are about to leave storage
    () => {
      state = state.map(s => inverse.get(s, p))
      writeFile()
    }
  }

  def destroy(): Unit = {
    state = None; sinceSeq = -1L
    Files.deleteIfExists(file)
  }
}

/** Durable flumeview-bloom: the sketch bytes persisted atomically after
  * each absorb (same write-temp-then-rename commit as
  * [[PersistentReduceView]]'s value file; Spark's `BloomFilter` has a
  * stable binary codec). The per-batch filter is still built
  * distributed (tree-aggregated) and merged in place; only the sketch —
  * megabytes at most, independent of corpus size — touches disk, so a
  * reopen answers membership immediately with no log replay. */
final class PersistentBloomView(
    dir: String,
    viewVersion: Int,
    keyCol: String,
    expectedItems: Long,
    fpp: Double) extends FlumeView {

  private val root = Paths.get(dir)
  private val file = root.resolve("SKETCH")
  @volatile private var filter: Option[org.apache.spark.util.sketch.BloomFilter] = None
  @volatile private var sinceSeq: Long = -1L

  locally {
    Files.createDirectories(root)
    if (Files.exists(file)) {
      val in = Files.newInputStream(file)
      try {
        val head = new java.io.DataInputStream(in)
        val v = head.readInt(); val s = head.readLong()
        if (v == viewVersion) {
          sinceSeq = s
          filter = Some(org.apache.spark.util.sketch.BloomFilter.readFrom(in))
        } else destroy()
      } finally in.close()
    }
  }

  private def writeFile(): Unit = {
    val tmp = root.resolve("SKETCH.tmp")
    val out = Files.newOutputStream(tmp)
    try {
      val head = new java.io.DataOutputStream(out)
      head.writeInt(viewVersion); head.writeLong(sinceSeq)
      filter.foreach(_.writeTo(out))
    } finally out.close()
    Files.move(tmp, file, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  def since: Long = sinceSeq

  def absorb(entries: DataFrame, upto: Long): Unit = {
    val b = entries.stat.bloomFilter(keyCol, expectedItems, fpp)
    filter match {
      case Some(f) => f.mergeInPlace(b)
      case None    => filter = Some(b)
    }
    sinceSeq = upto
    writeFile()
  }

  def mightContain(v: Any): Boolean = filter.exists(_.mightContain(v))

  def destroy(): Unit = {
    filter = None; sinceSeq = -1L
    Files.deleteIfExists(file)
  }
}

object PersistentBloomView {
  def apply(dir: String, keyCol: String, expectedItems: Long = 1000000L,
      fpp: Double = 0.01, version: Int = 1): ViewDef =
    ViewDef(version)((_, name) =>
      new PersistentBloomView(s"$dir/$name", version, keyCol, expectedItems, fpp))
}

object PersistentSumReduceView {
  /** Durable (sum, count) — the persistent form of [[SumReduceView]],
    * codec = one "sum count" text line. Sum/count has an exact inverse,
    * so this view takes db-level takedowns IN PLACE (the removed rows'
    * partial subtracted, committed through the value-file swap);
    * [[PersistentStatsReduceView]] deliberately rebuilds instead —
    * un-merging Welford's m2 is catastrophic cancellation when the
    * removed mass approaches the total. */
  def apply(dir: String, viewVersion: Int, valueCol: String): ViewDef =
    ViewDef(viewVersion) { (_, _) =>
      import org.apache.spark.sql.functions._
      new PersistentReduceView[(Double, Long)](
        dir, viewVersion,
        partial = { df =>
          val r = df.agg(coalesce(sum(col(valueCol)), lit(0.0)).as("s"),
            count(lit(1)).as("c")).head()
          (r.getDouble(0), r.getLong(1))
        },
        merge = { case ((s1, c1), (s2, c2)) => (s1 + s2, c1 + c2) },
        encode = s => s"${s._1} ${s._2}",
        decode = { line =>
          val Array(s, c) = line.trim.split("\\s+")
          (s.toDouble, c.toLong)
        },
        inverse = Some({ case ((s1, c1), (s2, c2)) => (s1 - s2, c1 - c2) }))
    }
}

object PersistentStatsReduceView {
  /** Durable running (count, mean, m2) — the persistent form of
    * [[StatsReduceView]], codec = one "n mean m2" text line. */
  def apply(dir: String, viewVersion: Int, valueCol: String): ViewDef =
    ViewDef(viewVersion) { (_, _) =>
      import org.apache.spark.sql.functions._
      new PersistentReduceView[Stats](
        dir, viewVersion,
        partial = { df =>
          val r = df.agg(
            count(col(valueCol)).as("n"),
            avg(col(valueCol)).as("mean"),
            var_samp(col(valueCol)).as("v")).head()
          val n = r.getLong(0)
          if (n == 0) Stats(0, 0.0, 0.0)
          else Stats(n, r.getDouble(1), if (n < 2) 0.0 else r.getDouble(2) * (n - 1))
        },
        merge = _ merge _,
        encode = s => s"${s.n} ${s.mean} ${s.m2}",
        decode = { line =>
          val Array(n, mean, m2) = line.trim.split("\\s+")
          Stats(n.toLong, mean.toDouble, m2.toDouble)
        })
    }
}
