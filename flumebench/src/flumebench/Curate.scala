package flumebench

import graft.core.ParquetLog
import graft.streaming.StreamingCurator
import graft.views.SignatureTableView
import org.apache.spark.sql.functions.col

import java.nio.file.Path
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Continuous curation: seeded crawl batches, alternately ~500 and ~2000
  * docs, are appended to a raw log; the streaming curator (quality floor,
  * exact dedup, MinHash-LSH against the stored signature table) curates
  * each batch before the next is appended. Small batches show the fixed
  * per-batch cost, large ones the per-document cost. */
final class Curate(run: Run) extends Workload {
  private val small = if (run.warmup) 100 else 500
  private val large = if (run.warmup) 200 else 2000
  private val first = if (run.warmup) 100 else 200
  private var root: Path = _
  private var raw: ParquetLog = _
  private var curated: ParquetLog = _
  private var curator: StreamingCurator = _
  private var gen: DocGen = _
  private val batches = mutable.ArrayBuffer.empty[Vector[Doc]]
  private var bytesPerRow = Double.NaN
  private var files = 0L

  def rateKinds: Set[String] = Set("batch_small", "batch_large")
  def storedBytesPerRow: Double = bytesPerRow
  def logFiles: Long = files

  private def stop(): Unit = if (curator != null) { curator.stop(); Disk.delete(root) }

  def setup(): Unit = run.setup { i =>
    stop()
    root = run.dir(s"curate-$i")
    raw = new ParquetLog(run.spark, root.resolve("raw").toString, Doc.schema, bucketSize = 8192L)
    curated = new ParquetLog(run.spark, root.resolve("curated").toString, Doc.schema, bucketSize = 8192L)
    val sig = new SignatureTableView(run.spark, root.resolve("sig").toString, 1, "doc_id", "text")
    curator = new StreamingCurator(raw, curated, sig, root.resolve("commit").toString,
      checkpointDir = Some(root.resolve("checkpoint").toString))
    gen = new DocGen(run.seed)
    batches.clear()
    val docs = gen.batch(first)
    raw.append(frame(docs))
    curator.awaitParity()
    batches += docs
  }

  private def frame(docs: Seq[Doc]) = run.spark.createDataFrame(docs.map(_.row).asJava, Doc.schema)

  private def batch(kind: String, n: Int): Unit = {
    val docs = gen.batch(n)
    val df = frame(docs)
    var (t0, t1) = (0.0, 0.0)
    run.op(kind, "write", (_: Unit) => n.toLong) {
      t0 = Clock.now()
      raw.append(df)
      t1 = Clock.now()
      curator.awaitParity()
    }
    if (run.tracing) run.span("core.log.append", t0, t1)
    batches += docs
    // a consumer reads back fresh originals (always kept) and planted
    // exact copies (always dropped)
    docs.filter(_.kind == Doc.Original).take(3).foreach(d => curatedGet(d.id, Some(d.text)))
    docs.filter(_.kind == Doc.Exact).take(2).foreach(d => curatedGet(d.id, None))
  }

  private def curatedGet(id: Long, want: Option[String]): Unit = {
    val rows = run.op("curated_get", "read", (r: Array[String]) => r.length.toLong) {
      curated.read.where(col("doc_id") === id).select("text").collect().map(_.getString(0))
    }
    run.check(Checks.equal(s"curated_get($id)", rows.toSeq, want.toSeq))
  }

  def cycle(c: Int): Unit = {
    batch("batch_small", small)
    // a warm-up has compiled the large batch's code paths by then
    if (!run.warmup) batch("batch_large", large)
  }
  override def minCycles: Int = 2

  /** The kept set must equal the brute-force reference of the curator's
    * per-batch semantics, which also pins the planted copies. */
  def finish(): Unit = {
    val kept = curated.read.select("doc_id").collect().map(_.getLong(0)).toSet
    run.check(Checks.curated(kept, batches.toSeq).headOption)
    val all = batches.flatten
    bytesPerRow = Disk.bytesUnder(root).toDouble / all.size
    files = Disk.countFiles(root.resolve("raw"), ".parquet") + Disk.countFiles(root.resolve("curated"), ".parquet")
    stop()
  }
}

/** Plain-Scala reference of one curator batch, applied batch by batch:
  * quality floor, exact dedup (lowest id per text), drop the higher id of
  * every within-batch pair at 3-shingle Jaccard >= 0.6, then drop batch
  * docs matching a stored (earlier kept) doc. Candidate pairs come from a
  * rare-first prefix filter, which never misses a pair above the
  * threshold; every candidate is verified by exact Jaccard. */
object CurateReference {
  val threshold = 0.6
  val minQuality = 0.2
  private val enStop = Set("the", "and", "of", "to", "a", "in", "is", "it", "that", "for")

  def tokens(text: String): Array[String] = text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)

  private def round4(x: Double): Double = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** The engine's quality score (TextAnalysis.qualityCol), restated. */
  def quality(text: String): Double = {
    val toks = tokens(text)
    val n = toks.length.toDouble
    val stop = toks.count(enStop).toDouble
    val punct = text.count(c => !(c.isLetterOrDigit && c < 128) && !" \t\n\u000b\f\r".contains(c)).toDouble /
      math.max(text.length, 1)
    round4(math.min(n / 50.0, 1.0) * 0.4 + math.min(stop / math.max(n, 1.0) * 5.0, 1.0) * 0.4 +
      math.max(1.0 - punct * 4.0, 0.0) * 0.2)
  }

  /** Word 3-shingles; a doc of one or two tokens is its own shingles. */
  def shingles(text: String): Set[String] = {
    val t = tokens(text)
    if (t.length < 3) t.toSet else t.sliding(3).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b)
    round4(inter.toDouble / (a.size + b.size - inter))
  }

  def kept(batches: Seq[Seq[Doc]]): Set[Long] = {
    val sh = batches.flatten.map(d => d.id -> shingles(d.text)).toMap
    val df = mutable.HashMap.empty[String, Int]
    sh.values.foreach(_.foreach(s => df(s) = df.getOrElse(s, 0) + 1))
    def prefix(id: Long): Seq[String] = {
      val s = sh(id).toSeq.sortBy(x => (df(x), x))
      s.take(s.size - math.ceil(0.59 * s.size).toInt + 1)
    }
    val storedIdx = mutable.HashMap.empty[String, mutable.ArrayBuffer[Long]]
    val out = mutable.Set.empty[Long]
    batches.foreach { docs =>
      val floored = docs.filter(d => quality(d.text) >= minQuality)
        .groupBy(_.text).values.map(_.minBy(_.id)).toSeq.sortBy(_.id)
      val feats = floored.filter(d => sh(d.id).nonEmpty)
      val batchIdx = mutable.HashMap.empty[String, mutable.ArrayBuffer[Long]]
      feats.foreach(d => prefix(d.id).foreach(s => batchIdx.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += d.id))
      val selfDrop = feats.filter { d =>
        prefix(d.id).iterator.flatMap(s => batchIdx(s)).exists(o => o < d.id && jaccard(sh(o), sh(d.id)) >= threshold)
      }.map(_.id).toSet
      val crossDrop = feats.filter(d => !selfDrop(d.id)).filter { d =>
        prefix(d.id).iterator.flatMap(s => storedIdx.getOrElse(s, Nil)).exists(o => jaccard(sh(o), sh(d.id)) >= threshold)
      }.map(_.id).toSet
      val kept = floored.filter(d => !selfDrop(d.id) && !crossDrop(d.id))
      out ++= kept.map(_.id)
      kept.filter(d => sh(d.id).nonEmpty)
        .foreach(d => prefix(d.id).foreach(s => storedIdx.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += d.id))
    }
    out.toSet
  }
}
