package flumebench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** SplitMix64: a tiny, fully specified PRNG, so the same seed yields the
  * same inputs on every JVM and platform. */
final class Rng(seed: Long) {
  private var s = seed
  def nextLong(): Long = {
    s += 0x9E3779B97F4A7C15L
    var z = s
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
  def nextInt(n: Int): Int = ((nextLong() >>> 1) % n).toInt
  /** An independent stream derived from this one's seed and a label. */
  def fork(label: Long): Rng = new Rng(seed * 31 + label * 0x632BE59BD9B4E019L)
}

/** Zipf(s) over ranks 0 until n, sampled by binary search on the CDF. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }
  def sample(r: Rng): Int = {
    val u = r.nextDouble()
    var lo = 0; var hi = n - 1
    while (lo < hi) { val mid = (lo + hi) >>> 1; if (cdf(mid) < u) lo = mid + 1 else hi = mid }
    lo
  }
}

/** A fixed vocabulary: the ten stopwords the engine's quality score
  * counts come first (so Zipf makes them the most frequent tokens, as in
  * natural text), then distinct consonant-vowel words. */
object Vocab {
  val stop: Vector[String] = Vector("the", "and", "of", "to", "a", "in", "is", "it", "that", "for")
  private val syll: Vector[String] =
    for (c <- "bdfgklmnprsvz".toVector; v <- "aeiou".toVector) yield s"$c$v"
  /** Word `i` (i >= 0): stopwords, then 2-syllable, then 3-syllable words. */
  def word(i: Int): String =
    if (i < stop.size) stop(i)
    else {
      val j = i - stop.size
      val n = syll.size
      if (j < n * n) syll(j % n) + syll(j / n)
      else { val k = j - n * n; syll(k % n) + syll((k / n) % n) + syll(k / (n * n) % n) + "x" }
    }
}

/** One serve/takedown event. `value` is integral so sums are exact in any
  * summation order. */
final case class Event(userId: Long, eventType: String, value: Double, text: String) {
  def row: Row = Row(userId, eventType, value, text)
}

object Event {
  val schema: StructType = StructType(Seq(
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("text", StringType)))
  val types: Vector[String] = Vector("view", "click", "like", "share", "buy", "report")
}

/** Seeded event stream: Zipf-skewed users, a skewed event-type mix, an
  * integral value and 12 Zipf tokens of text. */
final class EventGen(seed: Long, users: Int = 20000, vocab: Int = 4000) {
  private val r = new Rng(seed)
  private val userZ = new Zipf(users, 1.1)
  private val typeZ = new Zipf(Event.types.size, 1.0)
  private val wordZ = new Zipf(vocab, 1.0)
  // users are permuted so the Zipf head is not the smallest ids
  private val perm: Array[Long] = {
    val a = Array.tabulate(users)(i => i.toLong + 1)
    val pr = new Rng(seed ^ 0x5DEECE66DL)
    var i = a.length - 1
    while (i > 0) { val j = pr.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a
  }
  def user(rank: Int): Long = perm(rank)
  def next(): Event = Event(
    perm(userZ.sample(r)),
    Event.types(typeZ.sample(r)),
    r.nextInt(1000).toDouble,
    Iterator.fill(12)(Vocab.word(wordZ.sample(r))).mkString(" "))
  def batch(n: Int): Vector[Event] = Vector.fill(n)(next())
}

/** One crawl document and what the generator planted it as. */
final case class Doc(id: Long, text: String, kind: String) {
  def row: Row = Row(id, text)
}

object Doc {
  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))
  val Original = "original"; val Exact = "exact"; val Near = "near"; val Garbage = "garbage"
}

/** Seeded crawl: ~10% planted exact copies and ~15% near copies (5% of
  * tokens replaced) of earlier originals, ~2% punctuation-only garbage,
  * the rest fresh originals of 60-100 Zipf tokens. Each original is
  * copied at most once per kind, so copies never chain. Ids increase, so
  * a copy always has a higher id than its source. */
final class DocGen(seed: Long, vocab: Int = 20000) {
  private val r = new Rng(seed)
  private val wordZ = new Zipf(vocab, 0.9)
  private var nextId = 1L
  private val originals = scala.collection.mutable.ArrayBuffer.empty[Doc]
  private val copiedExact = scala.collection.mutable.Set.empty[Long]
  private val copiedNear = scala.collection.mutable.Set.empty[Long]

  private def fresh(): String = Iterator.fill(60 + r.nextInt(41))(Vocab.word(wordZ.sample(r))).mkString(" ")

  private def pick(used: scala.collection.mutable.Set[Long]): Option[Doc] = {
    var tries = 0
    while (tries < 8 && originals.nonEmpty) {
      val d = originals(r.nextInt(originals.size))
      if (!used.contains(d.id)) { used += d.id; return Some(d) }
      tries += 1
    }
    None
  }

  private def edit(text: String): String = {
    val toks = text.split(" ")
    val edits = math.max(1, toks.length / 20)
    val at = scala.collection.mutable.Set.empty[Int]
    while (at.size < edits) at += r.nextInt(toks.length)
    at.foreach(i => toks(i) = Vocab.word(Vocab.stop.size + 10000 + r.nextInt(vocab)))
    toks.mkString(" ")
  }

  def batch(n: Int): Vector[Doc] = Vector.fill(n) {
    val id = nextId; nextId += 1
    val u = r.nextDouble()
    val planted =
      if (u < 0.10) pick(copiedExact).map(s => Doc(id, s.text, Doc.Exact))
      else if (u < 0.25) pick(copiedNear).map(s => Doc(id, edit(s.text), Doc.Near))
      else if (u < 0.27) Some(Doc(id, Iterator.fill(8 + r.nextInt(8))("#$%&*@!?").mkString(" "), Doc.Garbage))
      else None
    planted.getOrElse { val d = Doc(id, fresh(), Doc.Original); originals += d; d }
  }
}
