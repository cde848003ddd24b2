package graft.ops

import graft.core.Fence
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair encoding: learn the top-N symbol merges from corpus word
  * frequencies, then encode any string column against the learned merge
  * table — the missing half of the tokenizer story next to
  * [[TextAnalysis.vocabBuild]] (whose `bpeIshTokens` is a regex stand-in).
  *
  * Semantics (identical across the driver trainer, the distributed
  * trainer, and the DuckDB oracle):
  *
  *  - a word is its lowercase `[a-z0-9]+` token; symbols start as single
  *    characters (no end-of-word marker — documented choice);
  *  - pair counts are the naive adjacent counts weighted by word
  *    frequency (overlapping runs count every position, as in the
  *    published Sennrich et al. reference implementation);
  *  - the best pair is (count DESC, left ASC, right ASC) — fully
  *    deterministic tie-break;
  *  - applying one merge is a single left-to-right greedy pass
  *    (non-overlapping), and merges apply strictly in rank order. Because
  *    a merge's components can only be symbols that existed when it was
  *    learned, applying ranks 1..N in order from scratch reproduces the
  *    interleaved training application exactly — encode needs no rank
  *    re-evaluation loop.
  *
  * The single-pass-greedy trick that keeps encode COLUMNAR (no UDF):
  * represent a word with each symbol pipe-wrapped — `low` →
  * `|l||o||w|`. Symbols never contain `|`, so `replace(s, "|a||b|",
  * "|ab|")` can only match whole adjacent symbols, matches never share
  * characters, and replace-all therefore IS the left-to-right greedy
  * pass (`|a||a||a|` → `|aa||a|`). Encoding N merges is a fold of N
  * codegen'd string replaces — portable verbatim to the oracle.
  *
  * Scale shape: training touches only the DISTINCT-WORD table (one
  * map-side-combined shuffle of the corpus to build it — the vocabBuild
  * shape); each distributed iteration is one pair-count aggregate over
  * that small table plus a 1-row argmax to the driver (the k-means
  * centroid pattern). When the vocabulary fits on the driver
  * (≤ `maxDriverVocab`), an exact in-memory trainer replaces N shuffle
  * rounds with one collect — the same size-based strategy switch as
  * `Cluster.connectedComponents`; the distributed loop remains the
  * 100 TB path and both are equality-tested.
  *
  * TAKEDOWN POLICY: a merge table is a ranked list of character-pair
  * fusions chosen by CORPUS-WIDE pair frequency — aggregate order
  * statistics, not document content (any individual document's
  * influence is one vote among the distinct-word counts), so a takedown
  * may keep a trained tokenizer; retraining would also invalidate every
  * stored token-count artifact for no erasure gain. The exception a
  * holder must own: a vocabulary so small that a merge rank exists
  * ONLY because of the retracted document (it effectively spells out
  * that document's words) — retrain via
  * [[graft.core.FlumeDb.onRetract]] in that regime.
  */
object Bpe {

  final case class Merge(rank: Int, left: String, right: String)

  /** Corpus word frequencies: one hash aggregate, map-side combined. */
  def wordCounts(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(explode(TextAnalysis.tokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** `low` → `|l||o||w|` — the pipe-wrapped symbol representation. */
  def wrapSymbols(word: Column): Column = regexp_replace(word, "(.)", "|$1|")

  /** Symbols of a wrapped string, as an array column. */
  def symbolsOf(wrapped: Column): Column =
    split(regexp_replace(wrapped, "^\\||\\|$", ""), "\\|\\|")

  /** Fold the merge table over a wrapped string, in rank order; each
    * replace-all is one greedy merge pass (see object doc). */
  def applyMerges(wrapped: Column, merges: Seq[Merge]): Column =
    merges.sortBy(_.rank).foldLeft(wrapped) { (c, m) =>
      replace(c, lit(s"|${m.left}||${m.right}|"), lit(s"|${m.left}${m.right}|"))
    }

  /** Encode a word column against a learned merge table: array of BPE
    * symbols. Pure column algebra — N string replaces, no UDF. */
  def encodeWord(word: Column, merges: Seq[Merge]): Column =
    symbolsOf(applyMerges(wrapSymbols(word), merges))

  /** Train `nMerges` merges. Driver trainer when the vocabulary is
    * driver-small, distributed loop otherwise. */
  def train(
      docs: DataFrame,
      nMerges: Int,
      textCol: String = "text",
      maxDriverVocab: Long = 1L << 20): Seq[Merge] = {
    val wc = wordCounts(docs, textCol).persist()
    try {
      if (Fence.broadcastable(wc, maxDriverVocab))
        trainDriver(wc.collect().map(r => (r.getString(0), r.getLong(1))), nMerges)
      else trainDistributed(wc, nMerges)
    } finally wc.unpersist(blocking = false)
  }

  /** Exact in-memory trainer over collected (word, freq) pairs. */
  def trainDriver(wordFreqs: Array[(String, Long)], nMerges: Int): Seq[Merge] = {
    val syms = wordFreqs.map { case (w, f) => (w.map(_.toString).toArray, f) }
    val out = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var rank = 1
    var done = false
    val cur = syms.map { case (s, f) => (scala.collection.mutable.ArrayBuffer(s.toIndexedSeq: _*), f) }
    while (rank <= nMerges && !done) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      cur.foreach { case (s, f) =>
        var i = 0
        while (i < s.length - 1) {
          val k = (s(i), s(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + f)
          i += 1
        }
      }
      if (counts.isEmpty) done = true
      else {
        val ((a, b), _) = counts.minBy { case ((a, b), c) => (-c, a, b) }
        out += Merge(rank, a, b)
        cur.indices.foreach { k =>
          val (s, f) = cur(k)
          val merged = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < s.length) {
            if (i < s.length - 1 && s(i) == a && s(i + 1) == b) { merged += a + b; i += 2 }
            else { merged += s(i); i += 1 }
          }
          cur(k) = (merged, f)
        }
        rank += 1
      }
    }
    out.toSeq
  }

  /** Distributed trainer: one pair-count aggregate + 1-row argmax per
    * rank over the distinct-word table; lineage truncated every 8 rounds
    * so plan depth stays bounded. The 100 TB path. */
  def trainDistributed(wc: DataFrame, nMerges: Int): Seq[Merge] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var w = wc.withColumn("s", wrapSymbols(col("word")))
    var rank = 1
    var done = false
    while (rank <= nMerges && !done) {
      val sy = symbolsOf(col("s"))
      val best = w
        .select(col("freq"), explode(zip_with(
          slice(sy, lit(1), size(sy) - 1),
          slice(sy, lit(2), size(sy) - 1),
          (a, b) => struct(a.as("a"), b.as("b")))).as("pr"))
        .groupBy(col("pr.a").as("a"), col("pr.b").as("b"))
        .agg(sum("freq").as("c"))
        .orderBy(col("c").desc, col("a"), col("b"))
        .limit(1).collect()
      if (best.isEmpty) done = true
      else {
        val (a, b) = (best(0).getString(0), best(0).getString(1))
        out += Merge(rank, a, b)
        w = w.withColumn("s", replace(col("s"), lit(s"|$a||$b|"), lit(s"|$a$b|")))
        if (rank % 8 == 0) w = w.localCheckpoint(true)
        rank += 1
      }
    }
    out.toSeq
  }
}
