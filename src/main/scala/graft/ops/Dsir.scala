package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data Selection via Importance Resampling (Xie et al. 2023,
  * arXiv:2302.03169): score every raw document by how much more likely
  * its hashed n-gram features are under a small TARGET corpus (the
  * domain you want more of) than under the raw SOURCE distribution,
  * then keep the top-weighted docs. The standard recipe for
  * domain-matching a web crawl to a curated seed set.
  *
  * Features are token bigrams hashed into `nBuckets` integer buckets
  * with the repo's portable md5 bucket (same function as
  * [[Sampling.hashPermille]], so the DuckDB oracle replays it
  * bit-for-bit); both bag-of-features models are Laplace-smoothed
  * multinomials over the bucket vocabulary, and a document's log
  * importance weight is Σ_b n_b · (ln p_target(b) − ln p_source(b)).
  *
  * Scale shape: the text is read once per side and immediately reduced
  * to 8-byte bucket ids (narrow explode — no string leaves the scan
  * stage); per-doc counts and per-bucket totals are two map-side-
  * combined aggregates; the bucket log-ratio table is ≤ nBuckets rows
  * and BROADCASTS to the weight join, so scoring 100 TB of raw text
  * shuffles only (doc, bucket, count) triples and the target corpus —
  * by construction small — never co-shuffles with the source.
  */
object Dsir {

  /** Portable bucket in [0, nBuckets) — first 7 md5 hex digits, the
    * cross-engine hash convention of the sampling family. */
  private def bucket(c: Column, nBuckets: Int): Column =
    conv(substring(md5(c), 1, 7), 16, 10).cast("bigint") % nBuckets

  /** Hashed-bigram feature buckets of a text column (array<bigint>);
    * docs with fewer than two tokens have no features. */
  def hashedBigramBuckets(text: Column, nBuckets: Int): Column = {
    val tk = TextAnalysis.tokens(text)
    val n = size(tk)
    val grams = zip_with(
      slice(tk, lit(1), greatest(n - 1, lit(0))),
      slice(tk, lit(2), greatest(n - 1, lit(0))),
      (a, b) => concat(a, lit(" "), b))
    transform(grams, g => bucket(g, nBuckets))
  }

  /** Per-document log importance weights of `corpus` against `target`.
    * Output: (idCol, weight, n_feats) — weight rounded at 4 decimals,
    * docs with no features (< 2 tokens) absent. */
  def importanceWeights(
      corpus: DataFrame,
      target: DataFrame,
      nBuckets: Int = 4096,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = Stage.checkpointed { persisted =>
    val feats = corpus
      .select(col(idCol).as("id"),
        explode(hashedBigramBuckets(col(textCol), nBuckets)).as("b"))
      .persist()
    persisted += feats
    val tfeats = target
      .select(explode(hashedBigramBuckets(col(textCol), nBuckets)).as("b"))
    val srcTot = feats.count().toDouble
    val tgt = tfeats.groupBy("b").agg(count(lit(1)).as("ct")).persist()
    persisted += tgt
    val tgtTot = tgt.agg(sum("ct")).head().getLong(0).toDouble
    val ratio = feats.groupBy("b").agg(count(lit(1)).as("cs"))
      .join(tgt, Seq("b"), "left")
      .select(col("b"),
        (log((coalesce(col("ct"), lit(0L)) + 1.0) / (tgtTot + nBuckets)) -
          log((col("cs") + 1.0) / (srcTot + nBuckets))).as("r"))
    feats.groupBy("id", "b").agg(count(lit(1)).as("n"))
      .join(broadcast(ratio), Seq("b"))
      .groupBy("id")
      .agg(round(sum(col("n") * col("r")), 4).as("weight"),
        sum("n").as("n_feats"))
      .select(col("id").as(idCol), col("weight"), col("n_feats"))
  }

  /** [[importanceWeights]] when the target IS a slice of the corpus
    * (`targetFilter` on corpus columns — the common "curated subset of
    * the crawl" shape): the text is tokenized and hashed ONCE, and the
    * target model is an aggregate over the flagged rows of the same
    * feature table. Halves the dominant cost (two text passes → one). */
  def importanceWeightsSelf(
      corpus: DataFrame,
      targetFilter: Column,
      nBuckets: Int = 4096,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = Stage.checkpointed { persisted =>
    val feats = corpus
      .select(col(idCol).as("id"), targetFilter.as("t"),
        explode(hashedBigramBuckets(col(textCol), nBuckets)).as("b"))
      .persist()
    persisted += feats
    // one grouped pass yields BOTH models: source = all rows, target =
    // the flagged subset (conditional count), totals fold driver-side
    // from the <= nBuckets stat rows
    val stats = feats.groupBy("b")
      .agg(count(lit(1)).as("cs"), count(when(col("t"), 1)).as("ct"))
      .persist()
    persisted += stats
    val tot = stats.agg(sum("cs"), sum("ct")).head()
    val (srcTot, tgtTot) = (tot.getLong(0).toDouble, tot.getLong(1).toDouble)
    val ratio = stats.select(col("b"),
      (log((col("ct") + 1.0) / (tgtTot + nBuckets)) -
        log((col("cs") + 1.0) / (srcTot + nBuckets))).as("r"))
    feats.groupBy("id", "b").agg(count(lit(1)).as("n"))
      .join(broadcast(ratio), Seq("b"))
      .groupBy("id")
      .agg(round(sum(col("n") * col("r")), 4).as("weight"),
        sum("n").as("n_feats"))
      .select(col("id").as(idCol), col("weight"), col("n_feats"))
  }

  /** The selection step: top `k` documents by (weight DESC, id) — the
    * rounded weight is the ordering key (the budget-select convention:
    * a float-jitter-proof total order both engines share). */
  def importanceSelect(
      corpus: DataFrame,
      target: DataFrame,
      k: Int,
      nBuckets: Int = 4096,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    importanceWeights(corpus, target, nBuckets, idCol, textCol)
      .orderBy(col("weight").desc, col(idCol))
      .limit(k)

  /** [[importanceSelect]] over [[importanceWeightsSelf]]. */
  def importanceSelectSelf(
      corpus: DataFrame,
      targetFilter: Column,
      k: Int,
      nBuckets: Int = 4096,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    importanceWeightsSelf(corpus, targetFilter, nBuckets, idCol, textCol)
      .orderBy(col("weight").desc, col(idCol))
      .limit(k)
}
