package graft.ops

import graft.core.Fence
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`).
  *
  * Baseline: brute-force cosine top-k — exact, one broadcast of the query
  * set, one narrow pass over the corpus, `TakeOrderedAndProject` for the
  * top-k (no full sort). Scale path: hyperplane-LSH bucketing — signature
  * is a narrow per-row computation; candidate generation is an equi-join
  * on small integer bucket keys, so a 1000-executor cluster shuffles
  * 8-byte keys, not 100 TB of vectors.
  */
object Similarity {

  /** Dot product of two float-array columns, accumulated in double.
    * Built-in higher-order functions — no UDF serialization wall. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))

  /** Cosine via composable built-ins (reference formulation; kept for
    * comparison tests — [[cosine]] routes to the native expression). */
  def cosineHof(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Native codegen'd cosine ([[graft.functions.CosineSimilarity]]):
    * primitive float loop inside whole-stage codegen, same accumulation
    * order as the HOF form (bit-identical results). */
  def cosine(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.cosine_native(a, b)

  /** Exact cosine top-k for a single query vector (as a literal array).
    * The plan is scan → narrow cosine → TakeOrderedAndProject: no shuffle
    * of vectors, only k rows to the driver per partition. */
  def knnForVector(
      corpus: DataFrame,
      queryVec: Seq[Float],
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      excludeId: Option[Long] = None): DataFrame = {
    val q = array(queryVec.map(v => lit(v)): _*)
    val base = excludeId.fold(corpus)(id => corpus.where(col(idCol) =!= id))
    base.select(col(idCol), round(cosine(col(vecCol), q), 4).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  /** Exact cosine top-k for a whole query frame: broadcast the queries
    * (small side), cross-join against the corpus, rank per query. One
    * pass over the corpus regardless of query count. */
  def knnBatch(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("nbr_id"), col(vecCol).as("nbr_vec"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("query_vec"))
    val scored = c.crossJoin(broadcast(q))
      .where(col("query_id") =!= col("nbr_id"))
      .select(col("query_id"), col("nbr_id"),
        round(cosine(col("query_vec"), col("nbr_vec")), 4).as("cos"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("nbr_id"))
    scored.withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
  }

  /** Random-hyperplane LSH signature: bit p = sign(v · h_p), planes drawn
    * deterministically from a mix of (plane, dim) — reproducible with no
    * stored model, and scale-invariant (so a scaled copy of a vector
    * lands in the same bucket). Routes to the native codegen'd
    * [[graft.functions.HyperplaneSig]]: a primitive nBits × dim loop
    * inside whole-stage codegen, versus a Scala UDF paying per-row Seq
    * boxing outside it (the last hot-path UDF in the project before this
    * rung of the expression ladder). */
  def hyperplaneSignature(vec: Column, nBits: Int = 16): Column =
    graft.functions.HyperplaneSig.hyperplane_sig(vec, nBits).as("sig")

  /** UDF formulation, kept ONLY for bit-identity comparison tests against
    * the native expression (the [[cosineHof]] precedent). */
  def hyperplaneSignatureUdf(vec: Column, nBits: Int = 16): Column =
    hyperplaneSigUdf(nBits)(vec.cast("array<float>")).as("sig")

  private def hyperplaneSigUdf(nBits: Int) = udf { v: Seq[Float] =>
    var sig = 0L
    var p = 0
    while (p < nBits) {
      var acc = 0.0
      var j = 0
      val n = v.length
      while (j < n) {
        var h = (p.toLong * 0x9E3779B97F4A7C15L) ^ (j.toLong * 0xC2B2AE3D27D4EB4FL)
        h = (h ^ (h >>> 31)) * 0x7FB5D329728EA185L
        h ^= h >>> 27
        acc += v(j) * ((java.lang.Math.floorMod(h, 1000000L).toDouble / 500000.0) - 1.0)
        j += 1
      }
      if (acc >= 0) sig |= (1L << p)
      p += 1
    }
    sig
  }

  /** IVF (inverted-file) ANN — the other scale path. A coarse quantizer
    * of `nCentroids` seed vectors partitions the corpus by nearest
    * centroid; a query probes only the `nProbe` closest cells, so the
    * exact-cosine refine touches `~nProbe/nCentroids` of the data. At
    * cluster scale the cell id is a partition/bucket column and probing
    * is partition pruning; here it is a pushed-down `isin` filter. */
  /** Deterministic coarse quantizer seeds: the first `nCentroids` vectors
    * by id — reproducible with no trained model or stored state. */
  def seedCentroids(corpus: DataFrame, nCentroids: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): Array[(Long, Seq[Float])] =
    corpus.orderBy(col(idCol)).limit(nCentroids)
      .select(col(idCol), col(vecCol)).collect()
      .map(r => (r.getLong(0), r.getAs[scala.collection.Seq[Float]](1).toSeq))

  /** Nearest-centroid cell id as a column (argmax cosine, ties to the
    * higher centroid id) — the assignment used both by the one-shot
    * [[ivfSearch]] and by [[graft.views.IVFIndexView]]'s stored layout.
    *
    * This literal form inlines one struct per centroid into the
    * expression tree — narrow and shuffle-free, but O(nCents) plan
    * nodes, so it is capped at [[CellAssignLiteralMax]]; above that,
    * [[assignCells]] switches to the broadcast-join argmax
    * ([[cellAssignJoined]]) that SemDeDup's published k ∝ N operating
    * point (~1e5 clusters, Abbas et al. 2023 §3) requires. */
  def cellAssign(vec: Column, cents: Array[(Long, Seq[Float])]): Column =
    array_max(array(cents.map { case (cid, cvec) =>
      struct(cosine(vec, typedLit(cvec).cast("array<float>")).as("cos"), lit(cid).as("cid"))
    }.toIndexedSeq: _*)).getField("cid")

  /** Strategy threshold for [[assignCells]]: at or below this many
    * centroids the literal expression tree ([[cellAssign]]) wins (zero
    * shuffle, whole-stage codegen); above it, expression-tree size and
    * codegen limits are O(nCents) and the broadcast-centroid-table join
    * takes over — the same materialized-cost strategy switch as
    * [[Cluster.connectedComponents]]'s driver/distributed fork. */
  val CellAssignLiteralMax = 256

  /** Nearest-centroid assignment via a broadcast JOIN of the centroid
    * table: each corpus row meets every centroid (broadcast nested-loop
    * against a k-row table — no corpus shuffle), cosine is computed per
    * (row, centroid), and a `max(struct(cos, cid))` aggregate takes the
    * argmax (ties to the higher cid — bit-identical tie-break and
    * accumulation order to [[cellAssign]], pinned by `EmbeddingOpsSpec`).
    * The partial aggregate collapses the k-fold expansion map-side
    * (every row's k candidates live in one partition, by construction of
    * a broadcast join), so the shuffle moves one row per input row — the
    * grouped columns plus the row's other columns carried via `first`.
    * `idCol` must be unique per row (it is the aggregate key).
    *
    * Plan shape is O(1) in nCents: one broadcast of a k × dim float
    * table (k = 1e5 × 768 dims ≈ 300 MB — broadcast-sized, vs infeasible
    * as literal expression nodes). */
  def cellAssignJoined(
      df: DataFrame,
      cents: Array[(Long, Seq[Float])],
      idCol: String,
      vecCol: String,
      cellCol: String = "cell"): DataFrame = {
    require(!df.columns.contains(cellCol),
      s"input already has a '$cellCol' column — the carried-column aggregate would collide")
    val spark = df.sparkSession
    import spark.implicits._
    val centTable = cents.toSeq.toDF("__cent_cid", "__cent_vec")
      .select(col("__cent_cid"), col("__cent_vec").cast("array<float>").as("__cent_vec"))
    val carried = df.columns.filterNot(_ == idCol).toIndexedSeq
      .map(c => first(col(c)).as(c))
    val cellAgg = max(struct(
      cosine(col(vecCol), col("__cent_vec")).as("cos"),
      col("__cent_cid").as("cid"))).getField("cid").as(cellCol)
    df.crossJoin(broadcast(centTable))
      .groupBy(col(idCol))
      .agg((carried :+ cellAgg).head, (carried :+ cellAgg).tail: _*)
  }

  /** Nearest-centroid cell assignment with the strategy switch: appends
    * `cellCol` to `df`, via the literal expression for small quantizers
    * and the broadcast-join argmax above [[CellAssignLiteralMax]]. All
    * IVF/SemDeDup call sites route through this, so raising nCells to
    * the published k ∝ N scale changes the plan, not the caller. */
  def assignCells(
      df: DataFrame,
      cents: Array[(Long, Seq[Float])],
      idCol: String,
      vecCol: String,
      cellCol: String = "cell"): DataFrame =
    if (cents.length <= CellAssignLiteralMax)
      df.withColumn(cellCol, cellAssign(col(vecCol), cents))
    else cellAssignJoined(df, cents, idCol, vecCol, cellCol)

  /** The `nProbe` centroid ids closest to the query, by driver-side
    * cosine over the (tiny) centroid table. */
  def probeCells(cents: Array[(Long, Seq[Float])], queryVec: Seq[Float], nProbe: Int): Seq[Long] =
    cents.map { case (cid, cvec) =>
      val dot = cvec.zip(queryVec).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val n1 = math.sqrt(cvec.map(x => x.toDouble * x.toDouble).sum)
      val n2 = math.sqrt(queryVec.map(x => x.toDouble * x.toDouble).sum)
      (cid, dot / (n1 * n2))
    }.sortBy(-_._2).take(nProbe).map(_._1).toSeq

  def ivfSearch(
      corpus: DataFrame,
      queryVec: Seq[Float],
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      nCentroids: Int = 16,
      nProbe: Int = 4,
      excludeId: Option[Long] = None): DataFrame = {
    val cents = seedCentroids(corpus, nCentroids, idCol, vecCol)
    val probe = probeCells(cents, queryVec, nProbe)
    val q = typedLit(queryVec).cast("array<float>")
    val base = excludeId.fold(corpus)(id => corpus.where(col(idCol) =!= id))
    assignCells(base, cents, idCol, vecCol, "__cell")
      .where(col("__cell").isin(probe: _*))
      .select(col(idCol), round(cosine(col(vecCol), q), 4).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  /** Batch IVF search: every query in `queries` probes its own
    * `nProbe` closest cells and refines with exact cosine — the
    * ANN-serving shape for a query FRAME (vs [[ivfSearch]]'s single
    * driver-side vector). Per-query probe selection is distributed: the
    * (tiny) centroid table broadcasts against the query frame and a
    * per-query window keeps the top `nProbe` cells (ties to the LOWER
    * cid — [[probeCells]]' stable-sort convention), so nothing about
    * the query set ever lands on the driver. The candidate join is
    * (query, cell) ⨝ (corpus, cell) on the 8-byte cell id — at cluster
    * scale with a stored per-cell layout ([[graft.views.IVFIndexView]])
    * the corpus side is partition-pruned to the union of probed cells;
    * refine cost is ~nProbe/nCentroids of corpus × queries. Top-k per
    * query tie-breaks (cos DESC, nbr id ASC) like [[knnBatch]]. */
  def ivfSearchBatch(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      nCentroids: Int = 16,
      nProbe: Int = 4,
      maxBroadcastQueries: Long = 10000L): DataFrame = {
    val cents = seedCentroids(corpus, nCentroids, idCol, vecCol)
    val spark = corpus.sparkSession
    import spark.implicits._
    val centTable = cents.toSeq.toDF("__cid", "__cvec")
      .select(col("__cid"), col("__cvec").cast("array<float>").as("__cvec"))
    val qw = Window.partitionBy("query_id").orderBy(col("__qcos").desc, col("__cid"))
    val probe = queries.select(col(idCol).as("query_id"), col(vecCol).as("query_vec"))
      .crossJoin(broadcast(centTable))
      .select(col("query_id"), col("query_vec"), col("__cid"),
        cosine(col("query_vec"), col("__cvec")).as("__qcos"))
      .withColumn("__rn", row_number().over(qw)).where(col("__rn") <= nProbe)
      .select(col("query_id"), col("query_vec"), col("__cid").as("__cell"))
    val assigned = assignCells(
      corpus.select(col(idCol).as("nbr_id"), col(vecCol).as("nbr_vec")),
      cents, "nbr_id", "nbr_vec", "__cell")
    // broadcast fence (the lookupJoin discipline): the probe carries
    // nProbe rows WITH the query vector per query — a corpus-sized
    // query frame must fall back to the cell equi-join shuffle, not
    // force-broadcast gigabytes of vectors
    val fenced = if (Fence.broadcastable(queries, maxBroadcastQueries)) broadcast(probe) else probe
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("nbr_id"))
    assigned.join(fenced, Seq("__cell"))
      .where(col("query_id") =!= col("nbr_id"))
      .select(col("query_id"), col("nbr_id"),
        round(cosine(col("query_vec"), col("nbr_vec")), 4).as("cos"))
      .withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
  }

  /** Corpus augmented with the hyperplane signature as a stored column —
    * write this once (a table column, or a bucket key) so ANN queries
    * skip the per-query signature pass and the `bit_count` prefilter
    * reads an 8-byte column off disk instead of recomputing nBits × dim
    * multiply-adds per row per query. */
  def withHyperplaneSignatures(
      corpus: DataFrame,
      vecCol: String = "embedding",
      nBits: Int = 16,
      sigCol: String = "sig"): DataFrame =
    corpus.withColumn(sigCol, hyperplaneSignature(col(vecCol), nBits))

  /** ANN via LSH filter-then-refine: compare signatures by hamming
    * distance to the query signature, and only run exact cosine on
    * candidates within `maxHamming`. The cheap `bit_count(xor)`
    * prefilter prunes most of the corpus before the 64-multiply cosine.
    * Pass `sigCol` when the corpus already stores its signatures (see
    * [[withHyperplaneSignatures]]) — computed here otherwise, and
    * `nBits` must then match the stored column. */
  def annForVector(
      corpus: DataFrame,
      queryVec: Seq[Float],
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      nBits: Int = 16,
      maxHamming: Int = 6,
      excludeId: Option[Long] = None,
      sigCol: Option[String] = None): DataFrame = {
    val q = array(queryVec.map(v => lit(v)): _*)
    val base = excludeId.fold(corpus)(id => corpus.where(col(idCol) =!= id))
    val withSig = sigCol match {
      case Some(c) => base.select(col(idCol), col(vecCol), col(c).as("sig"))
      case None    => base.select(col(idCol), col(vecCol), hyperplaneSignature(col(vecCol), nBits).as("sig"))
    }
    val qSigRow = corpus.sparkSession.range(1)
      .select(hyperplaneSignature(typedLit(queryVec).cast("array<float>"), nBits).as("qsig")).head()
    val qSig = qSigRow.getLong(0)
    withSig
      .where(bit_count(col("sig").bitwiseXOR(lit(qSig))) <= maxHamming)
      .select(col(idCol), round(cosine(col(vecCol), q), 4).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }
}
