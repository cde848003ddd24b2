package graft.views

import graft.core.{Fence, FlumeView, ViewDef}
import graft.ops.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path}

/** Durable IVF (inverted-file) ANN index as a flume view: the corpus is
  * stored partitioned by nearest-centroid cell, so probing `nProbe`
  * cells is *partition pruning* at the parquet scan — the promise in
  * [[graft.ops.Similarity.ivfSearch]]'s doc ("at cluster scale the cell
  * id is a partition/bucket column"), kept. A query's exact-cosine
  * refine then touches ~nProbe/nCentroids of the data on disk, not a
  * recomputed cell column over the whole corpus.
  *
  * Layout under `dir`:
  *  - `centroids/` — the coarse quantizer, fixed at first absorb
  *    (deterministic seeds: first `nCentroids` vectors by id);
  *  - `batch=<upto>/cell=<c>/` — batch-atomic deltas partitioned by
  *    cell (incremental absorbs assign new vectors to existing cells),
  *    stored via the shared [[DeltaProtocol]] crash discipline.
  */
final class IVFIndexView(
    protected val spark: SparkSession,
    protected val dir: String,
    protected val protocolVersion: Int,
    idCol: String,
    vecCol: String,
    nCentroids: Int,
    compactEvery: Int = 0) extends FlumeView with FeatureTableDeltas {

  override protected def autoCompactEvery: Int = compactEvery

  private val centroidsDir: Path = root.resolve("centroids")
  @volatile private var cents: Option[Array[(Long, Seq[Float])]] = None

  openProtocol()

  /** The quantizer: loaded from disk, or seeded from the given frame and
    * persisted on first absorb. Stored schema is
    * `(cid, vec, seeded: boolean)`: a SEEDED centroid is a literal COPY
    * of the corpus vector whose id is `cid` (`seedCentroids` — cid IS
    * the seed's id), so it is takedown-bearing data; a redacted or
    * derived centroid (`seeded = false`) is an aggregate summary. Pre-
    * provenance stores lack the column — every centroid there IS a
    * literal seed copy, so absence reads as `seeded = true`. */
  private def centroids(seedFrom: Option[DataFrame] = None): Array[(Long, Seq[Float])] =
    cents.getOrElse {
      val loaded =
        if (Files.isDirectory(centroidsDir))
          ParquetFooters.read(spark, centroidsDir)
            .select(col("cid"), col("vec")).collect()
            .map(r => (r.getLong(0), r.getAs[scala.collection.Seq[Float]](1).toSeq))
            .sortBy(_._1)
        else seedFrom match {
          case Some(df) =>
            val seeds = Similarity.seedCentroids(df, nCentroids, idCol, vecCol)
            require(seeds.nonEmpty,
              "IVF quantizer cannot seed from an empty batch; absorb data first")
            writeCentroids(seeds.toSeq.map { case (cid, v) => (cid, v, true) })
            seeds
          case None => throw new IllegalStateException("IVF index is empty — no centroids yet")
        }
      cents = Some(loaded)
      loaded
    }

  private def writeCentroids(rows: Seq[(Long, Seq[Float], Boolean)]): Unit = {
    import spark.implicits._
    rows.toDF("cid", "vec", "seeded").write.mode("overwrite")
      .parquet(centroidsDir.toString)
    cents = None // reload on next use
  }

  /** Centroids that are still literal SEED COPIES (takedown-bearing):
    * their cids. Pre-provenance stores (no `seeded` column) report every
    * centroid, which is exactly true of them. */
  private def seededCids(): Set[Long] =
    if (!Files.isDirectory(centroidsDir)) Set.empty
    else {
      val df = ParquetFooters.read(spark, centroidsDir)
      val flagged =
        if (df.columns.contains("seeded")) df.where(col("seeded")) else df
      flagged.select("cid").collect().map(_.getLong(0)).toSet
    }

  def absorb(entries: DataFrame, upto: Long): Unit = {
    val cs = centroids(seedFrom = Some(entries))
    Similarity.assignCells(entries.select(col(idCol), col(vecCol)), cs, idCol, vecCol, "cell")
      // co-locate each cell before the dynamic-partition write: one file
      // per cell instead of (tasks × cells) small files
      .repartition(col("cell"))
      .write.partitionBy("cell").mode("overwrite")
      .parquet(batchPath(upto).toString)
    sinceSeq = upto
    writeManifest() // delta is durable before the cursor moves
    maybeCompact()
  }

  /** The stored index, with `cell` as a partition column — a filter on
    * it prunes whole directories at planning time. */
  def frame: DataFrame = {
    val dirs = committedBatchDirs().map(_.toString)
    if (dirs.isEmpty)
      throw new IllegalStateException("IVF index is empty")
    spark.read.option("basePath", root.toString).parquet(dirs: _*)
  }

  override def frameOption: Option[DataFrame] =
    if (committedBatchDirs().isEmpty) None else Some(frame)

  /** Probe the `nProbe` closest cells, exact-cosine refine inside them.
    * The cell filter is a partition-pruning `isin` — only the probed
    * directories are listed and scanned. */
  def search(queryVec: Seq[Float], k: Int, nProbe: Int = 4,
      excludeId: Option[Long] = None): DataFrame = {
    val probe = Similarity.probeCells(centroids(), queryVec, nProbe)
    val q = typedLit(queryVec).cast("array<float>")
    val base = excludeId.fold(frame)(id => frame.where(col(idCol) =!= id))
    base.where(col("cell").isin(probe: _*))
      .select(col(idCol), round(Similarity.cosine(col(vecCol), q), 4).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  /** Batch search over the STORED per-cell layout — the serving twin
    * of [[graft.ops.Similarity.ivfSearchBatch]]: each query's `nProbe`
    * cells come from a distributed window over the broadcast stored
    * centroid table, the corpus scan is pruned to the UNION of probed
    * cells (an `isin` on the `cell` partition column — directory
    * pruning, ≤ nCentroids values so driver-safe), and the candidate
    * equi-join on `cell` restricts each query to its own probes before
    * the exact-cosine top-k. Cost: touched bytes ∝ |∪ probes| /
    * nCentroids of the index, refine ∝ queries × their probed cells. */
  def searchBatch(queries: DataFrame, k: Int, nProbe: Int = 4,
      maxBroadcastQueries: Long = 10000L): DataFrame = {
    val cs = centroids()
    import spark.implicits._
    val centTable = cs.toSeq.toDF("__cid", "__cvec")
      .select(col("__cid"), col("__cvec").cast("array<float>").as("__cvec"))
    val qw = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("__qcos").desc, col("__cid"))
    val probe = queries.select(col(idCol).as("query_id"), col(vecCol).as("query_vec"))
      .crossJoin(broadcast(centTable))
      .select(col("query_id"), col("query_vec"), col("__cid"),
        Similarity.cosine(col("query_vec"), col("__cvec")).as("__qcos"))
      .withColumn("__rn", row_number().over(qw)).where(col("__rn") <= nProbe)
      .select(col("query_id"), col("query_vec"), col("__cid").as("cell"))
      .persist()
    val touched = probe.select("cell").distinct()
      .collect().map(_.getLong(0)) // ≤ nCentroids values — driver-safe
    val pruned = frame.where(col("cell").isin(touched.toIndexedSeq: _*))
      .select(col("cell"), col(idCol).as("nbr_id"), col(vecCol).as("nbr_vec"))
    // broadcast fence (the lookupJoin discipline): a corpus-sized query
    // frame falls back to the cell equi-join shuffle
    val fenced = if (Fence.broadcastable(queries, maxBroadcastQueries)) broadcast(probe) else probe
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cos").desc, col("nbr_id"))
    val out = pruned.join(fenced, Seq("cell"))
      .where(col("query_id") =!= col("nbr_id"))
      .select(col("query_id"), col("nbr_id"),
        round(Similarity.cosine(col("query_vec"), col("nbr_vec")), 4).as("cos"))
      .withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
    val ck = out.localCheckpoint(true)
    probe.unpersist(blocking = false)
    ck
  }

  /** Incremental SemDeDup ([[graft.ops.Dedup.semanticDedup]]'s
    * recurring form): keep/drop verdicts for a NEW batch against the
    * STORED corpus. Batch vectors assign to the FIXED quantizer; only
    * the touched cells' partitions are read (an `isin` over ≤
    * nCentroids cell ids — directory pruning, so the recurring cost is
    * ∝ batch × mean cell size, never the corpus: the same contract as
    * `minhashLshIncrementalStored`). A batch vector drops when a
    * stored cell-mate has cosine ≥ `tau` (the stored copy is always
    * canonical) or a lower-id batch cell-mate does; `dup_of` is the
    * lowest such id. Equivalent to from-scratch semanticDedup over
    * corpus ∪ batch (same `maxCell`) whenever stored ids precede batch
    * ids and the seeds coincide — `PersistenceSpec` pins that parity.
    *
    * `maxCell` is the hot-cell guard mirroring `semanticDedup`'s: a
    * cell whose stored + batch population exceeds it skips the pairwise
    * stage and keeps all its batch members — both for parity and so
    * the batch-vs-stored join stays bounded by maxCell × batch-members
    * per cell on a skewed corpus (the SCALING.md recurring-cost
    * contract assumed this; r7 ADVICE flagged its absence).
    *
    * Output: (idCol, cell, kept, dup_of) — one verdict per batch row. */
  def dedupBatch(batch: DataFrame, tau: Double, maxCell: Int = 4096): DataFrame = {
    val cs = centroids()
    val assigned = Similarity.assignCells(
        batch.select(col(idCol).as("id"), col(vecCol).as("v")),
        cs, "id", "v", "cell")
      .persist()
    val touched = assigned.select("cell").distinct()
      .collect().map(_.getLong(0)) // ≤ nCentroids values — driver-safe
    val base = frame.where(col("cell").isin(touched.toIndexedSeq: _*))
      .select(col("cell"), col(idCol).as("bid"), col(vecCol).as("bv"))
    // hot cell = stored + batch members over maxCell (the union count,
    // so the verdict matches from-scratch semanticDedup on the union)
    val hot = base.groupBy("cell").agg(count(lit(1)).as("__nb"))
      .join(assigned.groupBy("cell").agg(count(lit(1)).as("__na")), Seq("cell"), "full")
      .where(coalesce(col("__nb"), lit(0L)) + coalesce(col("__na"), lit(0L)) > maxCell)
      .select("cell")
    val small = assigned.join(hot, Seq("cell"), "left_anti")
    val vsBase = small.join(base, Seq("cell"))
      .where(Similarity.cosine(col("v"), col("bv")) >= tau)
      .groupBy("id").agg(min("bid").as("__dupBase"))
    val vsSelf = small.select(col("cell"), col("id").as("ida"), col("v").as("va"))
      .join(small.select(col("cell"), col("id"), col("v").as("vb")), Seq("cell"))
      .where(col("ida") < col("id") &&
        Similarity.cosine(col("va"), col("vb")) >= tau)
      .groupBy("id").agg(min("ida").as("__dupSelf"))
    val out = assigned
      .join(vsBase, Seq("id"), "left")
      .join(vsSelf, Seq("id"), "left")
      .select(col("id").as(idCol), col("cell"),
        (col("__dupBase").isNull && col("__dupSelf").isNull).as("kept"),
        least(col("__dupBase"), col("__dupSelf")).as("dup_of"))
    val ck = out.localCheckpoint(true)
    assigned.unpersist(blocking = false)
    ck
  }

  /** Delta reads keep `cell` (and `batch`) as discovered partition
    * columns so filters on them stay directory pruning. */
  override protected def readDeltas(dirs: Seq[java.nio.file.Path]): DataFrame =
    spark.read.option("basePath", root.toString).parquet(dirs.map(_.toString): _*)

  /** A takedown rewrites only the matched `cell=` subdirectories of the
    * matched deltas — the per-cell layout is also the retraction unit. */
  override protected def retractPartitionCol: Option[String] = Some("cell")

  // ---- derived-model takedown policy (the quantizer) ----------------------
  // The coarse quantizer's SEEDED centroids are literal copies of corpus
  // vectors (seed-by-id), so a takedown that removes a seed vector's row
  // must also remove its copy from the model — unlike k-means-refined
  // centroids, which are aggregates a takedown may keep. Policy here:
  // after the row purge, every hit seed centroid is REDACTED — replaced
  // by the element-wise mean of its cell's SURVIVING members (an
  // aggregate, like a k-means centroid), keeping its cid so stored cell
  // assignments stay valid (recall drifts marginally on that cell; the
  // exact-cosine refine is unaffected). An emptied cell redacts to the
  // mean of the other centroids; a TOTAL takedown deletes the quantizer
  // outright (it was 100% retracted bytes) and the next absorb re-seeds.

  /** Seed cids among the ids being taken down, without scanning the
    * corpus: the id LIST filters against the ≤ nCentroids seed set. */
  private def hitSeedsForIds(ids: DataFrame, idsCol: String): Set[Long] = {
    val seeds = seededCids()
    if (seeds.isEmpty) Set.empty
    else if (idsCol == idCol)
      ids.where(col(idsCol).isin(seeds.toSeq: _*))
        .select(col(idsCol).cast("long")).distinct().collect().map(_.getLong(0)).toSet
    else if (committedBatchDirs().isEmpty) Set.empty
    else // takedown keyed on another column: check the stored seed rows
      frame.join(ids.select(col(idsCol)).distinct(), Seq(idsCol), "left_semi")
        .where(col(idCol).isin(seeds.toSeq: _*))
        .select(col(idCol).cast("long")).distinct().collect().map(_.getLong(0)).toSet
  }

  /** Seed cids matching a predicate takedown: evaluated over the ≤
    * nCentroids reconstructed seed rows (driver-small, no corpus scan);
    * a cond referencing columns seeds lack falls back to the pruned
    * stored scan. */
  private def hitSeedsForCond(cond: org.apache.spark.sql.Column): Set[Long] = {
    val seeds = seededCids()
    if (seeds.isEmpty) return Set.empty
    import spark.implicits._
    val seedRows = centroids().filter(c => seeds.contains(c._1)).toSeq
      .toDF(idCol, vecCol)
      .select(col(idCol), col(vecCol).cast("array<float>").as(vecCol))
    scala.util.Try(
      seedRows.where(coalesce(cond, lit(false)))
        .select(col(idCol)).collect().map(_.getLong(0)).toSet
    ).getOrElse {
      if (committedBatchDirs().isEmpty) Set.empty
      else frame.where(coalesce(cond, lit(false)))
        .where(col(idCol).isin(seeds.toSeq: _*))
        .select(col(idCol).cast("long")).distinct().collect().map(_.getLong(0)).toSet
    }
  }

  /** Redact hit seed centroids to aggregates (see the policy note). */
  private def redactSeeds(hitCids: Set[Long]): Unit = {
    if (hitCids.isEmpty) return
    if (committedBatchDirs().isEmpty) {
      // total takedown: nothing to aggregate over — the quantizer was
      // entirely retracted bytes; drop it and re-seed at next absorb
      FsLists.deleteTree(centroidsDir)
      cents = None
      return
    }
    val raw = ParquetFooters.read(spark, centroidsDir)
    val flagged = if (raw.columns.contains("seeded")) raw
      else raw.withColumn("seeded", lit(true))
    val rows = flagged.select("cid", "vec", "seeded").collect()
      .map(r => (r.getLong(0), r.getAs[scala.collection.Seq[Float]](1).toSeq, r.getBoolean(2)))
      .toSeq
    // ONE job: element-wise survivor means of the hit cells (post-purge)
    val means: Map[Long, Seq[Float]] = frame
      .where(col("cell").isin(hitCids.toSeq: _*))
      .select(col("cell").cast("long").as("cell"), posexplode(col(vecCol)))
      .groupBy("cell", "pos").agg(avg("col").as("m"))
      .collect().groupBy(_.getLong(0))
      .map { case (c, rs) =>
        c -> rs.sortBy(_.getInt(1)).map(_.getDouble(2).toFloat).toSeq
      }
    // emptied cells: the mean of every other derived/surviving centroid
    // (pure driver arithmetic — still an aggregate, never a copy)
    lazy val pool: Seq[Seq[Float]] =
      rows.collect { case (cid, v, _) if !hitCids.contains(cid) => v } ++ means.values
    lazy val poolMean: Seq[Float] =
      pool.transpose.map(xs => (xs.map(_.toDouble).sum / xs.size).toFloat)
    val out = rows.map { case (cid, vec, seeded) =>
      if (hitCids.contains(cid)) (cid, means.getOrElse(cid, poolMean), false)
      else (cid, vec, seeded)
    }
    writeCentroids(out)
  }

  override def retractWhere(cond: org.apache.spark.sql.Column): Unit = {
    val hit = hitSeedsForCond(cond) // detected BEFORE the rows leave
    super.retractWhere(cond)
    redactSeeds(hit)
  }

  override def retractIds(ids: DataFrame, idsCol: String,
      maxBroadcastKeys: Long = 4L * 1000 * 1000): Unit = {
    val hit = hitSeedsForIds(ids, idsCol)
    super.retractIds(ids, idsCol, maxBroadcastKeys)
    redactSeeds(hit)
  }

  /** The compacted base keeps the per-cell layout (one dir per cell, so
    * probes prune the base exactly like they pruned the deltas); the
    * discovered `batch` column is dropped — the base carries the cursor
    * in its own `batch=<cursor>` dir name. */
  override protected def writeMerged(df: DataFrame, path: java.nio.file.Path): Unit =
    df.drop("batch").repartition(col("cell"))
      .write.partitionBy("cell").parquet(path.toString)

  override def destroy(): Unit = {
    cents = None
    super.destroy()
  }
}

object IVFIndexView {
  def apply(dir: String, idCol: String = "vec_id", vecCol: String = "embedding",
      nCentroids: Int = 16, version: Int = 1, compactEvery: Int = 0): ViewDef =
    ViewDef(version)((db, name) => new IVFIndexView(
      db.log.spark, s"$dir/$name", version, idCol, vecCol, nCentroids, compactEvery))
}
