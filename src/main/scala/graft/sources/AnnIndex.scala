package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Persisted ANN index — the build-once / serve-many artifact lifecycle
  * around [[Similarity.trainCentroids]]/[[Similarity.ivfTopK]].
  *
  * The artifact is two parquet tables under one directory:
  *   - `centroids/` — the trained quantizer (k rows; tiny);
  *   - `corpus/` — every vector in COMPUTE representation (double array +
  *     norm) with its final cell id, PARTITIONED BY `cell`.
  *
  * Partitioning by cell is the point: the IVF probe becomes partition
  * pruning at the STORAGE layer. A serving read that probes `nprobe`
  * cells scans only those directories (`PartitionFilters` in the scan —
  * spec-pinned), so low-fan-out lookups touch nprobe/k of the corpus
  * bytes instead of all of them. At 100 TB that is the difference
  * between an index lookup and a corpus scan; nightly `build`, continuous
  * [[topK]]/[[probe]] is the same split [[graft.streaming.AnnServeStream]]
  * runs in memory.
  *
  * Assignment happens ONCE at build (the same zero-exchange broadcast
  * assignment serving would do); [[topK]] therefore skips the corpus-side
  * assignment entirely — its only per-query work is the query assignment
  * and the cell-keyed candidate join.
  */
object AnnIndex {

  /** Cluster a cell-partitioned write by `cell` ONLY when the frame's
    * planned parallelism exceeds the session's shuffle width — the
    * [[DedupIndex.build]] small-files fix (guide §6: a dynamic-partition
    * write from P input partitions opens up to P files under EVERY cell
    * directory), guarded the [[graft.operators.Dedup.spreadNarrowScan]]
    * way: IN CODE, not config. A fixture-scale write (1-2 input splits →
    * ≤2 files per cell) skips the exchange as pure overhead; a
    * corpus-scale write (thousands of splits → the P×k trap) pays one
    * narrow keyed exchange and gets cell-contiguous files.
    */
  private def cellClustered(df: DataFrame, source: DataFrame): DataFrame = {
    // The guard estimates the write's parallelism from the SOURCE frame's
    // optimizer size statistics — never from `.rdd.getNumPartitions`,
    // which forces physical planning + RDD codegen per call (measured
    // ~0.5 s/iteration on the upsert row) and under AQE even materializes
    // exchange stages. bytes / maxPartitionBytes IS how the scan planner
    // sizes its splits, so the estimate tracks the real task count; the
    // assignment join is broadcast-narrow and preserves it.
    val spark = df.sparkSession
    val width = spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
    val maxSplit = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.files.maxPartitionBytes", "128MB"))
    val srcBytes = source.queryExecution.optimizedPlan.stats.sizeInBytes
    // the local sort makes row order inside each file independent of
    // shuffle fetch order, which keeps the artifact byte-identical
    if (srcBytes > BigInt(width) * maxSplit)
      df.repartition(col("cell")).sortWithinPartitions("cell", "id")
    else df
  }

  /** Train the quantizer and write the (centroids, cell-partitioned
    * corpus) artifact. Deterministic end-to-end: same corpus + params →
    * byte-identical artifact content.
    *
    * `metaCols` names FILTERABLE metadata columns (language, license,
    * quality band, tenant) to carry into the corpus table alongside the
    * vector: a [[topK]] serve with a predicate on them then pushes the
    * filter into the parquet scan NEXT TO the cell partition filter
    * (spec-pinned `PushedFilters`), which is what makes metadata-filtered
    * vector search an index read instead of a rank-then-discard pass.
    */
  def build(emb: DataFrame, k: Int, iters: Int, dir: String,
      idCol: String = "vec_id", embCol: String = "embedding",
      metaCols: Seq[String] = Nil): Unit = {
    val cents = Similarity.trainCentroids(emb, k, iters, idCol, embCol)
    cents.write.mode("overwrite").parquet(s"$dir/centroids")
    val assigned = Similarity.assignCells(
      Similarity.prepared(emb, idCol, embCol),
      cents, nprobe = 1)
    val withMeta =
      if (metaCols.isEmpty) assigned.select(col("id"), col("v"), col("nrm"), col("cell"))
      else assigned.select(col("id"), col("v"), col("nrm"), col("cell"))
        .join(emb.select((col(idCol).as("id") +: metaCols.map(col)): _*), Seq("id"))
    cellClustered(withMeta, emb)
      .write.partitionBy("cell").mode("overwrite").parquet(s"$dir/corpus")
  }

  /** Append new vectors to an existing IVF artifact WITHOUT retraining:
    * assign them with the artifact's FROZEN quantizer (the same
    * zero-exchange broadcast assignment [[build]] runs) and append to the
    * cell-partitioned corpus — dynamic partition append touches only the
    * cells the new vectors land in. The production index-growth path
    * (nightly build, continuous appends); quantizer drift is monitored
    * separately (the centroid/cluster audits) and handled by a rebuild.
    * Serving a grown index is oracle- and spec-pinned identical to
    * building against the union corpus with the same frozen quantizer.
    */
  def append(spark: SparkSession, dir: String, emb: DataFrame,
      idCol: String = "vec_id", embCol: String = "embedding",
      metaCols: Seq[String] = Nil): Unit = {
    val cents = spark.read.parquet(s"$dir/centroids")
    val assigned = Similarity.assignCells(
        Similarity.prepared(emb, idCol, embCol), cents, nprobe = 1)
      .select(col("id"), col("v"), col("nrm"), col("cell"))
    val withMeta =
      if (metaCols.isEmpty) assigned
      else assigned.join(
        emb.select((col(idCol).as("id") +: metaCols.map(col)): _*), Seq("id"))
    // loud schema fence: an append whose metaCols differ from the build's
    // would write null-filled columns that a filtered serve then silently
    // excludes (NULL === x is never true) — confidently wrong neighbors,
    // so refuse instead
    val existing = spark.read.parquet(s"$dir/corpus").columns.toSet
    require(existing == withMeta.columns.toSet,
      s"append metaCols must match the built corpus schema: " +
        s"existing=${existing.toSeq.sorted.mkString(",")} " +
        s"appending=${withMeta.columns.sorted.mkString(",")}")
    cellClustered(withMeta, emb)
      .write.partitionBy("cell").mode("append").parquet(s"$dir/corpus")
  }

  /** The loaded artifact: `centroids` (cid, cv, cnrm) and `corpus`
    * (id, v, nrm, cell — cell is the partition column).
    */
  final case class Loaded(centroids: DataFrame, corpus: DataFrame)

  def load(spark: SparkSession, dir: String): Loaded =
    Loaded(
      spark.read.parquet(s"$dir/centroids"),
      spark.read.parquet(s"$dir/corpus"))

  /** Batch serving against the loaded index — result-identical to
    * [[Similarity.ivfTopK]] over the original corpus with the same
    * trained centroids (spec-asserted): queries assign locally against
    * the broadcast-small quantizer; the corpus side is already assigned,
    * so the plan is one cell-keyed candidate join + the per-query rank.
    */
  def topK(index: Loaded, queries: DataFrame, k: Int, nprobe: Int = 1,
      idCol: String = "vec_id", embCol: String = "embedding",
      pred: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    require(nprobe >= 1, "nprobe must be >= 1")
    val cents = Similarity.collectCentroids(index.centroids)
    val q = Similarity.assignCellsLocal(
        Similarity.prepared(queries, idCol, embCol), cents, nprobe)
      .select(col("id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("cell").as("qcell"))
    // metadata-filtered serving: the predicate applies to the corpus READ
    // (PushedFilters on the scan, next to the cell PartitionFilters when
    // composed with [[probe]]) — the [[Similarity.filteredIvfTopK]]
    // contract served off the artifact; needs the column in `metaCols`
    // at build time
    val corpus = pred.fold(index.corpus)(index.corpus.filter)
    q.join(corpus,
        col("query_id") =!= col("id") && col("qcell") === col("cell"))
      .select(
        col("query_id"),
        col("id").as("neighbor_id"),
        round(Similarity.dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 4)
          .as("score"))
      .withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("score").desc, col("neighbor_id"))).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Single-probe serving: restrict the corpus READ to the query's
    * probed cells before joining — the filter lands as
    * `PartitionFilters` on the parquet scan (spec-pinned), so only
    * nprobe of k cell directories are read at all.
    */
  def probe(index: Loaded, queries: DataFrame, k: Int, cells: Seq[Long],
      idCol: String = "vec_id", embCol: String = "embedding",
      pred: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    require(cells.nonEmpty, "probe cells must be non-empty")
    val pruned = index.corpus.filter(col("cell").isin(cells.map(java.lang.Long.valueOf): _*))
    topK(index.copy(corpus = pruned), queries, k,
      nprobe = cells.length, idCol = idCol, embCol = embCol, pred = pred)
  }

  // ───────────────────────── IVF-PQ artifact ─────────────────────────

  /** Build the IVF-PQ artifact: train ([[Similarity.trainPq]], with the
    * md5-sample `trainFrac` knob — the production "train on a sample,
    * encode everywhere" path), then persist FOUR tables under `dir`:
    *
    *   - `centroids/` — coarse quantizer (kCoarse rows; tiny);
    *   - `codebooks/` — `(s, cw, j, cm)` PQ codewords (m·ksub·dsub rows;
    *     tiny — the geometry m/ksub/dsub is implied by its key ranges,
    *     so no separate metadata file);
    *   - `codes/` — `(id, code_0..code_{m-1})` PARTITIONED BY `cell`:
    *     m small ints per vector instead of dims doubles — the table the
    *     ADC scan reads, ~dims·8/m× fewer value bytes than raw vectors
    *     (64-dim × m=8 here → 64×8B vs 8×4B, a 16× cut; spec-pinned as
    *     an on-disk byte ratio);
    *   - `vectors/` — raw compute vectors, also cell-partitioned; ONLY
    *     the exact-refine stage touches it, for `rerank` rows per query.
    *
    * Serving reads codes for the scan and vectors for the shortlist —
    * at 100 TB the ADC pass streams the small table and the big one is
    * touched rerank-deep, which is the entire economics of PQ.
    */
  def buildPq(emb: DataFrame, dir: String,
      kCoarse: Int = 4, coarseIters: Int = 2,
      m: Int = 8, ksub: Int = 8, pqIters: Int = 3, trainFrac: Double = 1.0,
      idCol: String = "vec_id", embCol: String = "embedding"): Unit = {
    val spark = emb.sparkSession
    import spark.implicits._
    val model = Similarity.trainPq(emb, kCoarse, coarseIters, m, ksub,
      pqIters, trainFrac, idCol, embCol)
    model.cents.map { case (cid, cv, cnrm) => (cid, cv.toSeq, cnrm) }
      .toDF("cid", "cv", "cnrm")
      .write.mode("overwrite").parquet(s"$dir/centroids")
    model.cb.toSeq.map { case ((s, cw, j), cm) => (s, cw, j, cm) }
      .toDF("s", "cw", "j", "cm")
      .write.mode("overwrite").parquet(s"$dir/codebooks")
    cellClustered(Similarity.encodePq(emb, model, idCol, embCol), emb)
      .write.partitionBy("cell").mode("overwrite").parquet(s"$dir/codes")
    cellClustered(Similarity.assignCellsLocal(
        Similarity.prepared(emb, idCol, embCol), model.cents, nprobe = 1)
      .select(col("id"), col("v"), col("nrm"), col("cell")), emb)
      .write.partitionBy("cell").mode("overwrite").parquet(s"$dir/vectors")
  }

  /** Append new vectors to an existing PQ artifact WITHOUT retraining:
    * encode them with the artifact's FROZEN model (the production
    * index-growth path — a nightly build, continuous appends; codebook
    * drift is monitored separately, e.g. with the centroid/cluster
    * audits, and handled by a rebuild) and add the rows to the
    * cell-partitioned codes and vectors tables. Spark's dynamic
    * partition append only touches the cells the new vectors land in.
    * Serving a grown index is spec-pinned identical to building against
    * the union corpus with the same frozen model.
    */
  def appendPq(spark: SparkSession, dir: String, emb: DataFrame,
      idCol: String = "vec_id", embCol: String = "embedding"): Unit = {
    val model = loadPq(spark, dir).model
    cellClustered(Similarity.encodePq(emb, model, idCol, embCol), emb)
      .write.partitionBy("cell").mode("append").parquet(s"$dir/codes")
    cellClustered(Similarity.assignCellsLocal(
        Similarity.prepared(emb, idCol, embCol), model.cents, nprobe = 1)
      .select(col("id"), col("v"), col("nrm"), col("cell")), emb)
      .write.partitionBy("cell").mode("append").parquet(s"$dir/vectors")
  }

  /** The loaded PQ artifact: reconstructed model (centroids + codebooks
    * collected — tiny by contract; geometry derived from the codebook
    * key ranges) plus the two cell-partitioned frames.
    */
  final case class LoadedPq(model: Similarity.PqModel,
      codes: DataFrame, vectors: DataFrame)

  def loadPq(spark: SparkSession, dir: String): LoadedPq = {
    val cents = Similarity.collectCentroids(
      spark.read.parquet(s"$dir/centroids"))
    val cb = spark.read.parquet(s"$dir/codebooks").collect()
      .map(r => ((r.getInt(0), r.getInt(1), r.getInt(2)), r.getDouble(3)))
      .toMap
    val m = cb.keys.map(_._1).max + 1
    val ksub = cb.keys.map(_._2).max + 1
    val dsub = cb.keys.map(_._3).max + 1
    LoadedPq(
      Similarity.PqModel(cents, dims = m * dsub, m = m, ksub = ksub, cb = cb),
      spark.read.parquet(s"$dir/codes"),
      spark.read.parquet(s"$dir/vectors"))
  }

  /** Batch IVF-PQ serving against the artifact — result-identical to
    * [[Similarity.ivfPqTopK]] with the same training params
    * (spec-asserted): the ADC scan reads the CODES table (the ~16×
    * smaller one), the refine reads `rerank` rows per query from the
    * vectors table.
    */
  def topKPq(index: LoadedPq, queries: DataFrame, k: Int,
      nprobe: Int = 2, rerank: Int = 50,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame =
    Similarity.pqServe(
      index.codes,
      Similarity.pqQueryTables(queries, index.model, nprobe, idCol, embCol),
      index.vectors, queries, k, rerank, index.model, idCol, embCol)

  /** Low-fan-out PQ serving: restrict BOTH artifact reads to the probed
    * cells — the filters land as `PartitionFilters` on both parquet
    * scans (spec-pinned), so an nprobe-cell lookup reads nprobe/kCoarse
    * of the code bytes and only shortlisted cells' vector files.
    */
  def probePq(index: LoadedPq, queries: DataFrame, k: Int, cells: Seq[Long],
      rerank: Int = 50,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    require(cells.nonEmpty, "probe cells must be non-empty")
    val cellVals = cells.map(java.lang.Long.valueOf)
    topKPq(
      index.copy(
        codes = index.codes.filter(col("cell").isin(cellVals: _*)),
        vectors = index.vectors.filter(col("cell").isin(cellVals: _*))),
      queries, k, nprobe = cells.length, rerank = rerank,
      idCol = idCol, embCol = embCol)
  }
}
