package graft.streaming

import scala.util.chaining._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.operators.Similarity
import graft.streaming.BatchStore.{Step, materialize}

/** Streaming ANN serving — the ONLINE half of the IVF story: the index is
  * built once offline ([[graft.operators.Similarity.trainCentroids]] +
  * the corpus, exactly the batch `ann_ivf_trained_topk` pieces), and
  * query vectors then ARRIVE as a stream, each micro-batch probing the
  * fixed index with the verified batch serving operator
  * ([[Similarity.ivfTopK]]). This is the deployment shape an ANN index
  * actually runs in — train nightly, serve continuously — expressed as a
  * stream-against-static composition of two already-verified pieces.
  *
  * Reference scope note: the reference engine has no streaming surface
  * (`handler.go:77-92` is a fixed refresh loop); this is part of the
  * build's training-data-pipeline extension mandate.
  *
  * Why this shape: per-query results are INDEPENDENT — a query's top-k
  * against a fixed index does not depend on any other query — so the
  * streamed union of per-batch results equals the batch operator over the
  * union of all queries (the [[ContaminationStream]] argument, applied to
  * serving). Per batch: one [[Similarity.ivfTopK]] run (zero-exchange
  * cell assignment on both sides, candidates bounded by the probed
  * cells), results appended to the answer table. Accumulated state is
  * answer-sized (|queries|·k), never corpus-sized; the corpus-side cell
  * assignment is computed ONCE at index build and reused by every batch.
  *
  * Append is not idempotent, so exactly-once rests on the [[BatchStore]]
  * guard.
  */
object AnnServeStream {

  /** The immutable serving index: trained centroids plus the pinned
    * corpus. `k`/`nprobe` are fixed at build time — they are index-shape
    * decisions, not per-query ones. `centroids` is exposed read-only so a
    * caller can audit the quantizer ([[Similarity.clusterStats]] takes
    * the same shape) or verify serving against the batch operator with
    * the IDENTICAL trained quantizer.
    */
  final class Index private[AnnServeStream] (
      private[AnnServeStream] val emb: DataFrame,
      val centroids: DataFrame,
      val k: Int, val nprobe: Int)

  /** Build the index: train the deterministic coarse quantizer and pin the
    * corpus (cached — every batch rescans it).
    */
  def buildIndex(
      emb: DataFrame, kCentroids: Int, iters: Int, k: Int,
      nprobe: Int = 1): Index = {
    val cents = Similarity.trainCentroids(emb, kCentroids, iters)
    val pinned = emb.persist(StorageLevel.MEMORY_AND_DISK)
    pinned.count()
    new Index(pinned, cents, k, nprobe)
  }

  /** (query_id, neighbor_id, score, rank) answers accumulated across
    * batches.
    *
    * Durability (with `durable` set): [[ContaminationStream.PairStore]]'s
    * append-only layout — each batch commits its answers as a delta
    * (O(batch·k), even when empty, so the guard is durable), every
    * `compactEvery`-th batch a full snapshot that prunes the deltas it
    * covers, so a long-lived stream does not pay O(#batches-ever)
    * listings and footers at every restore.
    */
  final class AnswerStore(spark: SparkSession, initial: DataFrame,
      durable: Option[String] = None, compactEvery: Int = 64) {
    require(compactEvery >= 1, s"compactEvery must be >= 1: $compactEvery")
    private val core = new BatchStore[DataFrame](materialize(answers(initial)),
      Seq(_), durable.map(dir => BatchStore.Log(spark, dir, deltas = Some(dir),
        every = compactEvery)))

    /** The current answer table — always fully materialized. */
    def current: DataFrame = core.state

    /** Serve one micro-batch of query vectors (vec_id, embedding) against
      * the index and append the answers; returns whether the batch was
      * applied.
      */
    def serve(batchId: Long, index: Index, queries: DataFrame): Boolean =
      core(batchId) { old =>
        val delta = materialize {
          if (queries.isEmpty) old.limit(0)
          else answers(Similarity.ivfTopK(
            index.emb, queries, index.centroids, index.k, index.nprobe))
        }
        Step(if (delta.isEmpty) old else materialize(old.unionByName(delta)),
          Seq(delta))
      }
  }

  object AnswerStore {
    /** Rebuild a durable store from `dir` — the restart path,
      * [[BatchStore.restore]]; a missing/empty `dir` restores a cold store.
      */
    def restore(spark: SparkSession, dir: String,
        compactEvery: Int = 64): AnswerStore =
      new AnswerStore(spark, emptyAnswers(spark), Some(dir), compactEvery)
        .tap(_.core.restore((_, t) => materialize(answers(t.head)),
          (s, d) => materialize(s.unionByName(answers(d.head)))))
  }

  private def answers(df: DataFrame): DataFrame =
    df.select(col("query_id"), col("neighbor_id"), col("score"), col("rank"))

  /** An empty cold-start answer table with the store's schema. */
  def emptyAnswers(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Long, Double, Long)]
      .toDF("query_id", "neighbor_id", "score", "rank")
  }

  /** `(batch, batchId) => Unit` for `writeStream.foreachBatch`. */
  def sink(store: AnswerStore, index: Index): (DataFrame, Long) => Unit =
    (batch, batchId) => store.serve(batchId, index, batch)

  /** Wire a streaming (vec_id, embedding) query source into `store` and
    * start the query; callers read `store.current` at any time.
    */
  def run(queries: DataFrame, store: AnswerStore, index: Index,
          checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    BatchStore.run(queries, checkpointDir)(sink(store, index))
}
