package graft.streaming

import scala.util.chaining._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.streaming.BatchStore.{Step, materialize}

/** Streaming cross-corpus decontamination — the streaming twin of
  * [[graft.operators.Dedup.crossJaccardPairs]]: training documents arrive
  * as micro-batches, the eval corpus is FIXED (the broadcast-small side by
  * the batch operator's own contract), and flagged (train, eval) pairs
  * accumulate across batches.
  *
  * Reference scope note: the reference engine has no text or streaming
  * surface (`handler.go:77-92` is a fixed refresh loop); this is part of
  * the build's training-data-pipeline extension mandate.
  *
  * Why this shape: a train document's verdict depends ONLY on its own
  * shingles and the eval corpus — verdicts are independent across train
  * docs, so the streamed union of per-batch pair sets IS the batch
  * operator's output over the union of batches (asserted in EngineSpec,
  * not just claimed). Each batch runs the verified batch operator against
  * the same eval frame: the two-sided inverted-index join keyed on the
  * shingle hash, eval side broadcast-small — per-batch cost is
  * Σ_h df_batch·df_eval, linear in the batch for a fixed eval set, and
  * the accumulated state is only the FLAGGED pairs (contamination-sized,
  * tiny by construction — a corpus where most pairs flag has bigger
  * problems than state size).
  *
  * Pair accumulation is NOT idempotent (re-appending a delivered batch
  * duplicates its rows), so exactly-once rests on the [[BatchStore]]
  * guard.
  */
object ContaminationStream {

  /** Accumulated flagged pairs (train_id, eval_id, jaccard).
    *
    * Durability (with `durable` set), under the [[BatchStore]] contract:
    * the pair table is APPEND-ONLY (each train doc's verdict lands in
    * exactly one batch), so each batch commits its new pairs as a delta —
    * per-batch I/O is O(batch's pairs), never O(history), and every batch
    * writes one, even an empty one, so the guard itself is durable — and
    * every `compactEvery`-th batch commits the accumulated table as a
    * full snapshot instead, pruning the deltas it covers. Restore = the
    * newest snapshot ∪ the deltas after it.
    */
  final class PairStore(spark: SparkSession, initial: DataFrame,
      durable: Option[String] = None, compactEvery: Int = 64) {
    require(compactEvery >= 1, s"compactEvery must be >= 1: $compactEvery")
    private val core = new BatchStore[DataFrame](materialize(flagged(initial)),
      Seq(_), durable.map(dir => BatchStore.Log(spark, dir, deltas = Some(dir),
        every = compactEvery)))

    /** The accumulated pairs — always fully materialized, never mid-swap. */
    def current: DataFrame = core.state

    /** Append one micro-batch's flagged pairs; returns whether the batch
      * was applied.
      */
    def add(batchId: Long, pairs: DataFrame): Boolean = core(batchId) { old =>
      val delta = materialize(flagged(pairs))
      Step(if (delta.isEmpty) old else materialize(old.unionAll(delta)), Seq(delta))
    }
  }

  object PairStore {
    /** Rebuild a durable store from `dir` — the restart path,
      * [[BatchStore.restore]]; a missing/empty `dir` restores a cold store.
      */
    def restore(spark: SparkSession, dir: String,
        compactEvery: Int = 64): PairStore =
      new PairStore(spark, emptyPairs(spark), Some(dir), compactEvery)
        .tap(_.core.restore((_, t) => materialize(flagged(t.head)),
          (s, d) => materialize(s.unionAll(flagged(d.head)))))
  }

  private def flagged(df: DataFrame): DataFrame =
    df.select(col("train_id"), col("eval_id"), col("jaccard"))

  /** An empty cold-start pair table with the store's schema. */
  def emptyPairs(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Long, Double)].toDF("train_id", "eval_id", "jaccard")
  }

  /** `(batch, batchId) => Unit` for `writeStream.foreachBatch`: run the
    * verified batch decontamination operator on (batch × eval), append
    * the flagged pairs.
    */
  def sink(store: PairStore, evalDocs: DataFrame,
           n: Int = 3, tau: Double = 0.5): (DataFrame, Long) => Unit =
    (batch, batchId) =>
      store.add(batchId, Dedup.crossJaccardPairs(batch, evalDocs, n = n, tau = tau))

  /** Wire a streaming training-document source into `store` against a
    * fixed eval corpus and start the query; callers read `store.current`
    * at any time.
    */
  def run(trainDocs: DataFrame, evalDocs: DataFrame, store: PairStore,
          checkpointDir: String, n: Int = 3, tau: Double = 0.5)
      : org.apache.spark.sql.streaming.StreamingQuery =
    BatchStore.run(trainDocs, checkpointDir)(sink(store, evalDocs, n, tau))
}
