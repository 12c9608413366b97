package graft.streaming

import scala.util.chaining._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Splits
import graft.streaming.BatchStore.{Step, materialize}

/** Streaming fixed-size per-stratum sampling — the streaming twin of
  * [[graft.operators.Splits.samplePerStratum]]: micro-batches of documents
  * maintain a RUNNING "k per language/source" sample over everything seen
  * so far, the always-fresh eval/inspection cut a continuously-ingesting
  * corpus pipeline wants without re-scanning history.
  *
  * Reference scope note: the reference engine has no streaming surface
  * (`handler.go:77-92` is a fixed refresh loop); this is part of the
  * build's training-data-pipeline extension mandate.
  *
  * Why this shape: the batch operator's selection — the k smallest
  * `md5(id:seed)` keys per stratum — is a MERGEABLE top-k under a total
  * order, so the micro-batch is the unit of merge (the exact property the
  * batch form's two-level shard merge exploits, applied across TIME
  * instead of across shards): per batch, take the batch's own per-stratum
  * top-k (the verified batch operator, bounded heaps), union with the
  * held sample, and re-select top-k. State is ≤ k rows per stratum —
  * stratum-count-sized, never corpus-sized — and each merge costs
  * |batch| + |state| with no history re-scan.
  *
  * Replay semantics: unlike the counter merges ([[CmsStream]],
  * [[PhashStream]]), min-k selection over a DEDUPLICATED union is
  * IDEMPOTENT — re-delivering a batch re-unions rows that are already
  * in or below the held sample and changes nothing. The
  * `dropDuplicates(stratum, id)` before re-selection is what makes that
  * true (a replayed row must not appear twice and occupy two of a
  * stratum's k slots); the [[BatchStore]] guard is kept anyway so a
  * replay skips the merge work entirely, not just its effect.
  */
object SampleStream {

  /** (stratum, id, sample_key) running sample held across batches, under
    * the [[BatchStore]] contract. With `durable` every applied non-empty
    * batch snapshots the merged sample (≤ k rows per stratum — bounded),
    * restored by [[SampleStore.restore]] instead of serving a reset
    * sample while the checkpoint marks batches delivered. Merge
    * idempotence means a replay that slips the restored guard is
    * harmless anyway.
    */
  final class SampleStore(
      spark: SparkSession, initial: DataFrame,
      stratumCol: String, idCol: String, k: Int, seed: Long = 12345L,
      durable: Option[String] = None) {
    require(k >= 1, "k must be positive")

    private def reselect(df: DataFrame): DataFrame =
      graft.plans.TopK.perKey(
        df.dropDuplicates(stratumCol, idCol),
        Seq(stratumCol), Seq(("sample_key", true), (idCol, true)), k)

    private def sampled(df: DataFrame): DataFrame =
      df.select(col(stratumCol), col(idCol), col("sample_key"))

    private val core = new BatchStore[DataFrame](
      materialize(reselect(sampled(initial))), Seq(_),
      durable.map(BatchStore.Log(spark, _)))

    /** The current sample — always fully materialized, never mid-merge. */
    def current: DataFrame = core.state

    /** Merge one micro-batch of (stratum, id) rows; returns whether the
      * batch was applied (an empty one commits nothing — replaying it is
      * trivially idempotent).
      */
    def merge(batchId: Long, batch: DataFrame): Boolean = core(batchId) { old =>
      val batchTop = Splits.samplePerStratum(
        batch.select(col(stratumCol), col(idCol)), idCol, stratumCol, k, seed = seed)
      if (batchTop.isEmpty) Step(old, commit = false)
      else Step(materialize(reselect(old.unionByName(sampled(batchTop)))))
    }
  }

  object SampleStore {
    /** Rebuild a durable store from `dir` — the restart path; a
      * missing/empty `dir` restores a cold store.
      */
    def restore(spark: SparkSession, dir: String, stratumCol: String,
        idCol: String, k: Int, seed: Long = 12345L): SampleStore =
      new SampleStore(spark, emptySample(spark, stratumCol, idCol),
        stratumCol, idCol, k, seed, Some(dir))
        .tap(s => s.core.restore((_, t) => materialize(s.sampled(t.head))))
  }

  /** An empty cold-start sample with the store's schema. */
  def emptySample(
      spark: SparkSession, stratumCol: String, idCol: String): DataFrame = {
    import spark.implicits._
    Seq.empty[(String, Long, String)].toDF(stratumCol, idCol, "sample_key")
  }

  /** `(batch, batchId) => Unit` for `writeStream.foreachBatch`. */
  def sink(store: SampleStore): (DataFrame, Long) => Unit =
    (batch, batchId) => store.merge(batchId, batch)

  /** Wire a streaming (stratum, id) source into `store` and start the
    * query; callers read `store.current` at any time.
    */
  def run(docs: DataFrame, store: SampleStore, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    BatchStore.run(docs, checkpointDir)(sink(store))
}
