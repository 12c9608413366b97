package graft.streaming

import scala.util.chaining._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Multimodal
import graft.streaming.BatchStore.{Step, materialize}

/** Streaming perceptual image dedup — the streaming twin of the batch
  * `mm_phash_dup` composition: micro-batches of (doc_id, payload) images
  * are average-hashed row-locally ([[Multimodal.imageAHash]], the verified
  * batch operator) and merged into a hash-group registry held across
  * batches, so every arriving image gets a near-dup verdict against ALL
  * content seen so far, not just its own batch.
  *
  * Reference scope note: the reference engine has no image or streaming
  * surface (`handler.go:77-92` is a fixed refresh loop); this is part of
  * the build's training-data-pipeline extension mandate.
  *
  * Why this shape: a perceptual-dup registry MERGES by key — per 64-bit
  * hash, `rep_id` combines by MIN and `n_dups` by SUM — the same
  * mergeability that lets the batch groupBy combine map-side makes the
  * micro-batch the unit of merge ([[CmsStream]]'s argument, applied to a
  * DataFrame-sized registry instead of a bounded driver sketch: the
  * registry is one row per DISTINCT content hash, corpus-scale state that
  * belongs in a table, not on the driver). Per batch: hash the batch
  * (row-local, zero exchanges), group it (map-side combined on the hash
  * key), union with the registry, re-group — cost is |batch| + |registry|
  * with no pair join anywhere; corrupt payloads (the (-1, -1) sentinel)
  * are excluded from grouping exactly as the batch registry row excludes
  * them.
  *
  * `n_dups` SUM-merge is NOT idempotent (unlike [[ComponentsStream]]'s
  * min-label merge), so exactly-once rests on the [[BatchStore]] guard.
  */
object PhashStream {

  /** (ahash_hi, ahash_lo, rep_id, n_dups) registry held across batches.
    *
    * Durability (with `durable` set), under the [[BatchStore]] contract:
    * the registry is corpus-scale, so each batch commits its GROUPED
    * counts — a commutative-monoid delta: min-merge rep_id, sum-merge
    * n_dups — to the delta log under `dir/deltas` (every batch, even an
    * empty one, so the guard is durable; the grouped counts are
    * deterministic, so a torn delta's replay overwrites it identically),
    * and every `compactEvery`-th batch commits the folded registry itself
    * to `dir/full` (partitioned) instead, pruning the deltas it covers.
    * The cadence runs on empty batches too, so an idle stream's log stays
    * bounded at `compactEvery` entries. Restore = newest full snapshot ∪
    * deltas after it, re-grouped — exactly the merge algebra.
    */
  final class HashGroupStore(spark: SparkSession, initial: DataFrame,
      durable: Option[String] = None, compactEvery: Int = 64) {
    require(compactEvery >= 1, s"compactEvery must be >= 1: $compactEvery")
    private val core = new BatchStore[DataFrame](materialize(registry(initial)),
      Seq(_), durable.map(dir => BatchStore.Log(spark, s"$dir/full",
        deltas = Some(s"$dir/deltas"), every = compactEvery)))

    /** The current registry — always fully materialized, never mid-merge. */
    def current: DataFrame = core.state

    private def fold(old: DataFrame, grouped: DataFrame): DataFrame =
      materialize(old.unionAll(registry(grouped))
        .groupBy(col("ahash_hi"), col("ahash_lo"))
        .agg(min(col("rep_id")).as("rep_id"), sum(col("n_dups")).as("n_dups")))

    /** Merge one micro-batch of hashed rows (doc_id, ahash_hi, ahash_lo);
      * returns whether the batch was applied.
      */
    def merge(batchId: Long, hashed: DataFrame): Boolean = core(batchId) { old =>
      val grouped = materialize(hashed
        .filter(col("ahash_hi") >= 0)
        .groupBy(col("ahash_hi"), col("ahash_lo"))
        .agg(min(col("doc_id")).as("rep_id"), count(lit(1)).as("n_dups")))
      Step(if (grouped.isEmpty) old else fold(old, grouped), Seq(grouped))
    }
  }

  object HashGroupStore {
    /** Rebuild a durable store from `dir` — the restart path,
      * [[BatchStore.restore]]; a missing/empty `dir` restores a cold store.
      */
    def restore(spark: SparkSession, dir: String,
        compactEvery: Int = 64): HashGroupStore =
      new HashGroupStore(spark, emptyGroups(spark), Some(dir), compactEvery)
        .tap(s => s.core.restore((_, t) => materialize(registry(t.head)),
          (st, d) => s.fold(st, d.head)))
  }

  private def registry(df: DataFrame): DataFrame =
    df.select(col("ahash_hi"), col("ahash_lo"), col("rep_id"), col("n_dups"))

  /** An empty cold-start registry with the store's schema. */
  def emptyGroups(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Long, Long, Long)]
      .toDF("ahash_hi", "ahash_lo", "rep_id", "n_dups")
  }

  /** `(batch, batchId) => Unit` for `writeStream.foreachBatch`: hash the
    * batch's payloads row-locally, merge the groups.
    */
  def sink(store: HashGroupStore, grid: Int = 8): (DataFrame, Long) => Unit =
    (batch, batchId) => store.merge(batchId, Multimodal.imageAHash(batch, grid))

  /** Wire a streaming (doc_id, payload) source into `store` and start the
    * query; callers read `store.current` at any time.
    */
  def run(images: DataFrame, store: HashGroupStore, checkpointDir: String,
          grid: Int = 8): org.apache.spark.sql.streaming.StreamingQuery =
    BatchStore.run(images, checkpointDir)(sink(store, grid))
}
