package graft.streaming

import scala.util.chaining._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.BatchStore.{Step, materialize}

/** Streaming candidate-pressure monitor — the unbounded twin of
  * [[graft.operators.Dedup.blockSkew]]: a running census of the hottest
  * pigeonhole block keys as documents arrive, the operational gauge that
  * tells an incremental dedup ingest (the [[graft.sources.DedupIndex]]
  * append path) when a key is going viral BEFORE the next block join
  * staggers on it.
  *
  * Reference scope note: the reference engine has no streaming surface
  * (`handler.go:77-92`); extension-mandate operator.
  *
  * The algebra: block-key member counts are ADDITIVE across any batching
  * of the corpus — each document contributes its C(8,2) = 28 fingerprint
  * keys independently of every other document — so the ONLY state is the
  * (blk, blk_val, n_members) count table (≤ 28·2¹⁶ rows per block pair
  * by key-space construction, corpus-size-independent), merged per batch
  * by keyed FULL OUTER + sum (the [[CusumStream]] shape: addition has no
  * order, so no boundary row and no watermark are needed, and
  * late/out-of-order documents fold exactly). `current` derives the
  * top-N read through the SHARED batch projection
  * ([[graft.operators.Dedup.blockSkewOf]]), so streamed-vs-batch
  * equality is an algebraic identity, not a coincidence of scheduling.
  */
object BlockSkewStream {

  /** Folded block-key counts across micro-batches, under the
    * [[BatchStore]] contract; with `durable` every applied batch
    * snapshots the merged table, restored by [[SkewStore.restore]].
    */
  final class SkewStore(
      spark: SparkSession, n: Int = 3, durable: Option[String] = None) {
    import spark.implicits._

    private val core = new BatchStore[DataFrame](materialize(
      Seq.empty[(Int, Long, Long)].toDF("blk", "blk_val", "n_members")),
      Seq(_), durable.map(BatchStore.Log(spark, _)))

    /** The monitor read: the batch operator's projection + top-N over
      * the folded counts.
      */
    def current(topN: Int = 20): DataFrame =
      graft.operators.Dedup.blockSkewOf(core.state, topN)

    /** The raw folded count table, for spec equality checks. */
    private[graft] def counts: DataFrame = core.state

    /** Fold one micro-batch of (doc_id, text) documents: fingerprint +
      * block keys + count via the shared batch stage, then keyed sum
      * into the held table.
      */
    def merge(batch: DataFrame, batchId: Long): Boolean = core(batchId) { old =>
      // the per-batch fingerprint stage registers shingle caches; scope
      // the release so exactly THIS batch's caches drop once the fold is
      // materialized and lineage-cut — a global uncacheAll() here would
      // also purge caches belonging to a co-resident dedup pipeline in
      // the same session (e.g. the DedupIndex ingest this monitor guards)
      Step(graft.operators.Dedup.releasingScoped {
        val bc = graft.operators.Dedup
          .blockPressure(batch, "doc_id", "text", n)
        materialize(old.as("o")
          .join(bc.as("b"),
            col("o.blk") === col("b.blk") && col("o.blk_val") === col("b.blk_val"),
            "full_outer")
          .select(
            coalesce(col("o.blk"), col("b.blk")).as("blk"),
            coalesce(col("o.blk_val"), col("b.blk_val")).as("blk_val"),
            (coalesce(col("o.n_members"), lit(0L)) +
              coalesce(col("b.n_members"), lit(0L))).as("n_members")))
      })
    }
  }

  object SkewStore {
    /** Rebuild a durable store from `dir` — the restart path; a
      * missing/empty `dir` restores a cold store.
      */
    def restore(spark: SparkSession, dir: String, n: Int = 3): SkewStore =
      new SkewStore(spark, n, Some(dir)).tap(_.core.restore((_, t) =>
        materialize(t.head.select(col("blk").cast("int").as("blk"),
          col("blk_val"), col("n_members")))))
  }

  /** `(batch, batchId) => Unit` for `writeStream.foreachBatch`. */
  def sink(store: SkewStore): (DataFrame, Long) => Unit =
    (batch, id) => { store.merge(batch, id); () }
}
