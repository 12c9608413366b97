package graft.streaming

import scala.util.chaining._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.BatchStore.{Step, materialize}

/** Streaming CDC compaction — latest record per key over an unbounded
  * change stream, the streaming twin of the `q_cdc_compact` batch row.
  *
  * Reference scope note: the reference engine has no streaming surface
  * (`handler.go:77-92` is a fixed refresh loop); this is part of the
  * build's training-data-pipeline extension mandate.
  *
  * The whole design rides one algebraic fact: "latest record" is
  * `max(struct(ts, tiebreak, payload))` per key, and max is IDEMPOTENT,
  * commutative, and associative. That buys three things the counting
  * stores ([[CmsStream]], [[HeavyHittersStream]]) cannot have:
  * replay safety without the [[BatchStore]] guard (re-applying a
  * delivered batch re-takes a max that cannot move; the guard only saves
  * the work), batch boundaries that don't matter
  * (any partition of the stream into batches compacts to the same
  * table), and a merge that is the SAME map-side-combinable aggregate
  * the batch operator uses — per batch: argmax within the batch (hot
  * keys collapse per task before the exchange), then a keyed FULL OUTER
  * against the held table taking the struct-greatest side.
  *
  * State is one row per live key held as a lineage-cut table —
  * corpus-scale state lives in a table, never in driver collections.
  */
object CdcStream {

  /** Compacted (key → latest struct) table held across micro-batches.
    * Schema: keyCols ++ (last: struct(ts, tiebreak, payload...)).
    *
    * Durability (with `durable` set) follows the [[BatchStore]] contract:
    * the table is one row per live key — corpus-key-sized — so full
    * snapshots are written partitioned, and only every `snapshotEvery`-th
    * applied batch (the first batch always snapshots); every other
    * applied batch logs its O(batch-keys) argmax rows as a delta. Restore
    * pre-folds the later deltas to one argmax per key and merges them in.
    */
  final class CompactStore(spark: SparkSession, keyCols: Seq[String],
      initial: DataFrame, durable: Option[String] = None,
      snapshotEvery: Int = 1) {
    require(keyCols.nonEmpty, "need at least one key column")
    require(snapshotEvery >= 1, s"snapshotEvery must be >= 1: $snapshotEvery")
    private val core = new BatchStore[DataFrame](materialize(initial), Seq(_),
      durable.map(dir => BatchStore.Log(spark, dir, deltas = Some(dir),
        every = snapshotEvery, origin = Long.MinValue)))

    /** The current compacted table — always fully materialized. */
    def current: DataFrame = core.state

    private def fold(old: DataFrame, batchCompact: DataFrame): DataFrame =
      materialize(old.as("o")
        .join(batchCompact.as("b"),
          keyCols.map(k => col(s"o.$k") === col(s"b.$k")).reduce(_ && _),
          "full_outer")
        .select(
          keyCols.map(k => coalesce(col(s"o.$k"), col(s"b.$k")).as(k)) :+
            greatest(col("o.last"), col("b.last")).as("last"): _*))

    /** Merge one micro-batch of per-batch argmaxes. Re-merging is
      * idempotent anyway; an id ≥ 0 is guarded and committed, the default
      * −1 is an unguarded ad-hoc merge.
      */
    def merge(batchCompact: DataFrame, batchId: Long = -1L): Unit = {
      core(batchId)(old =>
        if (batchCompact.isEmpty) Step(old, commit = false)
        else Step(fold(old, batchCompact), Seq(batchCompact)))
      ()
    }
  }

  object CompactStore {
    /** Rebuild a durable store from `dir` — the restart path,
      * [[BatchStore.restore]]; a missing or empty `dir` restores the cold
      * `initial` table.
      */
    def restore(spark: SparkSession, dir: String, keyCols: Seq[String],
        initial: DataFrame, snapshotEvery: Int = 1): CompactStore =
      new CompactStore(spark, keyCols, initial, Some(dir), snapshotEvery)
        .tap(s => s.core.restore((_, t) => materialize(t.head), (st, d) =>
          // greatest is associative-commutative: the union of deltas
          // pre-folds to one argmax per key and merges in one pass
          s.fold(st, d.head.groupBy(keyCols.map(col): _*)
            .agg(max(col("last")).as("last")))))
  }

  /** The batch-local compaction (shared with the batch operator's shape):
    * argmax per key as `max(struct(orderCols..., payloadCols...))`.
    */
  def compact(df: DataFrame, keyCols: Seq[String],
      orderCols: Seq[String], payloadCols: Seq[String]): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(max(struct((orderCols ++ payloadCols).map(col): _*)).as("last"))

  /** `(batch, batchId) => Unit` for `writeStream.foreachBatch`. */
  def sink(store: CompactStore, keyCols: Seq[String],
      orderCols: Seq[String], payloadCols: Seq[String]): (DataFrame, Long) => Unit =
    (batch, id) => store.merge(compact(batch, keyCols, orderCols, payloadCols), id)

  /** Wire a streaming change source into `store` and start the query;
    * callers read `store.current` at any time.
    */
  def run(changes: DataFrame, store: CompactStore, checkpointDir: String,
      keyCols: Seq[String], orderCols: Seq[String],
      payloadCols: Seq[String]): org.apache.spark.sql.streaming.StreamingQuery =
    BatchStore.run(changes, checkpointDir)(
      sink(store, keyCols, orderCols, payloadCols))
}
