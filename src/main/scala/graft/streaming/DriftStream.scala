package graft.streaming

import scala.util.chaining._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.BatchStore.{Step, materialize}

/** Streaming distribution-drift monitor — the unbounded twin of
  * [[graft.operators.Hygiene.driftReport]]: an ingest stream's value
  * distributions fold into running per-column counts, and at ANY point
  * the served row per column is the floor-share ppm total-variation
  * distance against a fixed REFERENCE dump — the data-drift alarm a
  * pipeline keeps on a live feed (new crawl vs last known-good dump).
  *
  * Reference scope note: the reference engine has no streaming surface
  * (`handler.go:77-92` is a fixed refresh loop); extension-mandate
  * operator.
  *
  * Why this shape: value counts are ADDITIVE across any batching — the
  * [[CmsStream]] argument, applied to an NDV-bounded counts table
  * (bounded by the WATCHED COLUMNS' cardinality by contract: drift is
  * monitored on categorical/bucketed columns, the same contract as the
  * batch operator — bucket numerics first). Per batch: one
  * map-side-combined count per column, merged into the lineage-cut
  * running table (union + re-group, the [[PhashStream]] swap
  * discipline). The served TVD is DERIVED at read time from the folded
  * counts through the batch operator's OWN fold
  * ([[graft.operators.Hygiene.tvdFromCells]] — shared code, not a
  * re-implementation) — EngineSpec pins `current` ≡
  * `Hygiene.driftReport(reference, all delivered rows)` row-for-row,
  * under any batch split; [[DriftStore.currentPsi]] serves
  * [[graft.operators.Hygiene.psiDrift]] the same way off the same state.
  *
  * Count merge is not idempotent, so exactly-once rests on the
  * [[BatchStore]] guard.
  */
object DriftStream {

  /** Running per-column value counts vs a fixed reference dump, under
    * the [[BatchStore]] contract. With `durable` every applied batch
    * snapshots the merged counts table (NDV-bounded by the
    * watched-column contract) — a restarted drift monitor that silently
    * serves reset counts is the worst failure mode a drift alarm can
    * have. Restore via [[DriftStore.restore]]; the reference side is
    * re-counted from the (immutable) reference dump at construction.
    */
  final class DriftStore(spark: SparkSession, cols: Seq[String],
      reference: DataFrame, durable: Option[String] = None) {
    require(cols.nonEmpty, "need at least one column to monitor")
    import spark.implicits._

    // the batch operators' null-safe cell grain ([[graft.operators
    // .Hygiene.categoryCells]]): (coalesced value, is-null flag), so a
    // NULL category matches itself across the reference and the stream
    // instead of double-counting
    private def colCounts(df: DataFrame): DataFrame = cols.map { c =>
      graft.operators.Hygiene.categoryCells(df, c)
        .select(lit(c).as("col_name"), col("v"), col("vn"), col("n"))
    }.reduce(_ unionAll _)

    // the reference side is counted ONCE at construction
    private val refCounts = materialize(colCounts(reference))
    private val core = new BatchStore[DataFrame](materialize(
      Seq.empty[(String, String, Boolean, Long)].toDF("col_name", "v", "vn", "n")),
      Seq(_), durable.map(BatchStore.Log(spark, _)))

    /** Fold one micro-batch's counts in. */
    def merge(batch: DataFrame, batchId: Long): Boolean = core(batchId)(old =>
      Step(materialize(old.unionAll(colCounts(batch))
        .groupBy(col("col_name"), col("v"), col("vn"))
        .agg(sum(col("n")).as("n")))))

    private def cells(counts: DataFrame, c: String): DataFrame = counts
      .where(col("col_name") === lit(c)).select(col("v"), col("vn"), col("n"))

    /** Per-column drift of everything delivered so far vs the reference:
      * `(col_name, n_a, n_b, ndv_union, tvd_ppm)` — SHARED fold with the
      * batch operator ([[graft.operators.Hygiene.tvdFromCells]] — the
      * exact floor-share integer algebra of `driftReport`, spec-pinned
      * equal), derived at read time from the folded counts so the served
      * row is always consistent with them. Cheap per column: both cell
      * frames filter the persisted NDV-bounded counts tables.
      */
    def current: DataFrame = {
      val run = core.state
      cols.map(c => graft.operators.Hygiene.tvdFromCells(
          cells(refCounts, c), cells(run, c), c))
        .reduce(_ unionAll _)
    }

    /** The [[graft.operators.Hygiene.psiDrift]] serve off the SAME folded
      * counts: `(col_name, n_a, n_b, ndv_union, psi)` — Laplace-smoothed
      * population-stability index via the shared
      * [[graft.operators.Hygiene.psiFromCells]] fold, so the alarm a
      * pipeline thresholds (PSI > 0.2/0.25) and the forensic TVD row are
      * served consistently from one state table.
      */
    def currentPsi: DataFrame = {
      val run = core.state
      cols.map(c => graft.operators.Hygiene.psiFromCells(
          cells(refCounts, c), cells(run, c), c))
        .reduce(_ unionAll _)
    }
  }

  object DriftStore {
    /** Rebuild a durable store from `dir` — the restart path; a
      * missing/empty `dir` restores a cold store.
      */
    def restore(spark: SparkSession, dir: String, cols: Seq[String],
        reference: DataFrame): DriftStore =
      new DriftStore(spark, cols, reference, Some(dir)).tap(_.core.restore(
        (_, t) => materialize(t.head.select(col("col_name"), col("v"),
          col("vn"), col("n")))))
  }

  /** `(batch, batchId) => Unit` for `writeStream.foreachBatch`. */
  def sink(store: DriftStore): (DataFrame, Long) => Unit =
    (batch, id) => { store.merge(batch, id); () }

  /** Wire a streaming source into `store` and start the query; callers
    * read `store.current` at any time.
    */
  def run(rows: DataFrame, store: DriftStore, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    BatchStore.run(rows, checkpointDir)(sink(store))
}
