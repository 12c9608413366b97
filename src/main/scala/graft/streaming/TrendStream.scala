package graft.streaming

import scala.util.chaining._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Temporal
import graft.streaming.BatchStore.{Step, materialize}

/** Streaming usage-growth monitor — the unbounded twin of
  * [[Temporal.linearTrend]]: an event stream folds into running
  * per-(key, day) totals, and at ANY point the served row per key is the
  * exact least-squares slope of its daily totals — the live capacity
  * dashboard over the reference's usage domain (which address is growing
  * fast enough to page someone, as of now).
  *
  * Reference scope note: the reference engine has no streaming surface
  * (`handler.go:77-92` is a fixed refresh loop); extension-mandate
  * operator.
  *
  * Why this shape: daily totals are ADDITIVE across any batching (the
  * [[CmsStream]]/[[DriftStream]] argument), and the state table is
  * bounded by keys × active-days — the regression input, not the event
  * stream. Per batch: one map-side-combined [[Temporal.dailyTotals]]
  * pass, merged into the lineage-cut running table (union + re-group,
  * the [[DriftStream.DriftStore]] swap discipline). The served trend is
  * DERIVED at read time via [[Temporal.trendFromDaily]] — the SAME
  * moments-and-slope code as the batch operator, so the two cannot
  * drift; EngineSpec pins `current` ≡ `linearTrend(all delivered
  * events)` row-for-row under arbitrary batch splits.
  *
  * Count merge is not idempotent, so exactly-once rests on the
  * [[BatchStore]] guard.
  */
object TrendStream {

  /** Running per-(key, day) totals; trends derived at read time. Under
    * the [[BatchStore]] contract; with `durable` every applied batch
    * snapshots the merged table (keys × active-days bounded by
    * contract), restored by [[TrendStore.restore]] — a restarted
    * dashboard that silently serves reset trends is the failure mode
    * this exists to prevent.
    */
  final class TrendStore(spark: SparkSession, keyCol: String = "user_id",
      tsCol: String = "ts_us", valCol: String = "value",
      rebaseDay: Long = 0L, durable: Option[String] = None) {
    import spark.implicits._

    private val core = new BatchStore[DataFrame](materialize(
      Seq.empty[(Long, Long, Long)].toDF(keyCol, "x", "y")),
      Seq(_), durable.map(BatchStore.Log(spark, _)))

    /** Fold one micro-batch's daily totals in. */
    def merge(batch: DataFrame, batchId: Long): Boolean = core(batchId)(old =>
      Step(materialize(old
        .unionAll(Temporal.dailyTotals(batch, keyCol, tsCol, valCol, rebaseDay))
        .groupBy(col(keyCol), col("x"))
        .agg(sum(col("y")).as("y")))))

    /** Per-key trend of everything delivered so far — exactly
      * [[Temporal.linearTrend]] over the concatenated stream.
      */
    def current: DataFrame = Temporal.trendFromDaily(core.state, keyCol)

    /** The robust read off the SAME state: exactly
      * [[Temporal.theilSenTrend]] (median-of-slopes + Mann–Kendall S)
      * over the concatenated stream — the dashboard number one backfill
      * spike cannot own.
      */
    def currentRobust: DataFrame =
      Temporal.theilSenFromDaily(core.state, keyCol)

    /** The seasonality read off the SAME state: exactly
      * [[Temporal.acfByKey]] over the concatenated stream's daily
      * totals (gap-fill contract inherited from the batch operator).
      */
    def currentAcf(maxLag: Int = 7): DataFrame =
      Temporal.acfByKey(core.state, keyCol, "x", "y", maxLag)
  }

  object TrendStore {
    /** Rebuild a durable store from `dir` — the restart path; a
      * missing/empty `dir` restores a cold store.
      */
    def restore(spark: SparkSession, dir: String, keyCol: String = "user_id",
        tsCol: String = "ts_us", valCol: String = "value",
        rebaseDay: Long = 0L): TrendStore =
      new TrendStore(spark, keyCol, tsCol, valCol, rebaseDay, Some(dir))
        .tap(_.core.restore((_, t) =>
          materialize(t.head.select(col(keyCol), col("x"), col("y")))))
  }

  /** `(batch, batchId) => Unit` for `writeStream.foreachBatch`. */
  def sink(store: TrendStore): (DataFrame, Long) => Unit =
    (batch, id) => { store.merge(batch, id); () }

  /** Wire a streaming event source into `store` and start the query;
    * callers read `store.current` at any time.
    */
  def run(events: DataFrame, store: TrendStore, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    BatchStore.run(events, checkpointDir)(sink(store))
}
