package graft.streaming

import scala.util.chaining._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.BatchStore.{Step, materialize}

/** Streaming Poisson-bootstrap CI — the unbounded twin of
  * [[graft.operators.Splits.bootstrapCiMean]]: the error bar on a live
  * feed's running mean, served at any point WITHOUT replaying the feed.
  *
  * Reference scope note: the reference engine has no streaming surface
  * (`handler.go:77-92` is a fixed refresh loop); extension-mandate
  * operator.
  *
  * Why this works: the bootstrap's replica state is the per-replica
  * `(sw, swx)` partials, and those are plain SUMS — additive across any
  * batching ([[CmsStream]]'s argument applied to a B-row state table).
  * Each micro-batch folds one map-side-combined replica-partials agg
  * (the batch operator's OWN fold,
  * [[graft.operators.Splits.poissonReplicaPartials]] — shared code, and
  * the Poisson draw is keyed on (row id, replica) so it is
  * batching-invariant) into the running B-row table, plus a 1-row
  * (n, Σx) totals fold for the exact mean. The served row derives the
  * percentile CI through
  * [[graft.operators.Splits.ciFromReplicaPartials]] — again shared
  * code — so EngineSpec pins `current` ≡ `bootstrapCiMean(all delivered
  * rows)` row-for-row under any split.
  *
  * Partial sums are not idempotent, so exactly-once rests on the
  * [[BatchStore]] guard.
  */
object BootstrapStream {

  /** Running replica partials + exact totals for one monitored measure,
    * under the [[BatchStore]] contract. With `durable` every applied
    * batch snapshots BOTH tables as one multi-table snapshot (complete
    * iff both landed; B+1 rows — KBs), restored by
    * [[BootstrapStore.restore]].
    */
  final class BootstrapStore(spark: SparkSession, idCol: String,
      valCol: String, b: Int, alphaPpm: Long = 50000L,
      durable: Option[String] = None) {
    require(b >= 4, s"need at least 4 replicas: $b")
    import spark.implicits._

    private def partials(df: DataFrame) =
      df.select(col("j"), col("sw"), col("swx").cast("decimal(38,0)").as("swx"))
    private def totals(df: DataFrame) =
      df.select(col("n"), col("sx").cast("decimal(38,0)").as("sx"))

    private val core = new BatchStore[(DataFrame, DataFrame)](
      (materialize(partials(Seq.empty[(Int, Long, BigDecimal)].toDF("j", "sw", "swx"))),
        materialize(totals(Seq((0L, BigDecimal(0))).toDF("n", "sx")))),
      s => Seq(s._1, s._2),
      durable.map(BatchStore.Log(spark, _, tables = Seq("partials", "totals"))))

    /** Fold one micro-batch in. */
    def merge(batch: DataFrame, batchId: Long): Boolean = core(batchId) {
      case (oldP, oldT) =>
        val bp = graft.operators.Splits
          .poissonReplicaPartials(batch, idCol, Nil, valCol, b)
        val mergedP = oldP.unionAll(bp)
          .groupBy(col("j"))
          .agg(sum(col("sw")).as("sw"),
            sum(col("swx")).cast("decimal(38,0)").as("swx"))
        val bt = batch.agg(count(lit(1)).as("n"),
          coalesce(sum(col(valCol).cast("long")).cast("decimal(38,0)"),
            lit(0).cast("decimal(38,0)")).as("sx"))
        val mergedT = oldT.unionAll(bt)
          .agg(sum(col("n")).as("n"),
            sum(col("sx")).cast("decimal(38,0)").as("sx"))
        Step((materialize(mergedP), materialize(mergedT)))
    }

    /** `(b_reps, n_rows, mean_ppm, lo_ppm, hi_ppm)` over everything
      * delivered so far — the EXACT batch-operator row (shared folds),
      * derived at read time from the additive state.
      */
    def current: DataFrame = {
      val (p, t) = core.state
      val exact = t.select(col("n").as("n_rows"),
        (signum(col("sx")).cast("long") *
          expr("(CAST(1000000 AS DECIMAL(38,0)) * abs(sx)) div n"))
          .as("mean_ppm"))
      val ci = graft.operators.Splits
        .ciFromReplicaPartials(p, b, alphaPpm)
      exact.crossJoin(broadcast(ci))
        .select(lit(b.toLong).as("b_reps"), col("n_rows"), col("mean_ppm"),
          col("lo_ppm"), col("hi_ppm"))
    }
  }

  object BootstrapStore {
    /** Rebuild a durable store from `dir` — the restart path; a
      * missing/empty `dir` restores a cold store.
      */
    def restore(spark: SparkSession, dir: String, idCol: String,
        valCol: String, b: Int, alphaPpm: Long = 50000L): BootstrapStore =
      new BootstrapStore(spark, idCol, valCol, b, alphaPpm, Some(dir))
        .tap(s => s.core.restore((_, t) =>
          (materialize(s.partials(t(0))), materialize(s.totals(t(1))))))
  }

  /** `(batch, batchId) => Unit` for `writeStream.foreachBatch`. */
  def sink(store: BootstrapStore): (DataFrame, Long) => Unit =
    (batch, id) => { store.merge(batch, id); () }

  /** Wire a streaming source into `store` and start the query; callers
    * read `store.current` at any time.
    */
  def run(rows: DataFrame, store: BootstrapStore, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    BatchStore.run(rows, checkpointDir)(sink(store))
}
