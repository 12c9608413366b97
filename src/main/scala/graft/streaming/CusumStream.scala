package graft.streaming

import scala.util.chaining._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.BatchStore.{Step, materialize}

/** Streaming CUSUM changepoint monitor — the unbounded twin of
  * [[graft.operators.Temporal.cusumChangepoints]]: a drift alarm that
  * stays current as events arrive.
  *
  * Reference scope note: the reference engine has no streaming surface
  * (`handler.go:77-92`); extension-mandate operator.
  *
  * The algebra: the statistic is a pure function of the per-bucket value
  * SUMS, and bucket sums are ADDITIVE across any batching of the stream —
  * so the ONLY state is the (bucket, v) table (time-bounded, the batch
  * operator's contract), merged per batch by keyed FULL OUTER + sum (the
  * [[TransitionsStream]] count-merge shape) behind the [[BatchStore]]
  * guard. No boundary row is needed (unlike transitions): addition has
  * no order. `current` derives the full scan — scaled statistics and the
  * argmax flag — from the folded table at read time via the SHARED batch
  * operator, so streamed-vs-batch equality is an algebraic identity, and
  * late/out-of-order events are handled exactly (they just add into
  * their bucket; a changepoint can legitimately move — the monitor
  * recomputes, it never rewrites history because the statistic owns no
  * history).
  */
object CusumStream {

  /** Per-bucket value sums across micro-batches, under the
    * [[BatchStore]] contract; with `durable` every applied batch
    * snapshots the merged table (time-bounded by contract), restored by
    * [[CusumStore.restore]].
    */
  final class CusumStore(spark: SparkSession, durable: Option[String] = None) {
    import spark.implicits._

    private val core = new BatchStore[DataFrame](
      materialize(Seq.empty[(Long, Long)].toDF("bucket", "v")),
      Seq(_), durable.map(BatchStore.Log(spark, _)))

    /** The monitor read: the batch operator over the folded sums. */
    def current: DataFrame =
      graft.operators.Temporal.cusumChangepoints(core.state)

    /** The raw folded (bucket, v) table, for spec equality checks. */
    private[graft] def sums: DataFrame = core.state

    /** Fold one micro-batch of (bucket, v) rows. */
    def merge(batch: DataFrame, batchId: Long): Boolean = core(batchId) { old =>
      val bc = batch.groupBy(col("bucket")).agg(sum(col("v")).as("bv"))
      Step(materialize(old.as("o")
        .join(bc.as("b"), col("o.bucket") === col("b.bucket"), "full_outer")
        .select(
          coalesce(col("o.bucket"), col("b.bucket")).as("bucket"),
          (coalesce(col("o.v"), lit(0L)) + coalesce(col("b.bv"), lit(0L))).as("v"))))
    }
  }

  object CusumStore {
    /** Rebuild a durable store from `dir` — the restart path; a
      * missing/empty `dir` restores a cold store.
      */
    def restore(spark: SparkSession, dir: String): CusumStore =
      new CusumStore(spark, Some(dir)).tap(_.core.restore((_, t) =>
        materialize(t.head.select(col("bucket"), col("v")))))
  }

  /** `(batch, batchId) => Unit` for `writeStream.foreachBatch`. */
  def sink(store: CusumStore): (DataFrame, Long) => Unit =
    (batch, id) => { store.merge(batch, id); () }
}
