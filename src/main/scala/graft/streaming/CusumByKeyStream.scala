package graft.streaming

import scala.util.chaining._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.BatchStore.{Step, materialize}

/** Streaming PER-KEY CUSUM monitor — the keyed twin of [[CusumStream]]
  * and the unbounded form of
  * [[graft.operators.Temporal.cusumChangepointsByKey]] /
  * [[graft.operators.Temporal.cusumSegmentsByKey]]: "which user's usage
  * shifted, and when", kept current as events arrive.
  *
  * Reference scope note: the reference engine has no streaming surface
  * (`handler.go:77-92`); extension-mandate operator.
  *
  * The algebra is [[CusumStream]]'s, one key wider: every per-key
  * statistic is a pure function of the (key, bucket) value SUMS, and
  * those sums are ADDITIVE across any batching — so the only state is
  * the (key, bucket, v) table (per-key time-bounded, the batch
  * operator's contract), merged per batch by keyed FULL OUTER + sum
  * behind the [[BatchStore]] guard. Reads derive the scan from the
  * folded table via the SHARED batch operators, so streamed ≡ batch is
  * an algebraic identity, and late events simply add into their
  * (key, bucket) cell — a key's changepoint may legitimately move; no
  * history is owned, none is rewritten.
  */
object CusumByKeyStream {

  /** Per-(key, bucket) value sums across micro-batches, under the
    * [[BatchStore]] contract; with `durable` every applied batch
    * snapshots the merged table.
    */
  final class KeyedCusumStore(spark: SparkSession,
      durable: Option[String] = None) {

    // the state adopts the FIRST batch's key type (string user ids and
    // long ids both legal) — a cold store holds no frame rather than a
    // wrongly-typed empty one
    private val core = new BatchStore[DataFrame](null, Option(_).toSeq,
      durable.map(BatchStore.Log(spark, _)))

    private def folded: DataFrame = {
      val s = core.state
      require(s != null, "cold store: no batches folded yet")
      s
    }

    /** The monitor read: per-key single-peak scan over the folded sums. */
    def current: DataFrame =
      graft.operators.Temporal.cusumChangepointsByKey(folded)

    /** The deeper read: per-key binary segmentation at `depth`. */
    def segments(depth: Int): DataFrame =
      graft.operators.Temporal.cusumSegmentsByKey(folded, depth)

    /** The raw folded (key, bucket, v) table, for spec equality checks. */
    private[graft] def sums: DataFrame = folded

    /** Fold one micro-batch of (key, bucket, v) rows. */
    def merge(batch: DataFrame, batchId: Long): Boolean = core(batchId) { old =>
      val bc = batch.groupBy(col("key"), col("bucket"))
        .agg(sum(col("v")).as("bv"))
      Step(materialize(
        if (old == null) bc.select(col("key"), col("bucket"), col("bv").as("v"))
        else old.as("o")
          .join(bc.as("b"),
            col("o.key") === col("b.key") && col("o.bucket") === col("b.bucket"),
            "full_outer")
          .select(
            coalesce(col("o.key"), col("b.key")).as("key"),
            coalesce(col("o.bucket"), col("b.bucket")).as("bucket"),
            (coalesce(col("o.v"), lit(0L)) + coalesce(col("b.bv"), lit(0L))).as("v"))))
    }
  }

  object KeyedCusumStore {
    /** Rebuild a durable store from `dir`'s newest complete snapshot. */
    def restore(spark: SparkSession, dir: String): KeyedCusumStore =
      new KeyedCusumStore(spark, Some(dir)).tap(_.core.restore((_, t) =>
        materialize(t.head.select(col("key"), col("bucket"), col("v")))))
  }

  /** `(batch, batchId) => Unit` for `writeStream.foreachBatch`. */
  def sink(store: KeyedCusumStore): (DataFrame, Long) => Unit =
    (batch, id) => { store.merge(batch, id); () }
}
