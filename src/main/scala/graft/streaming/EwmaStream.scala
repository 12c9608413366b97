package graft.streaming

import scala.util.chaining._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Temporal
import graft.streaming.BatchStore.{Step, materialize}

/** Streaming windowed EWMA — the unbounded twin of
  * [[graft.operators.Temporal.ewmaSmooth]] (span-bounded fixed-point
  * fold).
  *
  * Reference scope note: the reference engine has no streaming surface
  * (`handler.go:77-92`); extension-mandate operator.
  *
  * The state insight: a span-`s` windowed fold over a key's history
  * needs exactly the key's LAST `s−1` observations to score any future
  * row — so the held state is a bounded TAIL per key (`s−1` rows,
  * regardless of history length), and the twin is a tail-carry: each
  * batch unions the held tail with its rows, runs the IDENTICAL batch
  * fold over the union (per-key windows see the full relevant history),
  * emits only the batch's own rows, and keeps the union's new tail.
  * Under ordered-per-key arrival this reproduces the batch operator on
  * the concatenated stream for ANY split points (spec-asserted, 1/3/5
  * batches). Exactly-once per the [[BatchStore]] contract.
  */
object EwmaStream {

  /** Durability (with `durable` set): the scored-output table grows
    * without bound (every scored row ever), so it persists as an
    * APPEND-ONLY delta log under `dir/out` — per-batch I/O is O(batch),
    * never O(history) — while the bounded tail (≤ span−1 rows per key)
    * snapshots whole under `dir/tail`. Write order is delta FIRST, tail
    * snapshot SECOND: the tail snapshot is the [[BatchStore]] commit, so
    * restore takes the newest tail id G and only the out-deltas with id
    * ≤ G — a torn delta at G+1 is ignored and overwritten whole when
    * batch G+1 replays against the tail at G.
    */
  final class SmoothStore(spark: SparkSession, keyCol: String, tsCol: String,
      tieCol: String, valCol: String, span: Int = 8,
      durable: Option[String] = None) {
    require(span >= 1, s"span must be >= 1: $span")
    import spark.implicits._

    private def rows(df: DataFrame) =
      df.select(col(keyCol), col(tsCol), col(tieCol), col(valCol))
    private def scoredRows(df: DataFrame) = df.select(col(keyCol), col(tsCol),
      col(tieCol), col("value_u6"), col("ewma_u6"))
    private val emptyOut = Seq.empty[(Long, Long, Long, Long, Long)]
      .toDF(keyCol, tsCol, tieCol, "value_u6", "ewma_u6")

    // state: (tail, scored output); only the tail snapshots
    private val core = new BatchStore[(DataFrame, DataFrame)](
      (materialize(Seq.empty[(Long, Long, Long, Double)]
        .toDF(keyCol, tsCol, tieCol, valCol)), materialize(emptyOut)),
      s => Seq(s._1, s._2),
      durable.map(dir => BatchStore.Log(spark, s"$dir/tail")),
      Some(s => Seq(s._1)))

    /** Every scored row so far — identical to the batch operator on the
      * concatenated stream under ordered arrival.
      */
    def scored: DataFrame = core.state._2

    def merge(batch: DataFrame, batchId: Long): Boolean = core(batchId) {
      case (tail, out) =>
        // duplicate-delivery guard: a triple already held in the tail (or
        // repeated within the batch) must not multiply output rows — dedup
        // the union on the key triple, struct-max preferring the TAIL copy,
        // so a redelivered event is dropped rather than re-scored and the
        // is_tail re-attach join below stays 1:1
        val combined = tail.withColumn("is_tail", lit(true))
          .unionAll(rows(batch).withColumn("is_tail", lit(false)))
          .groupBy(col(keyCol), col(tsCol), col(tieCol))
          .agg(max(struct(col("is_tail"), col(valCol))).as("m"))
          .select(col(keyCol), col(tsCol), col(tieCol),
            col("m." + valCol).as(valCol), col("m.is_tail").as("is_tail"))
        val scoredAll = Temporal.ewmaSmooth(combined, keyCol, tsCol, tieCol,
          valCol, span)
        // ewmaSmooth drops extra columns; re-attach is_tail by key join
        val flags = combined.select(col(keyCol), col(tsCol), col(tieCol),
          col("is_tail"))
        val outDelta = materialize(scoredRows(
          scoredAll.join(flags, Seq(keyCol, tsCol, tieCol))
            .filter(!col("is_tail"))))
        // the union's last span−1 rows per key become the next tail
        val w = Window.partitionBy(col(keyCol))
          .orderBy(col(tsCol).desc, col(tieCol).desc)
        val newTail = rows(combined
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") < span))
        val next = (materialize(newTail), materialize(out.unionAll(outDelta)))
        // the out-delta lands before the tail snapshot commits the batch
        if (batchId >= 0) durable.foreach(dir => SnapshotStore.writeDelta(
          spark, s"$dir/out", Seq("" -> outDelta), batchId))
        Step(next)
    }
  }

  object SmoothStore {
    /** Rebuild a durable store from `dir` — the restart path: the newest
      * complete tail snapshot (id G) is the commit point; scored output
      * is the union of out-deltas with id ≤ G. A missing/empty `dir`
      * restores a cold store.
      */
    def restore(spark: SparkSession, dir: String, keyCol: String,
        tsCol: String, tieCol: String, valCol: String,
        span: Int = 8): SmoothStore =
      new SmoothStore(spark, keyCol, tsCol, tieCol, valCol, span, Some(dir))
        .tap(s => s.core.restore { (upto, t) =>
          val deltas = SnapshotStore.deltaIds(spark, s"$dir/out")
            .filter(_._1 <= upto).map(_._2.toString)
          (materialize(s.rows(t.head)), materialize(
            if (deltas.isEmpty) s.emptyOut
            else s.scoredRows(spark.read.parquet(deltas: _*))))
        })
  }

  /** `(batch, batchId) => Unit` for `writeStream.foreachBatch`. */
  def sink(store: SmoothStore): (DataFrame, Long) => Unit =
    (batch, id) => { store.merge(batch, id); () }
}
