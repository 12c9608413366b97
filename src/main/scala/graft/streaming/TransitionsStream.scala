package graft.streaming

import scala.util.chaining._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.streaming.BatchStore.{Step, materialize}

/** Streaming Markov transition counts — the unbounded twin of
  * [[graft.operators.Temporal.eventTransitions]].
  *
  * Reference scope note: the reference engine has no streaming surface
  * (`handler.go:77-92`); extension-mandate operator.
  *
  * The algebra: transition counts are ADDITIVE across any batching of a
  * per-key ordered stream, provided the one pair that straddles each
  * batch boundary is recovered — so the state is (a) the counts table
  * (key-bounded: |event types|²) and (b) ONE last-seen event per key.
  * Per batch: intra-batch pairs come from the batch operator's lag
  * window; the boundary pair joins the held last-event onto each key's
  * batch-FIRST event; the new last-event is the batch's per-key argmax
  * (struct-max — map-side combinable). Counts merge by keyed FULL OUTER
  * + sum (the [[CmsStream]] cell-merge shape); the [[BatchStore]] guard
  * makes at-least-once delivery fold each batch exactly once.
  *
  * Probabilities are NOT state: `current` derives p_ppm from the counts
  * at read time, so the served matrix is always consistent with the
  * folded counts (the same integer ppm rule as the batch operator).
  */
object TransitionsStream {

  /** Counts + last-event state across micro-batches, under the
    * [[BatchStore]] contract. With `durable` state lands before the batch
    * is acknowledged — count merge is NOT idempotent, so losing it on
    * restart silently under-counts. The `last` table is one row per live
    * key, so FULL multi-table snapshots (partitioned) happen only every
    * `snapshotEvery`-th applied batch (the first batch always
    * snapshots); every other batch logs its O(batch) rows — the batch's
    * transition-count increments (additive) and per-key argmax events
    * (idempotent under max-merge) — as a multi-table delta. Restore
    * ([[TransitionStore.restore]]) folds the newest complete snapshot
    * plus all later complete deltas.
    */
  final class TransitionStore(spark: SparkSession, keyCol: String,
      typeCol: String, tsCol: String, tieCol: String,
      durable: Option[String] = None, snapshotEvery: Int = 1) {
    require(snapshotEvery >= 1, s"snapshotEvery must be >= 1: $snapshotEvery")
    import spark.implicits._

    private def counts(df: DataFrame) =
      df.select(col("prev_type"), col("next_type"), col("n"))
    private def events(df: DataFrame) =
      df.select(col(keyCol), col(typeCol), col(tsCol), col(tieCol))
    // per-key argmax event (struct-max: idempotent, map-side combinable)
    private def lastPerKey(df: DataFrame) = df.groupBy(col(keyCol))
      .agg(max(struct(col(tsCol), col(tieCol), col(typeCol))).as("l"))
      .select(col(keyCol), col("l").getField(typeCol).as(typeCol),
        col("l").getField(tsCol).as(tsCol), col("l").getField(tieCol).as(tieCol))

    // state: (counts, last event per key)
    private val core = new BatchStore[(DataFrame, DataFrame)](
      (materialize(Seq.empty[(String, String, Long)].toDF("prev_type", "next_type", "n")),
        materialize(Seq.empty[(Long, String, Long, Long)].toDF(keyCol, typeCol, tsCol, tieCol))),
      s => Seq(s._1, s._2),
      durable.map(dir => BatchStore.Log(spark, dir, tables = Seq("counts", "last"),
        deltas = Some(dir), every = snapshotEvery, origin = Long.MinValue)))

    /** The transition matrix so far, with read-time ppm probabilities. */
    def current: DataFrame = {
      val c = core.state._1
      val f = c.groupBy(col("prev_type")).agg(sum(col("n")).as("n_from"))
      c.join(f, Seq("prev_type"))
        .select(col("prev_type"), col("next_type"), col("n"),
          expr("CAST((n * 1000000) DIV n_from AS BIGINT)").as("p_ppm"))
    }

    /** Fold one micro-batch. */
    def merge(batch: DataFrame, batchId: Long): Boolean = core(batchId) {
      case (held, last) =>
        val b = events(batch)
        val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(tieCol))
        // intra-batch pairs — the batch operator's chain
        val intra = b.withColumn("prev_type", lag(col(typeCol), 1).over(w))
          .filter(col("prev_type").isNotNull)
          .select(col("prev_type"), col(typeCol).as("next_type"))
        // boundary pairs: held last event → each key's batch-FIRST event
        val firsts = b.groupBy(col(keyCol))
          .agg(min(struct(col(tsCol), col(tieCol), col(typeCol))).as("f"))
          .select(col(keyCol), col("f").getField(typeCol).as("next_type"))
        val boundary = last.select(col(keyCol), col(typeCol).as("prev_type"))
          .join(firsts, Seq(keyCol))
          .select(col("prev_type"), col("next_type"))
        val batchCounts = intra.unionAll(boundary)
          .groupBy(col("prev_type"), col("next_type")).agg(count(lit(1)).as("bn"))
        val merged = held.as("o")
          .join(batchCounts.as("b"),
            col("o.prev_type") === col("b.prev_type") &&
              col("o.next_type") === col("b.next_type"), "full_outer")
          .select(
            coalesce(col("o.prev_type"), col("b.prev_type")).as("prev_type"),
            coalesce(col("o.next_type"), col("b.next_type")).as("next_type"),
            (coalesce(col("o.n"), lit(0L)) + coalesce(col("b.bn"), lit(0L))).as("n"))
        // the batch's per-key argmax suffices for the last-event delta:
        // max-merge over held ∪ deltas reproduces the full table
        Step((materialize(merged), materialize(lastPerKey(last.unionAll(b)))),
          Seq(batchCounts.select(col("prev_type"), col("next_type"), col("bn").as("n")),
            lastPerKey(b)))
    }
  }

  object TransitionStore {
    /** Rebuild a durable store from `dir` — the restart path; a
      * missing/empty `dir` restores a cold store. Count increments are
      * additive and last-event rows max-merge — both order-free, so one
      * union + one agg per table folds any number of later deltas.
      */
    def restore(spark: SparkSession, dir: String, keyCol: String,
        typeCol: String, tsCol: String, tieCol: String,
        snapshotEvery: Int = 1): TransitionStore =
      new TransitionStore(spark, keyCol, typeCol, tsCol, tieCol, Some(dir),
        snapshotEvery).tap(s => s.core.restore(
        (_, t) => (materialize(s.counts(t(0))), materialize(s.events(t(1)))),
        { case ((c, l), d) =>
          (materialize(c.unionAll(s.counts(d(0)))
            .groupBy(col("prev_type"), col("next_type")).agg(sum(col("n")).as("n"))),
            materialize(s.lastPerKey(l.unionAll(s.events(d(1))))))
        }))
  }

  /** `(batch, batchId) => Unit` for `writeStream.foreachBatch`. */
  def sink(store: TransitionStore): (DataFrame, Long) => Unit =
    (batch, id) => { store.merge(batch, id); () }
}
