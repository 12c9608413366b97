package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.streaming.BatchStore.{Step, materialize}

/** Streaming SCD2 history build — the streaming twin of the `q_scd2`
  * batch row ([[graft.operators.Temporal.scd2History]]): an unbounded
  * change stream folds into (a) an append-only table of CLOSED validity
  * intervals and (b) one OPEN interval per live key, with version
  * numbers chaining across micro-batches.
  *
  * Reference scope note: the reference engine has no streaming surface
  * (`handler.go:77-92` is a fixed refresh loop); this is part of the
  * build's training-data-pipeline extension mandate.
  *
  * Batch-split invariance (the spec's contract): as long as each key's
  * events arrive in event-time order ACROSS batches (any batching of an
  * ordered-per-key stream qualifies — Kafka key-partitioning gives
  * exactly this), closed ∪ open equals the batch operator on the full
  * concatenated history, for ANY split points. The merge algebra per key:
  * the batch's first run EXTENDS the open interval when attrs match
  * (SCD2 compresses consecutive equals across the batch boundary too),
  * otherwise closes it at the run's start; versions continue from the
  * open row's. Late rows — (ts, tie) at or before the key's LAST FOLDED
  * event, tracked per key like [[TransitionsStream]]'s last-event table
  * (not merely before the open interval's start: an open interval
  * compressed from several equal-attr events starts well before its last
  * consumed event) — violate the ordered-arrival contract and are
  * DROPPED with a counted column rather than silently rewriting shipped
  * history — the same visible-policy stance as the multimodal
  * corrupt-payload sentinels.
  *
  * State: `open` is one row per live key (key-bounded); `closed` grows
  * with the number of CHANGES — it is the operator's output, not
  * incidental state, and lives as a lineage-cut table, never in driver
  * collections. At warehouse scale `closed` would be a parquet/table
  * sink ([[IdempotentSink]]); the in-memory table keeps the twin
  * self-contained for the harness.
  */
object Scd2Stream {

  /** SCD2 state across micro-batches. `keyCol`/`attrCol`/`tsCol`/`tieCol`
    * name the stream's columns; both held tables use the batch operator's
    * output schema (key, version, attr, valid_from_us, valid_to_us,
    * is_current).
    */
  final class Scd2Store(spark: SparkSession, keyCol: String, attrCol: String,
      tsCol: String, tieCol: String, snapshotDir: Option[String] = None) {
    import spark.implicits._

    private val emptyIntervals = Seq.empty[(Long, Long, String, Long, Option[Long], Boolean)]
      .toDF(keyCol, "version", "attr", "valid_from_us", "valid_to_us", "is_current")

    // Durability (the [[BatchStore]] contract): the four state pieces —
    // closed history, open intervals, the per-key late-guard high-water
    // mark, and the dropped-late counter — snapshot per applied batch as
    // `<sub>/upto=<batchId>`, `meta` last. A rebuilt store restores at the
    // NEWEST id COMMON to all four sub-stores: a crash between sub-writes
    // leaves the newest id partial in some sub-store, and restoring a
    // mixed-batch state would corrupt shipped history — the common id is
    // the last full commit, and the newest-two retention guarantees it
    // survives exactly one torn write.
    // state: (closed, open, per-key last FOLDED (ts, tie) — the late
    // guard's anchor, the TransitionsStream last-event discipline —,
    // dropped-late count)
    private val core = new BatchStore[(DataFrame, DataFrame, DataFrame, Long)](
      (materialize(emptyIntervals), materialize(emptyIntervals), materialize(
        Seq.empty[(Long, Long, Long)].toDF(keyCol, "last_ts", "last_tie")), 0L),
      s => Seq(s._1, s._2, s._3),
      snapshotDir.map(BatchStore.Log(spark, _,
        tables = Seq("closed", "open", "last_seen", "meta"), nested = true)),
      Some(s => Seq(s._1, s._2, s._3, Seq(s._4).toDF("dropped_late"))))
    core.restore((_, t) => (materialize(t(0)), materialize(t(1)),
      materialize(t(2)), t(3).head.getLong(0)))

    /** Closed intervals ∪ open intervals — the full SCD2 table so far. */
    def history: DataFrame = {
      val (closed, open, _, _) = core.state
      closed.unionAll(open)
    }

    /** Rows dropped for violating the ordered-arrival contract so far. */
    def lateDropped: Long = core.state._4

    /** Fold one micro-batch in; replays of a delivered batch are no-ops. */
    def merge(batch: DataFrame, batchId: Long): Boolean = core(batchId) { state =>
      val (closed, open, lastSeen, droppedLate) = state
      // late-data policy: a row at or before its key's LAST FOLDED
      // (ts, tie) cannot extend history monotonically — count and drop.
      // Guarding only on the open interval's start would let a row slip
      // between an equal-attr-compressed interval's start and the last
      // event that extended it (fold A@100,A@900 then B@500 must drop).
      val b0 = batch.select(col(keyCol), col(attrCol), col(tsCol), col(tieCol))
        .join(lastSeen, Seq(keyCol), "left")
      val isLate = col("last_ts").isNotNull &&
        (col(tsCol) < col("last_ts") ||
          (col(tsCol) === col("last_ts") && col(tieCol) <= col("last_tie")))
      val late = b0.filter(isLate).count()
      val b = b0.filter(!isLate || col("last_ts").isNull)
        .drop("last_ts", "last_tie")
      // batch-local runs: the batch operator's change-detect chain
      val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(tieCol))
      val runs = b.withColumn("prev_attr", lag(col(attrCol), 1).over(w))
        .filter(col("prev_attr").isNull || col("prev_attr") =!= col(attrCol))
        .withColumn("run_idx", row_number().over(w).cast("long"))
        .withColumn("run_to", lead(col(tsCol), 1).over(w))
      // join the open interval: extend on equal attr, close otherwise
      val j = runs.join(
        open.select(col(keyCol), col("version").as("o_version"),
          col("attr").as("o_attr"), col("valid_from_us").as("o_from")),
        Seq(keyCol), "left")
        .withColumn("extends", col("o_attr").isNotNull &&
          col("run_idx") === 1L && col("o_attr") === col(attrCol))
      // per key: does run 1 extend? broadcast that to every run via a
      // key-window min (run 1 carries the flag)
      val kw = Window.partitionBy(col(keyCol))
      val j2 = j.withColumn("first_extends",
          max(when(col("run_idx") === 1L, col("extends").cast("int"))
            .otherwise(lit(0))).over(kw) === 1)
        .withColumn("version",
          col("run_idx") + coalesce(col("o_version"), lit(0L)) -
            when(col("first_extends"), 1L).otherwise(0L))
        .withColumn("valid_from_us",
          when(col("extends"), col("o_from")).otherwise(col(tsCol)))
      val intervals = j2.select(col(keyCol), col("version"),
        col(attrCol).as("attr"), col("valid_from_us"),
        col("run_to").as("valid_to_us"), col("run_to").isNull.as("is_current"))
      // an open interval whose key got a NON-extending run 1 closes at
      // that run's start; keys untouched by the batch stay open as-is
      val firstRun = j2.filter(col("run_idx") === 1L)
        .select(col(keyCol), col("extends").as("x"), col(tsCol).as("t1"))
      val closedFromOpen = open.join(firstRun, Seq(keyCol), "inner")
        .filter(!col("x"))
        .select(col(keyCol), col("version"), col("attr"),
          col("valid_from_us"), col("t1").as("valid_to_us"),
          lit(false).as("is_current"))
      val stillOpen = open.join(firstRun, Seq(keyCol), "left_anti")
      val newClosed = closed
        .unionAll(closedFromOpen)
        .unionAll(intervals.filter(!col("is_current")))
      val newOpen = stillOpen.unionAll(intervals.filter(col("is_current")))
      // advance the high-water mark: struct-argmax over held ∪ kept rows
      // (max is idempotent — the TransitionsStream discipline)
      val newLastSeen = lastSeen
        .unionAll(b.select(col(keyCol), col(tsCol).as("last_ts"),
          col(tieCol).as("last_tie")))
        .groupBy(col(keyCol))
        .agg(max(struct(col("last_ts"), col("last_tie"))).as("l"))
        .select(col(keyCol), col("l.last_ts").as("last_ts"),
          col("l.last_tie").as("last_tie"))
      Step((materialize(newClosed), materialize(newOpen),
        materialize(newLastSeen), droppedLate + late))
    }
  }

  /** `(batch, batchId) => Unit` for `writeStream.foreachBatch`. */
  def sink(store: Scd2Store): (DataFrame, Long) => Unit =
    (batch, id) => { store.merge(batch, id); () }
}
