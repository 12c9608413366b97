package graft.streaming

import scala.util.chaining._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.operators.TextAnalysis
import graft.streaming.BatchStore.Step

/** Streaming heavy hitters — a running Misra–Gries summary over an
  * unbounded document stream, the streaming twin of
  * [[graft.operators.TextAnalysis.heavyHitters]]' candidate pass.
  *
  * Reference scope note: the reference engine has no streaming surface
  * (`handler.go:77-92` is a fixed refresh loop); this is part of the
  * build's training-data-pipeline extension mandate.
  *
  * Why this shape: MG summaries are MERGEABLE (Agarwal, Cormode, Huang,
  * Phillips, Wei, Yi, "Mergeable Summaries", PODS'12): combining two
  * k-counter summaries by key-wise addition and then subtracting the
  * (k+1)-th largest count from every counter yields a k-counter summary
  * of the CONCATENATED stream with the same error bound — so the
  * micro-batch is the unit of merge exactly as in [[CmsStream]]. Each
  * batch runs the [[graft.functions.MisraGriesAgg]] aggregate (bounded
  * ≤ k partials, buffer-merged distributedly), collects the single ≤ k
  * summary row, and MG-merges it into the driver-held running summary. The invariant served at any
  * point in the stream: freq(t) − N/(k+1) ≤ ĉ(t) ≤ freq(t) over all N
  * tokens delivered so far — every token above the N/(k+1) support line
  * is guaranteed present. (The batch operator's second exact-recount pass
  * has no streaming form without reprocessing the corpus; the summary IS
  * the streaming deliverable, and a periodic batch recount of its ≤ k
  * candidates hardens it when the source is retained.)
  *
  * MG-merge is not idempotent, so exactly-once rests on the
  * [[BatchStore]] guard.
  */
object HeavyHittersStream {

  /** The mergeable-summaries combine step: key-wise add, then, if over
    * `k` counters, subtract the (k+1)-th largest count from every
    * counter and drop the non-positive — at most k survive and every
    * counter absorbed the same offset (preserving the MG error bound).
    */
  private[graft] def mgMerge(
      a: Map[String, Long], b: collection.Map[String, Long], k: Int): Map[String, Long] = {
    val combined = b.foldLeft(a) { case (m, (t, c)) =>
      m.updated(t, m.getOrElse(t, 0L) + c)
    }
    if (combined.size <= k) combined
    else {
      val cut = combined.values.toIndexedSeq.sorted(Ordering[Long].reverse)(k)
      combined.collect { case (t, c) if c > cut => t -> (c - cut) }
    }
  }

  /** One micro-batch's MG(k) summary via the
    * [[graft.functions.MisraGriesAgg]] aggregate (bounded partials,
    * buffer-merged distributedly): ONE collected row of ≤ k pairs.
    */
  private[graft] def batchSummary(
      batch: DataFrame, k: Int, textCol: String): Map[String, Long] = {
    val row = batch
      .select(explode(TextAnalysis.tokens(col(textCol))).as("token"))
      .agg(graft.functions.MisraGriesSketch(col("token"), k).as("mg"))
      .select(explode(col("mg")).as("c"))
      .select(col("c.token"), col("c.count"))
      .collect()
    row.map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** Running MG summary, merged per micro-batch under the [[BatchStore]]
    * exactly-once contract; with `durable` the merged ≤ k summary
    * snapshots every applied batch as `token` STRING / `count` BIGINT
    * rows, written by the driver from the map it already holds (no Spark
    * job). Reads are lock-free on the immutable map.
    */
  final class MgStore(val k: Int,
      durable: Option[(SparkSession, String)] = None) {
    require(k >= 2, s"k must be >= 2: $k")
    private val core = new BatchStore[Map[String, Long]](Map.empty, _ => Nil,
      durable.map { case (spark, dir) => BatchStore.Log(spark, dir) },
      rows = Some(m => Seq(SnapshotStore.Rows(MgStore.SummarySchema,
        m.view.map { case (t, c) => Row(t, c) }))))

    /** Current summary: ≤ k (token, lower-bound count) pairs. */
    def summary: Map[String, Long] = core.state

    /** The last applied batch id (−1 when nothing applied yet). */
    def lastApplied: Long = core.lastApplied

    /** MG-merge one batch summary, evaluated only once the batch passes
      * the guard. Returns whether it was applied.
      */
    def add(batchId: Long, batch: => Map[String, Long]): Boolean =
      core(batchId)(cur => Step(mgMerge(cur, batch, k)))
  }

  object MgStore {
    private val SummarySchema = StructType(Seq(
      StructField("token", StringType),
      StructField("count", LongType, nullable = false)))

    /** Rebuild a durable store from `dir` — the restart path,
      * [[BatchStore.restoreRows]]: the driver reads the snapshot, no Spark
      * job; a missing or empty `dir` restores a cold store.
      */
    def restore(spark: SparkSession, dir: String, k: Int): MgStore =
      new MgStore(k, Some((spark, dir))).tap(_.core.restoreRows(Seq(SummarySchema))(
        t => t.head.rows.map(r => r.getString(0) -> r.getLong(1)).toMap))
  }

  /** `(batch, batchId) => Unit` for `writeStream.foreachBatch`. */
  def sink(store: MgStore, textCol: String = "text"): (DataFrame, Long) => Unit =
    (batch, batchId) => store.add(batchId, batchSummary(batch, store.k, textCol))

  /** Wire a streaming document source into `store` and start the query;
    * callers read `store.summary` at any time.
    */
  def run(docs: DataFrame, store: MgStore, checkpointDir: String,
          textCol: String = "text"): org.apache.spark.sql.streaming.StreamingQuery =
    BatchStore.run(docs, checkpointDir)(sink(store, textCol))
}
