package graft.streaming

import scala.util.chaining._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.operators.TextAnalysis
import graft.streaming.BatchStore.Step

/** Streaming Count-Min Sketch — running token-frequency estimates over an
  * unbounded document stream, the streaming twin of
  * [[graft.operators.TextAnalysis.cmsTokenEstimates]].
  *
  * Reference scope note: the reference engine has no streaming surface
  * (`handler.go:77-92` is a fixed refresh loop); this is part of the
  * build's training-data-pipeline extension mandate.
  *
  * Why this shape: CMS counter tables MERGE by key-wise addition — the
  * same property that lets the batch operator's per-task tables add up
  * makes the micro-batch the unit of merge here. Each batch is ONE Spark
  * job ([[TextAnalysis.cmsFold]]): every task folds its tokens into a
  * dense d·w counter table, the tables add up a `treeAggregate` tree to
  * the driver, and the non-zero counters add into the driver-held running
  * map. Holding the merged counters on the driver is not a scale
  * compromise — a bounded driver sketch is the entire point of CMS (the
  * alternative, exact distinct-key counting state, is what stops
  * fitting); d·w longs serve any probe rate.
  *
  * Counting is NOT idempotent (re-adding a delivered batch double-counts),
  * so exactly-once rests on the [[BatchStore]] guard.
  */
object CmsStream {

  /** Running counter map (key `j·width + b`), merged per micro-batch under
    * the [[BatchStore]] exactly-once contract. With `durable =
    * Some((spark, dir))` every applied batch snapshots the merged counter
    * table (≤ d·w rows of `cell`/`n` BIGINT — a few KB) to
    * `dir/upto=<batchId>`, written by the driver from the map it already
    * holds (no Spark job); reads ([[counters]], [[estimates]]) are
    * lock-free on the immutable map. `width · depth` must fit an `Int`
    * (the dense fold's array bound).
    */
  final class SketchStore(val width: Int, val depth: Int,
      durable: Option[(SparkSession, String)] = None) {
    TextAnalysis.cmsShape(width, depth)
    private val core = new BatchStore[Map[Long, Long]](Map.empty, _ => Nil,
      durable.map { case (spark, dir) => BatchStore.Log(spark, dir) },
      rows = Some(m => Seq(SnapshotStore.Rows(SketchStore.CellSchema,
        m.view.map { case (c, n) => Row(c, n) }))))

    def counters: Map[Long, Long] = core.state

    /** The last applied batch id (−1 when nothing applied yet). */
    def lastApplied: Long = core.lastApplied

    /** Key-wise add one batch's collected cells; `cells` is evaluated only
      * once the batch passes the guard. Returns whether it was applied.
      */
    def add(batchId: Long, cells: => Map[Long, Long]): Boolean =
      core(batchId)(cur => Step(cells.foldLeft(cur) { case (m, (k, n)) =>
        m.updated(k, m.getOrElse(k, 0L) + n)
      }))

    /** Row-local probe against the CURRENT merged counters — identical
      * estimation semantics to the batch operator (min over rows, absent
      * counter = 0, always an overestimate, exact without collisions).
      */
    def estimates(probes: DataFrame, probeCol: String = "token"): DataFrame =
      TextAnalysis.cmsProbe(counters, probes, width, depth, probeCol)
  }

  object SketchStore {
    private val CellSchema = StructType(Seq(
      StructField("cell", LongType, nullable = false),
      StructField("n", LongType, nullable = false)))

    /** Rebuild a durable store from `dir` (any Spark-writable scheme) —
      * the restart path, [[BatchStore.restoreRows]]: the driver reads the
      * snapshot, no Spark job; a missing or empty `dir` restores a cold
      * store.
      */
    def restore(spark: SparkSession, dir: String,
        width: Int, depth: Int): SketchStore =
      new SketchStore(width, depth, Some((spark, dir))).tap(_.core.restoreRows(Seq(CellSchema))(
        t => t.head.rows.map(r => r.getLong(0) -> r.getLong(1)).toMap))
  }

  /** `(batch, batchId) => Unit` for `writeStream.foreachBatch`: fold the
    * batch's counter table in one job, merge.
    */
  def sink(store: SketchStore, textCol: String = "text"): (DataFrame, Long) => Unit =
    (batch, batchId) =>
      store.add(batchId, TextAnalysis.cmsFold(batch, store.width, store.depth, textCol))

  /** Wire a streaming document source into `store` and start the query;
    * callers probe `store.estimates(...)` at any time.
    */
  def run(docs: DataFrame, store: SketchStore, checkpointDir: String,
          textCol: String = "text"): org.apache.spark.sql.streaming.StreamingQuery =
    BatchStore.run(docs, checkpointDir)(sink(store, textCol))
}
