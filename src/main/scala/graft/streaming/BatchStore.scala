package graft.streaming

import java.util.concurrent.atomic.AtomicReference

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.storage.StorageLevel

/** The exactly-once core under every guarded stream store. A store
  * supplies its state `S` (a driver map for the bounded sketches,
  * otherwise one or more lineage-cut DataFrames), the step that folds one
  * micro-batch into it, and — as a [[BatchStore.Log]] — where its commits
  * land; the store itself keeps only its merge algebra. This class owns
  * the order, once.
  *
  * [[apply]] under `foreachBatch`'s at-least-once delivery:
  *  1. Guard. A batch id at or below the last applied one is dropped
  *     (returns false) BEFORE the step runs, so the batch's contribution
  *     is never computed for a redelivery. Ids < 0 are unguarded ad-hoc
  *     merges: applied, never committed, the guard untouched.
  *  2. Step. The next state is computed from the current one. Every frame
  *     the step cuts with [[BatchStore.materialize]] is computed in full
  *     right there, so a failing merge fails here.
  *  3. Commit. With a log, the batch lands durably BEFORE the sink
  *     returns, i.e. before the streaming checkpoint commits it: a full
  *     snapshot of the next state when the cadence is due, otherwise the
  *     batch's delta. A driver-map state gives its snapshot as `rows`,
  *     which the driver writes itself (one parquet file per table, no
  *     Spark job); a DataFrame state's frames go through Spark's writer.
  *     A step may commit nothing (an empty batch that left the state as
  *     it was): its replay after a restart is a no-op.
  *  4. Swap. The next state and the advanced guard are published in one
  *     atomic write; a reader never sees one without the other.
  *  5. Prune. After a snapshot, the deltas it supersedes are deleted.
  *  6. Release. The old state's frames and the step's temporaries are
  *     unpersisted. If anything before 4 throws, the frames the step cut
  *     are released instead, state and guard stay as they were, and the
  *     batch fails: the checkpoint does not commit it, and its
  *     redelivery applies it once. A failure in 5 propagates, but the
  *     batch stays applied and guarded; the next snapshot prunes again.
  * All six run under the store's lock, so two writers (two queries wired
  * to one store) can neither both pass the guard nor interleave merges;
  * the expected topology is still one query per store. Reads are
  * lock-free on the published state.
  *
  * Restart ([[restore]]): the newest complete snapshot, then every later
  * complete delta folded in with the store's own merge. The guard becomes
  * the highest id restored, so the checkpoint's replays drop, and the
  * cadence counts from the snapshot. The delta log is what makes the gap
  * between snapshots safe: structured streaming re-delivers only the one
  * uncommitted batch, never committed ones, so an unwritten gap would be
  * lost, not replayed.
  *
  * @param frames the persisted frames a state owns, released when it is
  *               replaced (none for a driver map)
  * @param tables the tables a snapshot writes, in `log.tables` order
  *               (default: the state's frames)
  * @param rows   a driver-held state's snapshot tables, in `log.tables`
  *               order, written by the driver instead of Spark
  */
private[streaming] final class BatchStore[S](initial: S,
    frames: S => Seq[DataFrame], log: Option[BatchStore.Log] = None,
    tables: Option[S => Seq[DataFrame]] = None,
    rows: Option[S => Seq[SnapshotStore.Rows]] = None) {
  import BatchStore._

  // state and guard in ONE reference: the swap publishes both at once
  private val ref = new AtomicReference[(S, Long)]((initial, -1L))
  @volatile private var snapAt = log.fold(-1L)(_.origin)

  def state: S = ref.get()._1

  /** The last applied batch id (−1 when nothing applied yet). */
  def lastApplied: Long = ref.get()._2

  /** Apply one micro-batch (steps 1–6 above); whether it was applied. */
  def apply(batchId: Long)(step: S => Step[S]): Boolean = synchronized {
    val (cur, lastBatch) = ref.get()
    if (batchId >= 0 && batchId <= lastBatch) return false
    val durable = log.filter(_ => batchId >= 0)
    val due = durable.exists(l => batchId >= snapAt + l.every)
    val ((next, snapped), made) = tracked {
      val st = step(cur)
      if (st.commit) durable.foreach { l =>
        if (!due) l.delta(batchId, st.delta)
        else rows match {
          case Some(r) => l.snapshotRows(batchId, r(st.next))
          case None => l.snapshot(batchId, tables.fold(frames(st.next))(_(st.next)))
        }
      }
      (st.next, due && st.commit)
    }
    ref.set((next, if (batchId >= 0) batchId else lastBatch))
    try if (snapped) {
      snapAt = batchId
      durable.foreach(_.prune(batchId))
    } finally settle(cur, next, made)
    true
  }

  /** Rebuild from the log (a no-op without one, or on an empty directory):
    * `read` turns the newest complete snapshot (id, tables) into a state,
    * `fold` merges into it the later deltas (one frame per table, the
    * union over those deltas).
    */
  def restore(read: (Long, Seq[DataFrame]) => S,
      fold: (S, Seq[DataFrame]) => S = (s: S, _: Seq[DataFrame]) => s): Unit =
    synchronized { log.foreach { l =>
      val snap = l.newest
      val snapId = snap.fold(Long.MinValue)(_._1)
      val later = l.deltasAfter(snapId)
      if (snap.nonEmpty || later.nonEmpty) {
        val cur = ref.get()._1
        val (next, made) = tracked {
          val base = snap.fold(cur) { case (id, t) => read(id, t) }
          if (later.isEmpty) base else fold(base, l.readDeltas(later.map(_._2)))
        }
        ref.set((next, math.max(snapId, later.lastOption.fold(-1L)(_._1))))
        snapAt = if (snap.nonEmpty) snapId else l.origin
        settle(cur, next, made)
      }
    } }

  private def settle(old: S, next: S, made: Seq[DataFrame]): Unit = {
    val kept = frames(next)
    (frames(old) ++ made).filterNot(f => kept.exists(_ eq f)).foreach(_.unpersist())
  }
}

private[streaming] object BatchStore {

  /** One step's result: the next state, the batch's delta tables (written
    * off the snapshot cadence, in `Log.tables` order), and whether the
    * batch commits at all.
    */
  final case class Step[S](next: S, delta: Seq[DataFrame] = Nil,
      commit: Boolean = true)

  /** Where a store's commits land (any Spark-writable scheme, see
    * [[SnapshotStore]]). Snapshots go to `dir/upto=<id>`, holding one
    * table, or one subdirectory per name in `tables`; with `nested`, to
    * `dir/<name>/upto=<id>`, complete at the newest id all tables share.
    * Deltas go to `deltas/delta=<id>[/<name>]`. A store with a delta log
    * holds corpus-sized state, so its snapshots are written partitioned;
    * without one, each table is one file. Batch `id` snapshots when
    * `id >= last + every`, `last` being the previous snapshot's id, or
    * `origin` before the first.
    */
  final case class Log(spark: SparkSession, dir: String,
      tables: Seq[String] = Seq(""), nested: Boolean = false,
      deltas: Option[String] = None, every: Int = 1, origin: Long = -1L) {
    require(every == 1 || deltas.nonEmpty, "a snapshot cadence needs a delta log")

    private def at(name: String, id: Long): String =
      if (nested) s"$dir/$name/upto=$id"
      else SnapshotStore.path(s"$dir/upto=$id", name)

    def snapshot(id: Long, dfs: Seq[DataFrame]): Unit =
      if (nested) tables.zip(dfs).foreach { case (t, df) =>
        SnapshotStore.write(spark, s"$dir/$t", df, id)
      }
      else SnapshotStore.writeTables(spark, dir, tables.zip(dfs), id,
        singleFile = deltas.isEmpty)

    /** Driver-held snapshot tables, written by the driver (not nested). */
    def snapshotRows(id: Long, rows: Seq[SnapshotStore.Rows]): Unit = {
      require(!nested, "driver-written snapshots are not nested")
      SnapshotStore.writeRows(spark, dir, tables.zip(rows), id)
    }

    def delta(id: Long, dfs: Seq[DataFrame]): Unit =
      deltas.foreach(SnapshotStore.writeDelta(spark, _, tables.zip(dfs), id))

    def prune(id: Long): Unit =
      deltas.foreach(SnapshotStore.pruneDeltas(spark, _, id))

    def newest: Option[(Long, Seq[DataFrame])] = {
      val id =
        if (nested) tables.map(t => SnapshotStore.ids(spark, s"$dir/$t", "upto")
          .map(_._1).toSet).reduce(_ intersect _).maxOption
        else SnapshotStore.ids(spark, dir, "upto", tables).lastOption.map(_._1)
      id.map(i => i -> tables.map(t => spark.read.parquet(at(t, i))))
    }

    def deltasAfter(id: Long): Seq[(Long, Path)] = deltas.toSeq.flatMap(d =>
      SnapshotStore.ids(spark, d, "delta", tables).filter(_._1 > id))

    def readDeltas(paths: Seq[Path]): Seq[DataFrame] = tables.map(t =>
      spark.read.parquet(paths.map(p => SnapshotStore.path(p.toString, t)): _*))
  }

  // frames cut by the step running on this thread, released if it fails
  private val cuts = new ThreadLocal[ArrayBuffer[DataFrame]]

  private def tracked[T](f: => T): (T, Seq[DataFrame]) = {
    val made = ArrayBuffer.empty[DataFrame]
    val outer = cuts.get()
    cuts.set(made)
    try (f, made.toSeq)
    catch { case e: Throwable => made.foreach(_.unpersist()); throw e }
    finally cuts.set(outer)
  }

  /** Cut `df`'s lineage and persist it, computed in full NOW — batch N's
    * plan never re-derives batches 0..N-1, and a failed merge fails
    * before any swap. Inside a step the cut is tracked for release.
    */
  def materialize(df: DataFrame): DataFrame = {
    val cut = df.sparkSession.createDataFrame(df.rdd, df.schema)
      .persist(StorageLevel.MEMORY_AND_DISK)
    Option(cuts.get()).foreach(_ += cut)
    cut.count()
    cut
  }

  /** Every store's `run`: wire a streaming source into its `foreachBatch`
    * sink and start the query.
    */
  def run(source: DataFrame, checkpointDir: String)(
      sink: (DataFrame, Long) => Unit): StreamingQuery =
    source.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(sink)
      .outputMode("update")
      .start()
}
