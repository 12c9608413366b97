package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.sources.DedupIndex
import graft.streaming.BatchStore.{Step, materialize}

/** Self-maintaining ingest dedup — the production daily-ingest loop as a
  * streaming twin: each micro-batch of new documents (a) PROBES the
  * persisted [[DedupIndex]] for near-dup pairs against everything
  * ingested before it, (b) runs the batch-local pair pass for duplicates
  * WITHIN the batch, then (c) APPENDS itself to the index. Only the
  * batch is ever shingled; the corpus side stays pre-signed parquet.
  *
  * Reference scope note: the reference engine has no streaming surface
  * (`handler.go:77-92` is a fixed refresh loop); extension-mandate
  * operator.
  *
  * Batch-split invariance (the spec's contract): every qualifying pair
  * (a, b) of the union corpus is either intra-batch (caught by the local
  * pass of the batch carrying both) or cross-batch (caught when the
  * later doc's batch probes an index already containing the earlier
  * doc) — so the accumulated pair set equals
  * [[Dedup.minhashLshPairs]] over ALL delivered documents, for ANY
  * batching. Ids must be unique across the stream (the usual ingest
  * contract); pairs are canonicalized to doc_a < doc_b.
  *
  * Exactly-once: the index append is not idempotent, so the
  * [[BatchStore]] guard drops re-deliveries BEFORE any artifact write.
  * Cache note: each merge
  * releases the shared shingle-cache pool after materializing its pairs
  * (the store assumes single-tenant use of [[Dedup]]'s pool during a
  * merge — concurrent batch queries stay correct, they just lose a
  * persist hint).
  */
object IngestDedupStream {

  /** Accumulated near-dup pairs + the growing on-disk index at `dir`. */
  final class IngestStore(spark: SparkSession, dir: String,
      idCol: String = "doc_id", textCol: String = "text",
      n: Int = 3, tau: Double = 0.6, bands: Int = 32, rows: Int = 2,
      compactEvery: Int = 64) {
    require(compactEvery >= 1, s"compactEvery must be >= 1: $compactEvery")
    import spark.implicits._

    // Restart durability (the BatchStore contract one rung up): the
    // on-disk index under `dir` survives a driver restart but an
    // in-memory-only `indexed` flag would not — a rebuilt store would
    // call DedupIndex.build with mode("overwrite"), DESTROYING the
    // accumulated bands/sets this loop exists to grow, while the
    // checkpoint already marks earlier batches committed (never
    // re-probed). So: (a) `indexed` initializes from the artifact itself
    // (bands/_SUCCESS present), and (b) each batch commits its NEW pairs
    // as a `pairs_snap/delta=<batchId>` entry, every `compactEvery`-th
    // batch the accumulated pairs as a full `upto=` snapshot instead, so
    // a rebuilt store resumes where the artifact is and replayed batches
    // drop on the restored guard instead of double-appending. The pair
    // table is append-only and grows without bound — the delta log keeps
    // per-batch I/O O(delta). No pair lands in two deltas: (a,b) is
    // emitted only by the later doc's batch, and the torn-replay
    // self-probe duplicates collapse under the per-batch distinct below.
    // Restore also adopts a legacy full `upto=` snapshot from the
    // pre-delta-log format: without it an upgraded deployment would
    // restore empty while its checkpoint marks every earlier batch
    // delivered.
    private def artifactExists: Boolean = {
      val p = new Path(s"$dir/bands/_SUCCESS")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    }

    private def pairRows(df: DataFrame) =
      df.select(col("doc_a"), col("doc_b"), col("jaccard"))
    private val core = new BatchStore[DataFrame](
      materialize(Seq.empty[(Long, Long, Double)].toDF("doc_a", "doc_b", "jaccard")),
      Seq(_), Some(BatchStore.Log(spark, s"$dir/pairs_snap",
        deltas = Some(s"$dir/pairs_snap"), every = compactEvery)))
    core.restore((_, t) => materialize(pairRows(t.head)),
      (s, d) => materialize(s.unionAll(pairRows(d.head))))
    @volatile private var indexed = artifactExists

    /** Near-dup pairs among everything delivered so far — spec-pinned
      * ≡ [[Dedup.minhashLshPairs]] over the concatenated stream.
      */
    def pairs: DataFrame = core.state

    /** Fold one micro-batch in; replays drop on the guard. */
    def merge(batch: DataFrame, batchId: Long): Boolean = core(batchId) { old =>
      // scope the per-batch shingle/signature caches (the LSH chain and
      // the index probe both register into the session pool): releasing
      // exactly this batch's registrations on exit replaces the previous
      // global uncacheAll(), which also purged caches belonging to any
      // co-resident dedup pipeline in the same session (ADVICE r18 on
      // the BlockSkewStream twin — same class here). The delta/next
      // folds are lineage-cut and persisted directly, so they outlive
      // the release.
      Dedup.releasingScoped {
      val within = Dedup.minhashLshPairs(batch, idCol, textCol, n, tau, bands, rows)
      val cross =
        if (!indexed) within.limit(0)
        else {
          val raw = DedupIndex.probe(DedupIndex.load(spark, dir), batch,
            tau, idCol, textCol, n, bands, rows)
          // probe orients (new, indexed); canonicalize to doc_a < doc_b.
          // The self-pair filter matters only in the torn-replay window
          // (crash between index append and the delta commit): the replay
          // then probes a batch already IN the index, matching each doc
          // to itself.
          raw.filter(col("doc_a") =!= col("doc_b")).select(
            least(col("doc_a"), col("doc_b")).as("doc_a"),
            greatest(col("doc_a"), col("doc_b")).as("doc_b"),
            col("jaccard"))
        }
      // distinct over the batch's new pairs: in the torn-replay window the
      // probe re-derives intra-batch pairs (the batch collides with its
      // own appended signatures) that `within` also carries, and
      // double-appended signatures duplicate candidate rows — jaccard is
      // a pure function of the two shingle sets, so exact-row distinct
      // collapses both. Outside that window it is a no-op on unique pairs.
      val delta = materialize(within.unionAll(cross).distinct())
      val next = materialize(old.unionAll(delta))
      // grow the artifact only after the pair fold is safely materialized:
      // a failure above leaves both the pairs AND the index at the old
      // batch, so the checkpoint replays the whole batch consistently
      if (!indexed) {
        DedupIndex.build(batch, dir, idCol, textCol, n, bands, rows)
        indexed = true
      } else {
        DedupIndex.append(spark, dir, batch, idCol, textCol, n, bands, rows)
      }
      Step(next, Seq(delta))
      }
    }
  }

  /** `(batch, batchId) => Unit` for `writeStream.foreachBatch`. */
  def sink(store: IngestStore): (DataFrame, Long) => Unit =
    (batch, id) => { store.merge(batch, id); () }

  /** Wire a streaming document source into `store` and start the query;
    * callers read `store.pairs` at any time.
    */
  def run(docs: DataFrame, store: IngestStore, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    BatchStore.run(docs, checkpointDir)(sink(store))
}
