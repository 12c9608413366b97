package graft.operators

import java.nio.charset.StandardCharsets
import java.time.Instant
import java.util.concurrent.{Executors, ScheduledExecutorService, ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.AtomicReference
import scala.concurrent.duration.FiniteDuration
import scala.util.control.NonFatal

import com.esotericsoftware.kryo.{Kryo, KryoSerializable}
import com.esotericsoftware.kryo.io.{Input, Output}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.{ColumnarToRowExec, SQLExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType, StringType}
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.array.ByteArrayMethods
import org.apache.spark.unsafe.types.UTF8String

/** One aggregate row per address.
  * Reference: the external `DiskUsage` output type, /root/reference/README.md:44-48.
  */
final case class DiskUsage(address: String, sizeBytes: Long, numberFiles: Long)

/** The reference's single query — hash group-by with SUM + COUNT over the
  * first path segment of an object key — as one declarative DataFrame chain.
  *
  * Reference pipeline re-expressed (all cites into /root/reference/handler.go):
  *  - projection of `key`,`size` out of the 20-column inventory schema
  *    (:205-221) → `select` (Catalyst prunes the parquet scan down to the two
  *    columns, strictly better than the reference's decode-everything
  *    `ReadTable` at :190);
  *  - malformed-key filter, keys without `/` dropped (:234-238) → `filter`;
  *  - first-path-segment extraction (:234,239) → `substring_index(key,"/",1)`;
  *  - hash aggregate SUM(size), COUNT(*) by address (:231-251) →
  *    `groupBy.agg` = partial (map-side) + final `HashAggregate` with a
  *    single shuffle on `address`, spill-capable — the 100 TB form of the
  *    reference's in-RAM Go map.
  */
object DiskUsageOp {

  /** inventory(keyCol: string, sizeCol: long) → (address, size_bytes, number_files). */
  def aggregate(
      inventory: DataFrame,
      keyCol: String = "key",
      sizeCol: String = "size"): DataFrame =
    inventory
      .select(col(keyCol).cast("string").as("key"), col(sizeCol).cast("long").as("size"))
      .filter(col("key").contains("/")) // handler.go:234-238
      .groupBy(substring_index(col("key"), "/", 1).as("address"))
      .agg(
        sum(col("size")).as("size_bytes"),
        count(lit(1)).as("number_files"))

  /** Same shape for a fractional size column (fixtures use double `value`);
    * sums go through DECIMAL(18,4) so results are exact and order-insensitive
    * (double summation order varies across partitions/engines). `size_bytes`
    * stays DECIMAL(28,4) — this is the PARTIALS CARRIER for
    * [[mergeSnapshots]]: keeping the exact type end-to-end is what makes
    * merge == full-recompute hold at any magnitude (a double carrier rounds
    * per-address totals beyond 2^53 scaled units, i.e. ~0.9 TB at scale 4 —
    * exactly the regime a 100 TB inventory lives in).
    */
  def aggregateFractionalDecimal(
      inventory: DataFrame,
      keyCol: String = "key",
      sizeCol: String = "size"): DataFrame =
    inventory
      .select(col(keyCol).cast("string").as("key"), col(sizeCol).as("size"))
      .filter(col("key").contains("/"))
      .groupBy(substring_index(col("key"), "/", 1).as("address"))
      .agg(
        sum(col("size").cast(DecimalType(18, 4))).cast(DecimalType(28, 4)).as("size_bytes"),
        count(lit(1)).as("number_files"))

  /** [[aggregateFractionalDecimal]] with `size_bytes` cast to double — the
    * SERVING-EDGE form (the reference serves float64, handler.go:24-28).
    * Snapshots that will be re-merged incrementally should use the decimal
    * form and cast at the edge instead.
    */
  def aggregateFractional(
      inventory: DataFrame,
      keyCol: String = "key",
      sizeCol: String = "size"): DataFrame =
    aggregateFractionalDecimal(inventory, keyCol, sizeCol)
      .withColumn("size_bytes", col("size_bytes").cast("double"))

  /** Skew-hardened two-phase variant for hot address prefixes at 100 TB scale:
    * salt the group key, partially aggregate per (address, salt), then combine.
    * Identical result to [[aggregate]]; the extra narrow aggregation bounds the
    * per-key fan-in of the final shuffle. (SURVEY.md §7.2 step 4 — AQE skew
    * handling applies to joins, not aggregates, so salting is the mitigation.)
    */
  def aggregateSalted(
      inventory: DataFrame,
      keyCol: String = "key",
      sizeCol: String = "size",
      saltBuckets: Int = 64): DataFrame =
    inventory
      .select(col(keyCol).cast("string").as("key"), col(sizeCol).cast("long").as("size"))
      .filter(col("key").contains("/"))
      .select(
        substring_index(col("key"), "/", 1).as("address"),
        (pmod(xxhash64(col("key")), lit(saltBuckets))).as("salt"),
        col("size"))
      .groupBy(col("address"), col("salt"))
      .agg(sum(col("size")).as("s"), count(lit(1)).as("n"))
      .groupBy(col("address"))
      .agg(sum(col("s")).as("size_bytes"), sum(col("n")).as("number_files"))

  /** INCREMENTAL refresh: combine already-aggregated snapshots (yesterday's
    * served table + today's delta aggregate) instead of rescanning the full
    * history — the SUM/COUNT aggregate is decomposable, so merging partials
    * is exact and the refresh cost drops from O(history) to O(delta +
    * |addresses|). At 100 TB this is the difference between a daily full
    * scan and a daily delta scan; the reference recomputes from scratch
    * every cycle (handler.go:77-92), which this extension makes optional.
    *
    * Inputs are (address, size_bytes, number_files) snapshots
    * ([[aggregate]]/[[aggregateFractionalDecimal]] output); sums re-run
    * through DECIMAL and the output KEEPS the DECIMAL(28,4) carrier type,
    * so merges are exact, order-insensitive, and chainable (today's merge
    * output is tomorrow's history input) at any magnitude below 10^24
    * scaled units. Cast to double only at the serving edge. Feeding
    * snapshots that already passed through a double edge works but caps
    * exactness at 2^53 scaled units — keep the carrier decimal end-to-end.
    * Result is value-identical to aggregating the concatenated inventories
    * (EngineSpec asserts it; the registry row's oracle IS the full
    * recompute).
    */
  def mergeSnapshots(snapshots: DataFrame*): DataFrame = {
    require(snapshots.nonEmpty, "need at least one snapshot")
    snapshots.reduce(_ unionAll _)
      .groupBy(col("address"))
      .agg(
        sum(col("size_bytes").cast(DecimalType(28, 4)))
          .cast(DecimalType(28, 4)).as("size_bytes"),
        sum(col("number_files")).as("number_files"))
  }
}

/** Per-address (size_bytes, number_files) partials of one inventory scan:
  * the map-side half of [[DiskUsageOp.aggregate]], folded without a
  * shuffle from the scan's column batches or rows. Keys are the UTF-8
  * bytes of the address (the key before its first `/`), so a row is folded
  * without decoding it into a `String`.
  *
  * An open-addressed table over flat arrays: entry `e` is the address of
  * `lengths(e)` bytes at `offsets(e)` in one byte arena, with its `hashes`,
  * `sums` and `counts` beside it; `slots` holds entry index + 1 (0 is
  * empty), probed linearly. The hash is taken in the same pass over the
  * key bytes that looks for the `/`, so a row costs one pass, one probe
  * and, for a new address only, a copy of its bytes.
  *
  * Serialized as its entry count and then, per address, the byte length,
  * the bytes and two longs, under Java serialization and Kryo alike.
  */
private[graft] final class AddressPartials
    extends java.io.Externalizable with KryoSerializable {
  import AddressPartials._

  private var size = 0
  private var slots = new Array[Int](1024)
  private var offsets = new Array[Int](256)
  private var lengths = new Array[Int](256)
  private var hashes = new Array[Int](256)
  private var sums = new Array[Long](256)
  private var counts = new Array[Long](256)
  private var arena = new Array[Byte](4096)
  private var used = 0

  /** Fold one `(key STRING, size BIGINT)` row; a null key is dropped. */
  def add(row: InternalRow): AddressPartials = {
    if (!row.isNullAt(0)) addKey(row.getUTF8String(0), if (row.isNullAt(1)) 0L else row.getLong(1))
    this
  }

  /** Fold one batch of `(key STRING, size BIGINT)` columns; null keys are dropped. */
  def add(batch: ColumnarBatch): AddressPartials = {
    val keys = batch.column(0)
    val bytes = batch.column(1)
    val rows = batch.numRows
    var r = 0
    while (r < rows) {
      if (!keys.isNullAt(r)) addKey(keys.getUTF8String(r), if (bytes.isNullAt(r)) 0L else bytes.getLong(r))
      r += 1
    }
    this
  }

  /** A key without `/` is dropped (`contains("/")` in
    * [[DiskUsageOp.aggregate]]); the address is the bytes before the first
    * `/` (`substring_index`; `/` is one byte that never occurs inside a
    * multi-byte character). Callers pass 0 `bytes` for a null size — S3
    * Inventory's delete markers — so it adds 0 bytes and 1 file, as the
    * reference's raw int64 read does. Sums overflow loudly, like ANSI `SUM`.
    */
  private def addKey(key: UTF8String, bytes: Long): Unit = {
    val base = key.getBaseObject
    val off = key.getBaseOffset
    val n = key.numBytes
    var h = HashBasis
    var i = 0
    var b: Byte = 0
    while (i < n && { b = Platform.getByte(base, off + i); b != '/' }) {
      h = hashStep(h, b)
      i += 1
    }
    if (i < n) upsert(base, off, i, mix(h), bytes, 1L)
  }

  private def upsert(base: AnyRef, off: Long, n: Int, h: Int, bytes: Long, files: Long): Unit = {
    val mask = slots.length - 1
    var s = h & mask
    var e = slots(s) - 1
    while (e >= 0 && !(hashes(e) == h && lengths(e) == n &&
        ByteArrayMethods.arrayEquals(base, off, arena, Platform.BYTE_ARRAY_OFFSET + offsets(e), n))) {
      s = (s + 1) & mask
      e = slots(s) - 1
    }
    if (e >= 0) {
      sums(e) = Math.addExact(sums(e), bytes)
      counts(e) = Math.addExact(counts(e), files)
    } else {
      reserve(n)
      Platform.copyMemory(base, off, arena, Platform.BYTE_ARRAY_OFFSET + used, n)
      slots(s) = push(n, h, bytes, files) + 1
      if (2 * size > slots.length) rehash(2 * slots.length)
    }
  }

  /** Room for one more entry of `n` address bytes. */
  private def reserve(n: Int): Unit = {
    if (size == offsets.length) {
      val cap = 2 * size
      offsets = java.util.Arrays.copyOf(offsets, cap)
      lengths = java.util.Arrays.copyOf(lengths, cap)
      hashes = java.util.Arrays.copyOf(hashes, cap)
      sums = java.util.Arrays.copyOf(sums, cap)
      counts = java.util.Arrays.copyOf(counts, cap)
    }
    val need = used.toLong + n
    if (need > arena.length) {
      if (need > MaxArena) throw new IllegalStateException(s"more than $MaxArena bytes of addresses")
      arena = java.util.Arrays.copyOf(arena, math.min(MaxArena, math.max(need, 2L * arena.length)).toInt)
    }
  }

  /** Record the `n` bytes at `arena(used)` as a new entry; returns its index. */
  private def push(n: Int, h: Int, bytes: Long, files: Long): Int = {
    offsets(size) = used
    lengths(size) = n
    hashes(size) = h
    sums(size) = bytes
    counts(size) = files
    used += n
    size += 1
    size - 1
  }

  private def rehash(cap: Int): Unit = {
    slots = new Array[Int](cap)
    val mask = cap - 1
    var e = 0
    while (e < size) {
      var s = hashes(e) & mask
      while (slots(s) != 0) s = (s + 1) & mask
      slots(s) = e + 1
      e += 1
    }
  }

  /** Merge two partials; returns the larger, with the smaller folded in. */
  def merge(other: AddressPartials): AddressPartials = {
    val (into, from) = if (size >= other.size) (this, other) else (other, this)
    var e = 0
    while (e < from.size) {
      into.upsert(from.arena, Platform.BYTE_ARRAY_OFFSET + from.offsets(e), from.lengths(e),
        from.hashes(e), from.sums(e), from.counts(e))
      e += 1
    }
    into
  }

  /** The served lookup map: built once, never mutated afterwards. */
  def served: java.util.Map[String, DiskUsage] = {
    val m = new java.util.HashMap[String, DiskUsage]((size / 0.75).toInt + 1)
    var e = 0
    while (e < size) {
      val address = new String(arena, offsets(e), lengths(e), StandardCharsets.UTF_8)
      m.put(address, DiskUsage(address, sums(e), counts(e)))
      e += 1
    }
    m
  }

  private def writeTo(out: java.io.DataOutput): Unit = {
    out.writeInt(size)
    var e = 0
    while (e < size) {
      out.writeInt(lengths(e))
      out.write(arena, offsets(e), lengths(e))
      out.writeLong(sums(e))
      out.writeLong(counts(e))
      e += 1
    }
  }

  private def readFrom(in: java.io.DataInput): Unit = {
    val n = in.readInt()
    val cap = math.max(n, 1)
    size = 0
    used = 0
    offsets = new Array[Int](cap)
    lengths = new Array[Int](cap)
    hashes = new Array[Int](cap)
    sums = new Array[Long](cap)
    counts = new Array[Long](cap)
    arena = new Array[Byte](math.min(16L * cap, MaxArena).toInt)
    var e = 0
    while (e < n) {
      val len = in.readInt()
      reserve(len)
      in.readFully(arena, used, len)
      push(len, hash(arena, used, len), in.readLong(), in.readLong())
      e += 1
    }
    rehash(Integer.highestOneBit(math.max(2 * cap, 512)) * 2)
  }

  override def writeExternal(out: java.io.ObjectOutput): Unit = writeTo(out)
  override def readExternal(in: java.io.ObjectInput): Unit = readFrom(in)
  override def write(kryo: Kryo, out: Output): Unit = {
    val d = new java.io.DataOutputStream(out)
    writeTo(d)
    d.flush()
  }
  override def read(kryo: Kryo, in: Input): Unit = readFrom(new java.io.DataInputStream(in))
}

private[graft] object AddressPartials {
  private val MaxArena = Int.MaxValue - 16L

  // FNV-1a over the address bytes, then murmur3's finalizer so that the
  // low bits that pick a slot depend on every byte
  private val HashBasis = 0x811c9dc5
  private def hashStep(h: Int, b: Byte): Int = (h ^ (b & 0xff)) * 0x01000193
  private def mix(x: Int): Int = {
    var h = x
    h ^= h >>> 16
    h *= 0x85ebca6b
    h ^= h >>> 13
    h *= 0xc2b2ae35
    h ^ (h >>> 16)
  }
  private def hash(bytes: Array[Byte], off: Int, n: Int): Int = {
    var h = HashBasis
    var i = off
    while (i < off + n) {
      h = hashStep(h, bytes(i))
      i += 1
    }
    mix(h)
  }

  /** [[DiskUsageOp.aggregate]] as ONE Spark job that returns its result to
    * the driver: each scan task folds its rows into a partial, and
    * `treeAggregate` (depth 2) merges the partials. With few scan
    * partitions the driver merges them all; with P partitions it adds
    * executor-side merge levels, so the driver merges about √P. The
    * Catalyst plan is kept up to the projection, which prunes the scan to
    * the two columns, and the job runs as one tracked SQL execution, so
    * the UI and `QueryExecutionListener`s see it like any action.
    *
    * When the planned projection is only a columnar scan turned into rows
    * (the source already holds `key STRING, size BIGINT`, so the casts
    * fold away, and the vectorized reader is on), the tasks fold the
    * scan's column batches and skip the row conversion. Any other plan —
    * a row-based source, a cast that is not a no-op, a filter — is folded
    * row by row.
    */
  def fold(inventory: DataFrame, keyCol: String, sizeCol: String): AddressPartials = {
    val qe = inventory
      .select(col(keyCol).cast("string"), col(sizeCol).cast("long"))
      .queryExecution
    SQLExecution.withNewExecutionId(qe, Some("disk usage refresh")) {
      val merge = (a: AddressPartials, b: AddressPartials) => a.merge(b)
      columnarScan(qe.executedPlan) match {
        case Some(scan) =>
          scan.executeColumnar().treeAggregate(new AddressPartials)((p, b) => p.add(b), merge)
        case None =>
          qe.toRdd.treeAggregate(new AddressPartials)((p, row) => p.add(row), merge)
      }
    }
  }

  /** The columnar child of a plan that only converts it to rows, when its
    * columns are already the fold's `(STRING, BIGINT)`.
    */
  private def columnarScan(plan: SparkPlan): Option[SparkPlan] = plan match {
    case WholeStageCodegenExec(c: ColumnarToRowExec) => columnarScan(c)
    case ColumnarToRowExec(scan)
        if scan.supportsColumnar && scan.output.map(_.dataType) == Seq(StringType, LongType) =>
      Some(scan)
    case _ => None
  }
}

/** A failed refresh: when it failed and why. */
final case class RefreshFailure(at: Instant, message: String)

/** Periodic-refresh serving handler: the reference's whole lifecycle
  * (/root/reference/handler.go:39-92,257-262) on Spark.
  *
  *  - `load` resolves one refresh's input: an identity of what it would
  *    scan (None: unknown) and the inventory DataFrame, built only if the
  *    refresh folds. The public constructor takes a `loadInventory` with no
  *    identity; [[InventoryPipeline.servingHandler]] supplies the resolved
  *    manifest's file list (key, size, MD5 of every file).
  *  - Construction runs one synchronous refresh (run-at-start, handler.go:58)
  *    so callers can query immediately, then schedules the periodic job
  *    (handler.go:56-66) with a fixed delay: the next refresh starts
  *    `refreshEvery` after the previous one ended, so a refresh slower
  *    than its period is never followed at once by a late tick.
  *  - A refresh whose identity equals that of the snapshot being served
  *    keeps that snapshot: no DataFrame is built and no Spark job runs. It
  *    still counts in [[refreshCount]] and [[lastSuccess]]. A refresh with
  *    no identity, or a new one, folds.
  *  - A fold is one Spark job ([[AddressPartials.fold]]): scan tasks fold
  *    per-address partial sums, straight from the parquet scan's column
  *    batches when the source is columnar, and the partials merge up a
  *    `treeAggregate` tree into the map that [[getDiskUsage]] serves — no
  *    shuffle, no distributed result to collect back. The tree bounds the
  *    partials the driver merges to about √P for P scan partitions.
  *  - A fold replaces the served snapshot via AtomicReference swap — the
  *    race-free version of handler.go:30,252,258 — and records its
  *    identity as the one served. A published map is never mutated.
  *  - A failed refresh KEEPS the previous snapshot and its identity and is
  *    recorded in [[lastFailure]]. This deliberately fixes the reference's
  *    `log.Fatalf`-kills-the-process behavior on decode errors
  *    (handler.go:176,186,192).
  *
  * The driver holds the merged map of all addresses, which is valid while
  * address cardinality fits driver memory (true for the reference's use
  * case). At higher cardinality, serve from the aggregated DataFrame itself
  * (cached / complete-mode memory sink) and probe with
  * `filter(col("address") === addr)` — see [[DiskUsageOp.aggregate]].
  */
final class DiskUsageHandler private[operators] (
    refreshEvery: FiniteDuration,
    keyCol: String,
    sizeCol: String,
    // last: the public constructor's first parameter is a Function0 too,
    // and the two constructors must differ after erasure
    load: () => (Option[Any], () => DataFrame))
    extends AutoCloseable {

  /** A handler whose every refresh folds `loadInventory()`. */
  def this(
      loadInventory: () => DataFrame,
      refreshEvery: FiniteDuration,
      keyCol: String = "key",
      sizeCol: String = "size") =
    this(refreshEvery, keyCol, sizeCol, () => (None, loadInventory))

  private val snapshot =
    new AtomicReference[java.util.Map[String, DiskUsage]](java.util.Collections.emptyMap())
  private val refreshes = new java.util.concurrent.atomic.AtomicLong(0L)
  private val failure = new AtomicReference[Option[RefreshFailure]](None)
  private val success = new AtomicReference[Option[Instant]](None)
  /** Identity of the input the served snapshot was folded from. */
  private var served: Option[Any] = None

  /** Synchronized: overlapping refreshes (scheduler tick + manual call)
    * would otherwise race compute-then-set and could publish the OLDER
    * inventory's snapshot over the newer one.
    */
  def refreshOnce(): Unit = synchronized {
    val folded =
      try {
        val (identity, inventory) = load()
        if (identity.isDefined && identity == served) None
        else Some(identity -> AddressPartials.fold(inventory(), keyCol, sizeCol).served)
      } catch {
        case NonFatal(e) =>
          failure.set(Some(RefreshFailure(Instant.now(), describe(e))))
          throw e
      }
    folded.foreach { case (identity, next) =>
      snapshot.set(next) // handler.go:252, race-free
      served = identity
    }
    refreshes.incrementAndGet()
    success.set(Some(Instant.now()))
  }

  /** The exception, and its root cause when that is another one: Spark
    * wraps a task's or a result handler's exception in its own.
    */
  private def describe(e: Throwable): String = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(16).toSeq.last
    if (root eq e) e.toString else s"$e; root cause: $root"
  }

  private val exec: ScheduledExecutorService =
    Executors.newSingleThreadScheduledExecutor(new ThreadFactory {
      def newThread(r: Runnable): Thread = {
        val t = new Thread(r, "disk-usage-refresh"); t.setDaemon(true); t
      }
    })

  refreshOnce() // handler.go:58 — blocking first refresh
  exec.scheduleWithFixedDelay(
    () =>
      try refreshOnce()
      catch { // cron.Recover chain, handler.go:48 — survive, keep old snapshot
        case NonFatal(_) => () // recorded in lastFailure
      },
    refreshEvery.toMillis,
    refreshEvery.toMillis,
    TimeUnit.MILLISECONDS)

  /** Point lookup (/root/reference/handler.go:257-262); `None` is the
    * idiomatic `ErrNotFound` (/root/reference/types.go:6).
    */
  def getDiskUsage(address: String): Option[DiskUsage] = Option(snapshot.get.get(address))

  /** Refreshes that published a snapshot or kept an unchanged one. */
  def refreshCount: Long = refreshes.get()

  /** When the last refresh that published a snapshot or found its input
    * unchanged ended; a failed refresh never sets it.
    */
  def lastSuccess: Option[Instant] = success.get

  /** The most recent failed refresh, scheduled or manual; a later success
    * does not clear it (compare [[refreshCount]] to see one happened).
    */
  def lastFailure: Option[RefreshFailure] = failure.get

  def close(): Unit = exec.shutdownNow() // handler.go:70-72
}
