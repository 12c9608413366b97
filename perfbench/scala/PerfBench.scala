package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Path, Paths}
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanLike, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry
import graft.operators.{Dedup, DiskUsageHandler, InventoryPipeline}
import graft.streaming.{CdcStream, CmsStream, HeavyHittersStream}

/** Spans recorded around each call the benchmark makes into a layer. Kept
  * in memory and written once at the end, so recording costs an
  * allocation and two clock reads.
  */
final class Tracer(runId: String) {
  @volatile var on = false
  private final case class Span(id: Long, parent: Long, name: String, start: Long, end: Long)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0L)
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get()
      stack.set(id :: outer)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, outer.headOption.getOrElse(0L), name, t0, System.nanoTime()))
        stack.set(outer)
      }
    }

  def write(p: Path): Unit =
    Files.write(p, spans.asScala.map(s =>
      s"$runId,${s.id},${s.parent},${s.name},${s.start},${s.end}").asJava)
}

/** Counters read from Spark's own listeners: Catalyst phase times and
  * file-scan totals per query, execution time, and task-level
  * shuffle/spill totals.
  */
final class SparkCounters extends SparkListener with QueryExecutionListener {
  private val c = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  val sqlStartsMs = new ConcurrentLinkedQueue[java.lang.Long]()
  private def add(k: String, v: Long): Unit =
    c.computeIfAbsent(k, _ => new AtomicLong()).addAndGet(v): Unit
  def get(k: String): Long = Option(c.get(k)).map(_.get).getOrElse(0L)

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    add("queries", 1)
    add("exec_ns", durationNs)
    qe.tracker.phases.foreach { case (phase, s) => add(s"phase_ms.$phase", s.durationMs) }
    scans(qe.executedPlan).foreach { s =>
      add("scan_bytes", s.metrics.get("filesSize").map(_.value).getOrElse(0L))
      add("scan_rows", s.metrics.get("numOutputRows").map(_.value).getOrElse(0L))
    }
  }
  private def scans(p: SparkPlan): Seq[FileSourceScanLike] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case f: FileSourceScanLike => Seq(f)
    case other => other.children.flatMap(scans)
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    add("query_failures", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("shuffle_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("stages", 1)
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => sqlStartsMs.add(s.time)
    case _ => ()
  }
}

object Jvm {
  private def gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  def gcSeconds: Double = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum / 1e3
  def gcCount: Long = gcBeans.map(b => math.max(0L, b.getCollectionCount)).sum
  def heapAfterGcMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).flatMap(p => Option(p.getCollectionUsage))
    .map(_.getUsed).sum / 1048576.0
}

/** One benchmark run inside one JVM. Workloads record raw samples here;
  * run.py turns them into percentiles and runs the checks that
  * need no JVM. `trace` splits the measured window in two halves: the
  * first untraced, the second with spans and listeners on, so their
  * difference is the tracing overhead.
  */
final class Run(val spark: SparkSession, val in: String, val out: String,
    seconds: Double, trace: Boolean, runId: String) {
  val tracer = new Tracer(runId)
  val counters = new SparkCounters
  val setupS = mutable.ArrayBuffer.empty[Double]
  val opMs = Map(false -> mutable.ArrayBuffer.empty[Double], true -> mutable.ArrayBuffer.empty[Double])
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  private var gc0 = (0.0, 0L)

  /** Progress line on stderr with seconds since JVM start. */
  def mark(what: String): Unit = System.err.println(f"[perfbench] $what at ${
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3}%.1f s")

  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) failures += what
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** Phases of the measured window: (traced, seconds). */
  def phases: Seq[(Boolean, Double)] =
    if (trace) Seq(false -> seconds / 2, true -> seconds / 2) else Seq(false -> seconds)

  /** Run `step` until the phase's time is up (at least once per phase). */
  def window(step: Boolean => Unit): Unit = {
    mark("window")
    phases.foreach { case (traced, s) =>
      if (traced) startTrace()
      val end = System.nanoTime() + (s * 1e9).toLong
      do step(traced) while (System.nanoTime() < end)
    }
    mark("window end")
  }

  def startTrace(): Unit = {
    spark.sparkContext.addSparkListener(counters)
    spark.listenerManager.register(counters)
    tracer.on = true
    gc0 = (Jvm.gcSeconds, Jvm.gcCount)
  }

  /** Drain the listener bus, then read counters and GC deltas. */
  def traceTotals(): Unit = {
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    layer("jvm.gc_s") = Jvm.gcSeconds - gc0._1
    layer("jvm.gc_count") = (Jvm.gcCount - gc0._2).toDouble
    layer("jvm.heap_after_gc_mb") = Jvm.heapAfterGcMb
  }

  private val master = spark.sparkContext.master

  def finish(): Unit = {
    if (trace) tracer.write(Paths.get(out, "spans.csv"))
    val m = new ObjectMapper()
    val doc = Map[String, Any](
      "setup_s" -> setupS.asJava,
      "op_ms" -> opMs(false).asJava,
      "op_ms_traced" -> opMs(true).asJava,
      "layer" -> layer.asJava,
      "attempted" -> attempted,
      "gc_s" -> Jvm.gcSeconds,
      "failures" -> failures.asJava,
      "master" -> master)
    Files.writeString(Paths.get(out, "result.json"), m.writeValueAsString(doc.asJava))
  }
}

object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val cores = a.getOrElse("cores", "4").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a("out") + "/spark-local")
      .config("spark.sql.warehouse.dir", a("out") + "/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (a("workload") == "classes") {
      try Workloads.loadClasses(spark, a("out")) finally spark.stop()
      return
    }
    val run = new Run(spark, a("input"), a("out"), a("seconds").toDouble, a("trace") == "1",
      a("workload") + "-" + a("seed"))
    run.mark("session")
    try a("workload") match {
      case "inventory_refresh" => Workloads.inventoryRefresh(run)
      case "lookup_during_refresh" => Workloads.lookupDuringRefresh(run, a("rate").toInt)
      case "registry_tail" => Workloads.registryTail(run, a("rows").split(',').toSeq)
      case "stream_replay" => Workloads.streamReplay(run)
    } finally {
      run.mark("stop")
      spark.stop()
    }
    run.finish()
    run.mark("done")
  }
}

object Workloads {
  private val om = new ObjectMapper()

  /** A short pass over the Spark machinery the workloads use, run once at
    * build time so its loaded classes go into the class-data archive.
    */
  def loadClasses(spark: SparkSession, out: String): Unit = {
    import org.apache.spark.sql.functions._
    val df = spark.range(0, 100000).select(
      concat(col("id") % 97, lit("/"), col("id")).as("key"), col("id").as("size"))
    df.write.mode("overwrite").parquet(s"$out/t")
    graft.operators.DiskUsageOp.aggregate(spark.read.parquet(s"$out/t")).collect()
    df.groupBy(col("size") % 7).agg(sum("size"), count(lit(1))).write.format("noop").mode("overwrite").save()
    spark.createDataFrame(df.limit(10).collect().toSeq.asJava, df.schema).distinct().collect()
  }

  final case class Day(clock: Instant, delivery: String, fetches: Int)

  /** Serving-pipeline fixture: the generated manifests and deliveries,
    * a clock that advances one day per call and a counting fetch.
    */
  final class Inventory(run: Run) {
    val root: String = Paths.get(run.in, "inv").toAbsolutePath.toString
    val days: IndexedSeq[Day] = om.readTree(Files.readString(Paths.get(root, "schedule.json")))
      .elements().asScala.map(n => Day(Instant.parse(n.get("clock").asText),
        n.get("delivery").asText, n.get("fetches").asInt)).toIndexedSeq
    val addresses: Array[String] = Files.readAllLines(Paths.get(root, "addresses.txt")).asScala.toArray
    val truth: Map[String, Map[String, (Long, Long)]] = Seq("A", "B").map { d =>
      d -> Files.readAllLines(Paths.get(root, s"truth_$d.tsv")).asScala.map { l =>
        val f = l.split('\t'); f(0) -> (f(1).toLong, f(2).toLong)
      }.toMap
    }.toMap
    val clockCalls = new AtomicLong(0L)
    val clockMs = new ConcurrentLinkedQueue[java.lang.Long]()
    val fetches = new AtomicLong(0L)
    def day(call: Long): Day = days((call % days.size).toInt)
    val clock: () => Instant = () => {
      clockMs.add(System.currentTimeMillis())
      day(clockCalls.getAndIncrement()).clock
    }
    val fetch: String => Option[String] = key => run.tracer.span("sources.manifest.fetch") {
      fetches.incrementAndGet()
      val p = Paths.get(root, key)
      if (Files.exists(p)) Some(Files.readString(p)) else None
    }
    def handler(every: FiniteDuration): DiskUsageHandler =
      InventoryPipeline.servingHandler(run.spark, "file:" + root,
        "inventory/source-bucket/daily", clock, fetch, every)

    /** Addresses whose answer differs from `delivery`'s ground truth. */
    def mismatches(h: DiskUsageHandler, delivery: String): Int = {
      val t = truth(delivery)
      addresses.count(a => h.getDiskUsage(a).map(d => (d.sizeBytes, d.numberFiles)) != t.get(a))
    }
    def present(h: DiskUsageHandler): Int = addresses.count(a => h.getDiskUsage(a).isDefined)

    /** Time from each clock call (the start of a refresh) to the first SQL
      * execution it submitted: manifest fetch, parse, file listing and
      * parquet footer inference.
      */
    def resolveMs(c: SparkCounters, since: Long): Seq[Double] = {
      val starts = c.sqlStartsMs.asScala.map(_.longValue).toVector.sorted
      val calls = clockMs.asScala.map(_.longValue).toVector.sorted.filter(_ >= since)
      calls.zip(calls.drop(1).map(Some(_)) :+ None).flatMap { case (t, next) =>
        starts.find(s => s >= t && next.forall(s < _)).map(s => (s - t).toDouble)
      }
    }
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; val n = s.size; (s((n - 1) / 2) + s(n / 2)) / 2 }

  def inventoryRefresh(run: Run): Unit = {
    val inv = new Inventory(run)
    def checked(h: DiskUsageHandler, fetches0: Long, what: String): Unit = {
      val d = inv.day(inv.clockCalls.get - 1)
      val bad = inv.mismatches(h, d.delivery)
      run.check(bad == 0, s"$what: $bad addresses differ from delivery ${d.delivery}")
      val f = inv.fetches.get - fetches0
      run.check(f == d.fetches, s"$what: $f manifest fetches, expected ${d.fetches}")
    }
    var h: DiskUsageHandler = null
    (1 to 3).foreach { i =>
      if (h != null) h.close()
      val f0 = inv.fetches.get
      val (hh, ms) = run.timed(inv.handler(1.day))
      h = hh
      run.setupS += ms / 1e3
      checked(h, f0, s"setup $i")
    }
    var traced0 = -1L
    var refreshes = 0
    var fetchesTraced = 0L
    val tracedEndsMs = mutable.ArrayBuffer.empty[Long]
    run.window { traced =>
      if (traced && traced0 < 0) traced0 = System.currentTimeMillis()
      val f0 = inv.fetches.get
      val (_, ms) = run.timed(run.tracer.span("operators.du.refresh")(h.refreshOnce()))
      run.opMs(traced) += ms
      if (traced) {
        refreshes += 1
        fetchesTraced += inv.fetches.get - f0
        tracedEndsMs += System.currentTimeMillis()
      }
      checked(h, f0, s"refresh ${inv.clockCalls.get - 1}")
    }
    h.close()
    if (refreshes > 0) {
      run.traceTotals()
      val c = run.counters
      val phases = Seq("analysis", "optimization", "planning").map(p => c.get(s"phase_ms.$p")).sum
      // publish: from the submission of a refresh's collect to its return,
      // which covers the collect job, building the map and the swap
      val starts = c.sqlStartsMs.asScala.map(_.longValue).toVector.sorted
      val publish = tracedEndsMs.toSeq.flatMap { end =>
        starts.filter(_ <= end).lastOption.map(s => (end - s).toDouble)
      }
      run.layer ++= Seq(
        "manifest.fetches" -> fetchesTraced.toDouble / refreshes,
        "manifest.resolve_s" -> median(inv.resolveMs(c, traced0)) / 1e3,
        "handler.publish_s" -> median(publish) / 1e3,
        "aggregate.catalyst_s" -> phases / 1e3 / refreshes,
        "aggregate.exec_s" -> c.get("exec_ns") / 1e9 / refreshes,
        "aggregate.scan_bytes" -> c.get("scan_bytes").toDouble / refreshes,
        "aggregate.scan_rows" -> c.get("scan_rows").toDouble / refreshes,
        "aggregate.shuffle_bytes" -> c.get("shuffle_bytes").toDouble / refreshes,
        "snapshot.addresses" -> inv.present(h).toDouble)
    }
  }

  /** Open loop: one generator thread issues lookups at a fixed rate while
    * the handler's own timer refreshes back to back. Each lookup records
    * its due, send and completion times and its answer; run.py checks
    * the answers and measures latency from the due time.
    */
  def lookupDuringRefresh(run: Run, rate: Int): Unit = {
    val inv = new Inventory(run)
    val raw = Files.readAllBytes(Paths.get(inv.root, "lookups.bin"))
    val idx = ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN).asIntBuffer()
    val n = idx.remaining()
    var h: DiskUsageHandler = null
    (1 to 3).foreach { i =>
      if (h != null) h.close()
      // the last handler keeps its timer: a period far below one refresh
      // makes the refreshes run back to back for the whole window
      val every = if (i == 3) 20.millis else 1.day
      val (hh, ms) = run.timed(inv.handler(every))
      h = hh
      run.setupS += ms / 1e3
      if (i < 3) {
        val d = inv.day(inv.clockCalls.get - 1).delivery
        val bad = inv.mismatches(h, d)
        run.check(bad == 0, s"setup $i: $bad addresses differ from delivery $d")
      }
    }
    val rec = ByteBuffer.allocate(n * 48).order(ByteOrder.LITTLE_ENDIAN)
    val periodNs = 1e9 / rate
    var i = 0
    var traced0 = -1L
    var calls0 = 0L
    run.phases.foreach { case (traced, s) =>
      if (traced) { run.startTrace(); traced0 = System.currentTimeMillis(); calls0 = inv.clockCalls.get }
      val t0 = System.nanoTime() + 1000000L
      val i0 = i
      val stop = t0 + (s * 1e9).toLong
      var due = t0
      while (i < n && due < stop) {
        due = t0 + ((i - i0) * periodNs).toLong
        while (System.nanoTime() < due) Thread.onSpinWait()
        val sent = System.nanoTime()
        val r = run.tracer.span("operators.du.lookup")(h.getDiskUsage(inv.addresses(idx.get(i))))
        val done = System.nanoTime()
        rec.putLong(due - t0).putLong(sent - t0).putLong(done - t0)
          .putLong(r.map(_.sizeBytes).getOrElse(-1L)).putLong(r.map(_.numberFiles).getOrElse(-1L))
          .putLong(if (traced) 1L else 0L)
        i += 1
      }
    }
    val refreshesInWindow = inv.clockCalls.get - calls0
    h.close()
    Files.write(Paths.get(run.out, "lookups.rec"), java.util.Arrays.copyOf(rec.array(), i * 48))
    // the last published snapshot must be exactly one delivery; refreshOnce
    // locks the handler, so holding that lock waits out a refresh in flight
    val last = h.synchronized(Seq("A", "B").map(d => inv.mismatches(h, d)).min)
    run.check(last == 0, s"final snapshot matches neither delivery ($last addresses off)")
    if (traced0 >= 0) {
      run.traceTotals()
      val starts = run.counters.sqlStartsMs.asScala.map(_.longValue).toVector.sorted
      val calls = inv.clockMs.asScala.map(_.longValue).toVector.sorted.filter(_ >= traced0)
      // a refresh ends when the next back-to-back one calls the clock;
      // publish is the tail from its collect's submission to that point
      val publish = calls.zip(calls.drop(1)).flatMap { case (t, next) =>
        starts.filter(s => s >= t && s < next).lastOption.map(s => (next - s).toDouble)
      }
      val periods = calls.zip(calls.drop(1)).map { case (a, b) => (b - a).toDouble }
      run.layer ++= Seq(
        "handler.publish_s" -> median(publish) / 1e3,
        "handler.refresh_s" -> median(periods) / 1e3,
        "handler.refreshes" -> refreshesInWindow.toDouble,
        "snapshot.addresses" -> inv.present(h).toDouble)
    }
  }

  /** Closed loop over registry rows, each built to its full result. The
    * set-up is one cold pass after invalidating the artifact cache; it
    * writes each row's result as parquet for the oracle check. The
    * measured window repeats whole warm passes through the `noop` sink.
    */
  def registryTail(run: Run, rows: Seq[String]): Unit = {
    val dir = Paths.get(run.in, "fixture").toAbsolutePath.toString
    def build(row: String, sink: DataFrame => Unit): Double =
      try run.timed(run.tracer.span(s"registry.$row")(sink(SparkEntry.queries(row)(run.spark, dir))))._2
      finally Dedup.uncacheAll()
    SparkEntry.invalidateArtifactCaches()
    val cold = rows.map(r => r -> build(r, _.write.mode("overwrite").parquet(s"${run.out}/rows/$r")))
    run.setupS += cold.map(_._2).sum / 1e3
    Files.writeString(Paths.get(run.out, "rows", "oracle_sql.json"),
      om.writeValueAsString(rows.map(r => r -> SparkEntry.oracleSql(r)).toMap.asJava))
    val warm = Map(false -> mutable.Map.empty[String, mutable.ArrayBuffer[Double]],
      true -> mutable.Map.empty[String, mutable.ArrayBuffer[Double]])
    var passes = 0
    run.window { traced =>
      rows.foreach { r =>
        val ms = build(r, _.write.format("noop").mode("overwrite").save())
        warm(traced).getOrElseUpdate(r, mutable.ArrayBuffer.empty) += ms
        run.opMs(traced) += ms
      }
      if (traced) passes += 1
    }
    if (passes > 0) {
      run.traceTotals()
      val c = run.counters
      val (frames, bytes, _) = SparkEntry.artifactResidency()
      cold.foreach { case (r, ms) => run.layer(s"row.$r.cold_s") = ms / 1e3 }
      rows.foreach(r => run.layer(s"row.$r.warm_s") = median(warm(true)(r).toSeq) / 1e3)
      Seq("analysis", "optimization", "planning").foreach { p =>
        run.layer(s"catalyst.${p}_s") = c.get(s"phase_ms.$p") / 1e3 / passes
      }
      run.layer ++= Seq(
        "exec.shuffle_bytes" -> c.get("shuffle_bytes").toDouble / passes,
        "exec.spill_bytes" -> c.get("spill_bytes").toDouble / passes,
        "exec.scan_bytes" -> c.get("scan_bytes").toDouble / passes,
        "exec.stages" -> c.get("stages").toDouble / passes,
        "exec.tasks" -> c.get("tasks").toDouble / passes,
        "memo.frames" -> frames.toDouble,
        "memo.bytes" -> bytes.toDouble)
    }
  }

  private val CmsWidth = 2048
  private val CmsDepth = 4
  // above the fixture's vocabulary, so the Misra-Gries summary is exact
  // and comparable with a one-shot count
  private val MgK = 64
  private val DocsPerBatch = 25
  private val EventsPerBatch = 50

  /** Closed loop over a fixed micro-batch sequence fed through the public
    * `sink` functions of three durable stores; every fifth batch is
    * delivered twice. Afterwards each store is restored from its durable
    * directory and compared with the live store and with a one-shot
    * computation over the applied batches.
    */
  def streamReplay(run: Run): Unit = {
    val spark = run.spark
    val fx = Paths.get(run.in, "fixture").toAbsolutePath.toString
    val docsDf = spark.read.parquet(s"$fx/documents.parquet").select("doc_id", "text").orderBy("doc_id")
    val eventsDf = spark.read.parquet(s"$fx/events.parquet")
      .select("event_id", "user_id", "event_type", "value").orderBy("event_id")
    val docs = docsDf.collect()
    val events = eventsDf.collect()
    val nBatches = math.min(docs.length / DocsPerBatch, events.length / EventsPerBatch)
    def frame(rows: Array[Row], like: DataFrame): DataFrame =
      spark.createDataFrame(rows.toSeq.asJava, like.schema)
    def batch(k: Int): (DataFrame, DataFrame) = (
      frame(docs.slice(k * DocsPerBatch, (k + 1) * DocsPerBatch), docsDf),
      frame(events.slice(k * EventsPerBatch, (k + 1) * EventsPerBatch), eventsDf))
    val keys = Seq("user_id")
    val order = Seq("event_id")
    val payload = Seq("event_type", "value")
    val emptyCdc = CdcStream.compact(frame(Array.empty, eventsDf), keys, order, payload)
    def open(dir: String) = (
      CmsStream.SketchStore.restore(spark, s"$dir/cms", CmsWidth, CmsDepth),
      HeavyHittersStream.MgStore.restore(spark, s"$dir/mg", MgK),
      CdcStream.CompactStore.restore(spark, s"$dir/cdc", keys, emptyCdc))
    def sinksOf(s: (CmsStream.SketchStore, HeavyHittersStream.MgStore, CdcStream.CompactStore)) = Seq(
      "cms" -> CmsStream.sink(s._1),
      "mg" -> HeavyHittersStream.sink(s._2),
      "cdc" -> CdcStream.sink(s._3, keys, order, payload))
    def ackBatch(sinks: Seq[(String, (DataFrame, Long) => Unit)], b: (DataFrame, DataFrame),
        id: Long): Seq[(String, Double)] =
      sinks.map { case (name, sink) =>
        name -> run.timed(run.tracer.span(s"streaming.$name.sink")(
          sink(if (name == "cdc") b._2 else b._1, id)))._2
      }
    // set-up: open the three durable stores and acknowledge the first batch
    val stores = (1 to 3).map { i =>
      val (s, ms) = run.timed {
        val s = open(s"${run.out}/stores/$i")
        ackBatch(sinksOf(s), batch(0), 0L)
        s
      }
      run.setupS += ms / 1e3
      s
    }
    stores.init.foreach(_._3.current.unpersist())
    val dir = s"${run.out}/stores/3"
    val (cms, mg, cdc) = stores.last
    val sinks = sinksOf(stores.last)
    def files(): Seq[Path] = {
      val walk = Files.walk(Paths.get(dir))
      try walk.iterator().asScala.filter(Files.isRegularFile(_)).toList finally walk.close()
    }
    val ack = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val redelivered = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    var sinkMs = 0.0
    var wasteMs = 0.0
    val seen = mutable.Set.empty[String]
    var filesWritten = 0L
    var bytesWritten = 0L
    var tracedBatches = 0
    var k = 1
    def deliver(b: (DataFrame, DataFrame), id: Long, into: mutable.Map[String, mutable.ArrayBuffer[Double]],
        traced: Boolean): Double =
      ackBatch(sinks, b, id).map { case (name, ms) =>
        if (traced) into.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += ms
        ms
      }.sum
    run.window { traced =>
      require(k < nBatches, s"micro-batch sequence exhausted after $k batches")
      val b = batch(k)
      val ms = deliver(b, k, ack, traced)
      run.opMs(traced) += ms
      if (k % 5 == 4) {
        val before = (cms.counters, mg.summary)
        val w = deliver(b, k, redelivered, traced)
        run.check(cms.lastApplied == k && mg.lastApplied == k && (cms.counters, mg.summary) == before,
          s"redelivered batch $k was applied again")
        if (traced) { wasteMs += w; sinkMs += w }
      }
      val fresh = files().filterNot(p => seen(p.toString))
      seen ++= fresh.map(_.toString)
      if (traced) {
        sinkMs += ms
        tracedBatches += 1
        filesWritten += fresh.size
        bytesWritten += fresh.map(Files.size(_)).sum
      }
      k += 1
    }
    run.check(cms.lastApplied == k - 1 && mg.lastApplied == k - 1, s"stores did not apply all $k batches")

    // one-shot computation over the same applied batches, via fresh stores
    val allDocs = frame(docs.take(k * DocsPerBatch), docsDf)
    val allEvents = frame(events.take(k * EventsPerBatch), eventsDf)
    val oneCms = new CmsStream.SketchStore(CmsWidth, CmsDepth)
    CmsStream.sink(oneCms)(allDocs, 0L)
    val oneMg = new HeavyHittersStream.MgStore(MgK)
    HeavyHittersStream.sink(oneMg)(allDocs, 0L)
    val oneCdc = new CdcStream.CompactStore(spark, keys, emptyCdc)
    CdcStream.sink(oneCdc, keys, order, payload)(allEvents, 0L)
    def rowsOf(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val liveCdc = rowsOf(cdc.current)
    run.check(cms.counters == oneCms.counters, "cms store differs from the one-shot sketch")
    run.check(mg.summary == oneMg.summary, "mg store differs from the one-shot summary")
    run.check(liveCdc == rowsOf(oneCdc.current), "cdc store differs from the one-shot compaction")

    val restore = mutable.LinkedHashMap.empty[String, Double]
    val (rCms, t1) = run.timed(run.tracer.span("streaming.cms.restore")(
      CmsStream.SketchStore.restore(spark, s"$dir/cms", CmsWidth, CmsDepth)))
    val (rMg, t2) = run.timed(run.tracer.span("streaming.mg.restore")(
      HeavyHittersStream.MgStore.restore(spark, s"$dir/mg", MgK)))
    val (rCdc, t3) = run.timed(run.tracer.span("streaming.cdc.restore")(
      CdcStream.CompactStore.restore(spark, s"$dir/cdc", keys, emptyCdc)))
    restore ++= Seq("cms" -> t1, "mg" -> t2, "cdc" -> t3)
    run.check(rCms.counters == cms.counters && rCms.lastApplied == cms.lastApplied,
      "restored cms store differs from the live one")
    run.check(rMg.summary == mg.summary && rMg.lastApplied == mg.lastApplied,
      "restored mg store differs from the live one")
    run.check(rowsOf(rCdc.current) == liveCdc, "restored cdc store differs from the live one")

    if (tracedBatches > 0) {
      run.traceTotals()
      sinks.foreach { case (s, _) =>
        run.layer(s"store.$s.ack_s") = median(ack(s).toSeq) / 1e3
        run.layer(s"store.$s.redelivered_s") = median(redelivered.getOrElse(s, mutable.ArrayBuffer.empty).toSeq) / 1e3
        run.layer(s"store.$s.restore_s") = restore(s) / 1e3
      }
      run.layer ++= Seq(
        "store.redelivery_waste_share" -> (if (sinkMs > 0) wasteMs / sinkMs else 0.0),
        "snapshot.bytes_written" -> bytesWritten.toDouble / tracedBatches,
        "snapshot.files_written" -> filesWritten.toDouble / tracedBatches)
    }
  }
}
