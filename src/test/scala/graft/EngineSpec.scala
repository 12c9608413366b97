package graft

import java.nio.file.Files

import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._
import graft.streaming.DiskUsageStream

/** Spark-backed tests: reference semantics of the disk-usage pipeline
  * (union-of-files fix, malformed-key drop, snapshot swap, scheduler),
  * operator invariants (LSH vs exact dedup, ANN vs brute force), the
  * streaming refresh, and plan-shape assertions (pushdown/pruning/broadcast)
  * that encode the 100 TB design contract.
  */
class EngineSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("engine-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    // harness-wide declared config (same as Verify/Bench): nanos parquet
    // columns read as long instead of failing the scan
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def events = spark.read
    .schema("event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE, props STRING")
    .parquet(s"$sf/events.parquet")

  private def docs = spark.read.parquet(s"$sf/documents.parquet")
  private def emb = spark.read.parquet(s"$sf/embeddings.parquet")

  // ------------------------------------------------------------ disk usage

  test("aggregate drops keys without '/' and groups by first segment (handler.go:234-251)") {
    import spark.implicits._
    val inv = Seq(
      ("alice/a.txt", 10L), ("alice/b/c.txt", 5L), ("bob/x", 7L),
      ("noslash", 100L), ("", 3L)).toDF("key", "size")
    val got = DiskUsageOp.aggregate(inv).orderBy("address").collect()
    assert(got.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq(("alice", 15L, 2L), ("bob", 7L, 1L)))
  }

  test("multi-file read accumulates across files — the §2.4 overwrite fix") {
    import spark.implicits._
    val dir = Files.createTempDirectory("inv").toString
    Seq(("u/a", 1L)).toDF("key", "size").write.parquet(s"$dir/f1")
    Seq(("u/b", 2L), ("v/c", 4L)).toDF("key", "size").write.parquet(s"$dir/f2")
    val all = spark.read.parquet(s"$dir/f1", s"$dir/f2") // manifest path list
    val got = DiskUsageOp.aggregate(all).orderBy("address").collect()
    assert(got.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq(("u", 3L, 2L), ("v", 4L, 1L))) // NOT last-file-wins
  }

  test("incremental snapshot merge equals the full recompute") {
    import spark.implicits._
    val inv = (1 to 500).map(i => (s"user${i % 7}/obj$i", i * 0.25)).toDF("key", "size")
    val full = DiskUsageOp.aggregateFractional(inv).orderBy("address").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq
    // split the inventory three ways, aggregate each slice independently,
    // merge the partials — decomposable SUM/COUNT must reproduce the full
    // aggregate exactly (the incremental-refresh contract). Partials ride
    // the DECIMAL carrier; double appears only at the serving edge.
    val parts = (0 until 3).map(k =>
      DiskUsageOp.aggregateFractionalDecimal(
        inv.filter(pmod(xxhash64(col("key")), lit(3)) === k)))
    def edge(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("size_bytes", col("size_bytes").cast("double"))
        .orderBy("address").collect()
        .map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(edge(DiskUsageOp.mergeSnapshots(parts: _*)) == full)
    // merging a single snapshot is the identity
    assert(edge(DiskUsageOp.mergeSnapshots(
      DiskUsageOp.aggregateFractionalDecimal(inv))) == full)
    // chainability: merge(merge(p0,p1), p2) == merge(p0,p1,p2) — the shape a
    // daily incremental refresh actually runs (yesterday's MERGED snapshot
    // is today's history input), exact because the carrier never leaves
    // DECIMAL
    assert(edge(DiskUsageOp.mergeSnapshots(
      DiskUsageOp.mergeSnapshots(parts(0), parts(1)), parts(2))) == full)
  }

  test("salted aggregate equals plain aggregate") {
    import spark.implicits._
    val inv = (1 to 500).map(i => (s"user${i % 7}/obj$i", i.toLong)).toDF("key", "size")
    val plain = DiskUsageOp.aggregate(inv).orderBy("address").collect().toSeq
    val salted = DiskUsageOp.aggregateSalted(inv).orderBy("address").collect().toSeq
    assert(plain.map(_.toSeq) == salted.map(_.toSeq))
  }

  test("handler: blocking first refresh, point lookup, periodic re-refresh, failure keeps snapshot") {
    val load = () => events.select(
      concat_ws("/", col("user_id"), col("event_id")).as("key"),
      (col("value") * 100).cast("long").as("size"))
    val h = new DiskUsageHandler(load, refreshEvery = 300.millis)
    try {
      // run-at-start (handler.go:58): queryable immediately
      assert(h.refreshCount == 1)
      val some = h.getDiskUsage("8")
      assert(some.nonEmpty && some.get.numberFiles > 0)
      assert(h.getDiskUsage("no-such-address").isEmpty) // ErrNotFound → None
      // cron re-run (handler.go:56-66)
      val deadline = System.currentTimeMillis() + 10000
      while (h.refreshCount < 2 && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(h.refreshCount >= 2)
    } finally h.close()
    // a failing refresh must keep the old snapshot (fix of log.Fatalf)
    var fail = false
    val flaky = () =>
      if (fail) sys.error("decode error") else events.select(
        concat_ws("/", col("user_id"), col("event_id")).as("key"), col("event_id").as("size"))
    val h2 = new DiskUsageHandler(flaky, refreshEvery = 10.minutes)
    try {
      fail = true
      intercept[RuntimeException](h2.refreshOnce())
      assert(h2.getDiskUsage("8").nonEmpty) // old snapshot still served
    } finally h2.close()
  }

  test("manifest-driven pipeline end to end: resolve, fallback, multi-file scan, serve") {
    import java.nio.file.{Files, Paths}
    import java.time.Instant
    import scala.concurrent.duration._
    import spark.implicits._
    val bucket = Files.createTempDirectory("bucket").toString
    // two inventory data files named by the manifest
    Seq(("alice/a", 10L), ("bob/b", 5L)).toDF("key", "size")
      .coalesce(1).write.parquet(s"$bucket/data/f1")
    Seq(("alice/c", 90L)).toDF("key", "size")
      .coalesce(1).write.parquet(s"$bucket/data/f2")
    // manifest for YESTERDAY only → exercises the previous-day fallback
    val yesterdayKey = graft.sources.Manifest.manifestKey(
      "inv/prefix", Instant.parse("2026-08-11T09:00:00Z"))
    Files.createDirectories(Paths.get(s"$bucket/$yesterdayKey").getParent)
    Files.writeString(Paths.get(s"$bucket/$yesterdayKey"),
      """{"sourceBucket":"b","files":[{"key":"data/f1","size":1},{"key":"data/f2","size":1}]}""")
    val fetch = (key: String) => {
      val p = Paths.get(s"$bucket/$key")
      if (Files.exists(p)) Some(Files.readString(p)) else None
    }
    val now = () => Instant.parse("2026-08-12T09:00:00Z") // fake clock: "today"
    val h = InventoryPipeline.servingHandler(
      spark, bucket, "inv/prefix", now, fetch, refreshEvery = 10.minutes)
    try {
      assert(h.getDiskUsage("alice").contains(DiskUsage("alice", 100L, 2L))) // across BOTH files
      assert(h.getDiskUsage("bob").contains(DiskUsage("bob", 5L, 1L)))
      assert(h.getDiskUsage("carol").isEmpty)
    } finally h.close()
    // no manifest for either day → construction fails (reference: fatal first run)
    intercept[RuntimeException] {
      InventoryPipeline.servingHandler(spark, bucket, "inv/prefix",
        () => Instant.parse("2026-09-01T00:00:00Z"), fetch, 10.minutes).close()
    }
  }

  test("s3a profile: configs land on the session; pipeline code is scheme-agnostic") {
    import java.nio.file.{Files, Paths}
    import java.time.Instant
    import spark.implicits._
    import graft.sources.S3aProfile
    // config shape per credential mode
    val static = S3aProfile.configs(S3aProfile.Creds(Some("AK"), Some("SK")))
    assert(static("fs.s3a.access.key") == "AK")
    assert(static("fs.s3a.secret.key") == "SK")
    assert(static("fs.s3a.aws.credentials.provider").endsWith("SimpleAWSCredentialsProvider"))
    val anon = S3aProfile.configs(S3aProfile.Creds(anonymous = true),
      endpoint = Some("http://localhost:9000"), pathStyle = true, region = Some("eu-west-1"))
    assert(anon("fs.s3a.aws.credentials.provider").endsWith("AnonymousAWSCredentialsProvider"))
    assert(anon("fs.s3a.endpoint") == "http://localhost:9000")
    assert(anon("fs.s3a.path.style.access") == "true")
    assert(anon("fs.s3a.endpoint.region") == "eu-west-1")
    assert(S3aProfile.configs()("fs.s3a.experimental.input.fadvise") == "random")
    // apply() writes through to the live Hadoop configuration
    S3aProfile(spark, S3aProfile.Creds(anonymous = true))
    assert(spark.sparkContext.hadoopConfiguration
      .get("fs.s3a.aws.credentials.provider").endsWith("AnonymousAWSCredentialsProvider"))
    // the pipeline runs identically over an EXPLICIT scheme-qualified root:
    // file: here, s3a://bucket in production — only the dataRoot string and
    // the cluster's hadoop-aws jars differ (InventoryPipeline injection seam)
    val bucket = Files.createTempDirectory("s3a-shape").toString
    Seq(("alice/a", 7L)).toDF("key", "size").coalesce(1).write.parquet(s"$bucket/data/f1")
    val key = graft.sources.Manifest.manifestKey(
      "inv/p", Instant.parse("2026-08-12T09:00:00Z"))
    Files.createDirectories(Paths.get(s"$bucket/$key").getParent)
    Files.writeString(Paths.get(s"$bucket/$key"),
      """{"sourceBucket":"b","files":[{"key":"data/f1","size":1}]}""")
    val fetch = (k: String) => {
      val p = Paths.get(s"$bucket/$k")
      if (Files.exists(p)) Some(Files.readString(p)) else None
    }
    val got = InventoryPipeline.inventoryForDay(
      spark, s"file:$bucket", "inv/p", Instant.parse("2026-08-12T09:00:00Z"), fetch)
    assert(got.nonEmpty)
    assert(got.get._2.count() == 1)
    if (S3aProfile.isAvailable)
      info("hadoop-aws present: same call with dataRoot = s3a://bucket would run live")
    else
      info("hadoop-aws absent in this container: s3a leg is config-checked only")
  }

  test("s3a scheme end-to-end: pipeline writes and reads parquet through s3a:// URIs (in-JVM shim)") {
    import java.nio.file.Files
    import java.time.Instant
    import spark.implicits._
    import graft.sources.S3aProfile
    // the REAL S3AFileSystem needs hadoop-aws (absent here — no jar, no
    // network); when it ever IS present, the env-gated live smoke below
    // covers it and this shim test would shadow the real impl — skip.
    assume(!S3aProfile.isAvailable,
      "hadoop-aws on classpath: the live smoke covers s3a, shim would shadow it")
    val hc = spark.sparkContext.hadoopConfiguration
    val root = Files.createTempDirectory("s3ashim").toString
    hc.set("fs.s3a.impl", classOf[S3aShimFileSystem].getName)
    hc.set("fs.s3a.impl.disable.cache", "true")
    hc.set("graft.s3ashim.root", root)
    try {
      // the production profile applies on top (its configs are inert for
      // the shim but the call path is the live one)
      S3aProfile(spark, S3aProfile.Creds(anonymous = true),
        endpoint = Some("http://localhost:9"), pathStyle = true)
      val bucket = "s3a://graft-shim-bucket"
      // WRITE through s3a: the parquet committer's temp-dir + rename flow
      Seq(("alice/a", 7L), ("alice/b", 5L), ("bob/c", 9L))
        .toDF("key", "size").coalesce(1).write.parquet(s"$bucket/data/f1")
      // manifest object written and fetched through the same s3a FS
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(bucket), hc)
      val key = graft.sources.Manifest.manifestKey(
        "inv/p", Instant.parse("2026-08-12T09:00:00Z"))
      val out = fs.create(new org.apache.hadoop.fs.Path(s"$bucket/$key"))
      out.write(
        """{"sourceBucket":"b","files":[{"key":"data/f1","size":1}]}"""
          .getBytes("UTF-8"))
      out.close()
      val fetch = (k: String) => {
        val p = new org.apache.hadoop.fs.Path(s"$bucket/$k")
        if (fs.exists(p)) {
          val in = fs.open(p)
          try Some(new String(
            org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8"))
          finally in.close()
        } else None
      }
      val got = InventoryPipeline.inventoryForDay(
        spark, bucket, "inv/p", Instant.parse("2026-08-12T09:00:00Z"), fetch)
      assert(got.nonEmpty, "manifest resolution over s3a failed")
      val inv = got.get._2
      assert(inv.count() == 3L)
      // and the reference A1 aggregate runs over the s3a-scanned frame
      val agg = graft.operators.DiskUsageOp.aggregate(inv)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(agg == Map("alice" -> 12L, "bob" -> 9L), agg.toString)
    } finally {
      hc.unset("fs.s3a.impl")
      hc.unset("graft.s3ashim.root")
      hc.unset("fs.s3a.impl.disable.cache")
    }
  }

  test("s3a LIVE smoke (env-gated): real endpoint end-to-end") {
    import java.time.Instant
    import spark.implicits._
    import graft.sources.S3aProfile
    // Runbook (also in PLANS.md): provision hadoop-aws on the classpath,
    // stand up MinIO (or point at AWS), then
    //   GRAFT_S3A_TEST_ROOT=s3a://bucket GRAFT_S3A_ENDPOINT=http://host:9000
    //   GRAFT_S3A_ACCESS=... GRAFT_S3A_SECRET=... sbt "testOnly graft.EngineSpec -- -z \"s3a LIVE\""
    val rootEnv = sys.env.get("GRAFT_S3A_TEST_ROOT")
    assume(rootEnv.isDefined,
      "set GRAFT_S3A_TEST_ROOT=s3a://bucket (+ GRAFT_S3A_ENDPOINT/ACCESS/SECRET) to run")
    assume(S3aProfile.isAvailable, "hadoop-aws missing from the classpath")
    val bucket = rootEnv.get.stripSuffix("/")
    S3aProfile(spark,
      S3aProfile.Creds(sys.env.get("GRAFT_S3A_ACCESS"), sys.env.get("GRAFT_S3A_SECRET"),
        anonymous = !sys.env.contains("GRAFT_S3A_ACCESS")),
      endpoint = sys.env.get("GRAFT_S3A_ENDPOINT"), pathStyle = true)
    val hc = spark.sparkContext.hadoopConfiguration
    Seq(("alice/a", 7L), ("bob/c", 9L))
      .toDF("key", "size").coalesce(1)
      .write.mode("overwrite").parquet(s"$bucket/graft-smoke/data/f1")
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(bucket), hc)
    val key = graft.sources.Manifest.manifestKey(
      "graft-smoke/inv", Instant.parse("2026-08-12T09:00:00Z"))
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$bucket/$key"), true)
    out.write(
      """{"sourceBucket":"b","files":[{"key":"graft-smoke/data/f1","size":1}]}"""
        .getBytes("UTF-8"))
    out.close()
    val fetch = (k: String) => {
      val p = new org.apache.hadoop.fs.Path(s"$bucket/$k")
      if (fs.exists(p)) {
        val in = fs.open(p)
        try Some(new String(
          org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8"))
        finally in.close()
      } else None
    }
    val got = InventoryPipeline.inventoryForDay(
      spark, bucket, "graft-smoke/inv", Instant.parse("2026-08-12T09:00:00Z"), fetch)
    assert(got.nonEmpty && got.get._2.count() == 2L)
  }

  test("corrupt parquet fails the refresh but keeps serving the old snapshot (log.Fatalf fix)") {
    import java.nio.file.{Files, Paths}
    import scala.concurrent.duration._
    import spark.implicits._
    val dir = Files.createTempDirectory("corrupt").toString
    Seq(("u/a", 1L)).toDF("key", "size").write.parquet(s"$dir/good")
    var path = s"$dir/good"
    val h = new DiskUsageHandler(
      () => spark.read.schema("key STRING, size BIGINT").parquet(path),
      refreshEvery = 10.minutes)
    try {
      assert(h.getDiskUsage("u").nonEmpty)
      // a garbage file where parquet is expected — the reference would
      // log.Fatalf and kill the process (handler.go:176,186,192)
      Files.createDirectories(Paths.get(s"$dir/bad"))
      Files.write(Paths.get(s"$dir/bad/data.parquet"), "not a parquet file".getBytes)
      path = s"$dir/bad"
      intercept[Exception](h.refreshOnce())
      assert(h.getDiskUsage("u").nonEmpty, "old snapshot must survive a failed refresh")
    } finally h.close()
  }

  test("serving store under concurrent refresh + reads: every lookup sees a consistent snapshot") {
    import scala.concurrent.duration._
    import spark.implicits._
    // alternate between two generations; size and count always move together,
    // so a torn read would show a mixed (size, count) pair
    @volatile var gen = 0
    val load = () => {
      val g = gen
      Seq(("u", 100L * (g + 1)), ("u", 100L * (g + 1))).toDF("key0", "size")
        .select(concat_ws("/", col("key0"), lit("x")).as("key"), col("size"))
    }
    val h = new DiskUsageHandler(load, refreshEvery = 10.minutes)
    try {
      val bad = new java.util.concurrent.atomic.AtomicInteger(0)
      val readers = (1 to 4).map { _ =>
        new Thread(() => {
          (1 to 2000).foreach { _ =>
            h.getDiskUsage("u").foreach { d =>
              // consistent iff sizeBytes == numberFiles * (100 * generation)
              if (d.sizeBytes % (100L * d.numberFiles) != 0) bad.incrementAndGet()
            }
          }
        })
      }
      readers.foreach(_.start())
      (1 to 5).foreach { g => gen = g; h.refreshOnce() }
      readers.foreach(_.join())
      assert(bad.get() == 0, s"${bad.get()} torn reads observed")
      assert(h.getDiskUsage("u").contains(DiskUsage("u", 1200L, 2L)))
    } finally h.close()
  }

  /** A (key, size) inventory as an RDD-backed frame with exactly `parts`
    * scan partitions, so the fold sees that many partials.
    */
  private def inventoryIn(rows: Seq[(String, java.lang.Long)], parts: Int) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (k, s) => org.apache.spark.sql.Row(k, s) }, parts),
      org.apache.spark.sql.types.StructType.fromDDL("key STRING, size BIGINT"))

  /** Jobs and stages the body submits, read from the status tracker. */
  private def jobsAndStages(body: => Unit): (Int, Int) = {
    val sc = spark.sparkContext
    val group = s"jobs-${System.nanoTime()}"
    sc.setJobGroup(group, group)
    try body finally sc.clearJobGroup()
    val tracker = sc.statusTracker
    val ids = tracker.getJobIdsForGroup(group).toSeq
    val deadline = System.currentTimeMillis() + 10000
    def done = ids.forall(i => tracker.getJobInfo(i).exists(
      _.status == org.apache.spark.JobExecutionStatus.SUCCEEDED))
    while (!done && System.currentTimeMillis() < deadline) Thread.sleep(20)
    (ids.size, ids.flatMap(i => tracker.getJobInfo(i).toSeq.flatMap(_.stageIds.toSeq)).size)
  }

  test("handler: an address whose objects all have a null size is served, not a failed refresh") {
    // S3 Inventory gives delete markers a null size; the reference reads
    // them as int64 0, so they add 0 bytes and 1 file
    val rows: Seq[(String, java.lang.Long)] = Seq(("u/a", 5L), ("u/b", null), ("dm/x", null))
    val h = new DiskUsageHandler(() => inventoryIn(rows, 2), refreshEvery = 10.minutes)
    try {
      assert(h.getDiskUsage("u").contains(DiskUsage("u", 5L, 2L)))
      assert(h.getDiskUsage("dm").contains(DiskUsage("dm", 0L, 1L)))
    } finally h.close()
  }

  /** Edge-case keys (no `/`, leading `/`, `a//b`, multi-byte, null keys
    * and sizes) shuffled into 5000 bulk rows over about 480 addresses.
    */
  private lazy val foldRows: Seq[(String, java.lang.Long)] = {
    val rnd = new scala.util.Random(7)
    val edge: Seq[(String, java.lang.Long)] = Seq(
      ("noslash", 100L), ("/leading", 3L), ("/", 4L), ("a//b", 5L), ("a/b/c", 6L),
      ("ü/x", 7L), ("日本/ファイル", 8L), ("日本", 9L), ("ß/", null), ("ß/y", 10L),
      (null, 11L), (null, null), ("", 12L), ("deleted/only", null))
    val bulk: Seq[(String, java.lang.Long)] = (1 to 5000).map { i =>
      val addr = Seq("alice", "bob", "ünï", "", "日本")(rnd.nextInt(5)) + (i % 97)
      (s"$addr/obj$i", if (i % 50 == 0) null else java.lang.Long.valueOf(rnd.nextInt(1 << 20).toLong))
    }
    rnd.shuffle(edge ++ bulk)
  }

  /** [[DiskUsageOp.aggregate]] as the handler serves it. The reference
    * sums to NULL where every size is null; the fold serves 0 there (the
    * null-size test), the only place the two differ.
    */
  private def aggregated(inv: org.apache.spark.sql.DataFrame): Map[String, DiskUsage] =
    DiskUsageOp.aggregate(inv).collect().map(r =>
      r.getString(0) -> DiskUsage(r.getString(0),
        if (r.isNullAt(1)) 0L else r.getLong(1), r.getLong(2))).toMap

  test("refresh fold equals DiskUsageOp.aggregate at 1 and 64 partitions, in one job") {
    val rows = foldRows
    Seq(1 -> 1, 64 -> 2).foreach { case (parts, stages) =>
      val inv = inventoryIn(rows, parts)
      val want = aggregated(inv)
      assert(want.contains("") && want.contains("a") && want.contains("日本") &&
        want.contains("ß") && want("deleted") == DiskUsage("deleted", 0L, 1L))
      var got: Map[String, DiskUsage] = null
      // 64 partials merge through one executor-side treeAggregate level
      // (a second stage); either way the refresh is a single job
      assert(jobsAndStages {
        got = AddressPartials.fold(inv, "key", "size").served.asScala.toMap
      } == ((1, stages)), s"at $parts partitions")
      assert(got == want, s"at $parts partitions")
      val h = new DiskUsageHandler(() => inv, refreshEvery = 10.minutes)
      try want.foreach { case (a, d) => assert(h.getDiskUsage(a).contains(d)) }
      finally h.close()
    }
  }

  test("refresh partials serialize as address bytes plus two longs under Java and Kryo") {
    val p = AddressPartials.fold(inventoryIn(
      (1 to 1000).map(i => (s"addr$i/o", java.lang.Long.valueOf(i.toLong))), 1), "key", "size")
    val payload = 4 + (1 to 1000).map(i => 4 + s"addr$i".length + 16).sum
    val conf = spark.sparkContext.getConf
    Seq(new org.apache.spark.serializer.JavaSerializer(conf),
        new org.apache.spark.serializer.KryoSerializer(conf)).foreach { ser =>
      val inst = ser.newInstance()
      val bytes = inst.serialize(p)
      assert(bytes.remaining() < payload + 200,
        s"${ser.getClass.getSimpleName}: ${bytes.remaining()} bytes for a $payload-byte payload")
      assert(inst.deserialize[AddressPartials](bytes).served == p.served)
    }
  }

  test("an overflowing address sum fails the refresh and keeps the previous snapshot") {
    var rows: Seq[(String, java.lang.Long)] = Seq(("u/a", 1L))
    var parts = 1
    val h = new DiskUsageHandler(() => inventoryIn(rows, parts), refreshEvery = 10.minutes)
    try {
      assert(h.lastFailure.isEmpty)
      rows = Seq(("u/a", Long.MaxValue), ("u/b", 1L))
      // overflow inside one scan task, then in the merge of two partials
      Seq(1, 2).foreach { p =>
        parts = p
        val before = java.time.Instant.now()
        intercept[Exception](h.refreshOnce())
        assert(h.getDiskUsage("u").contains(DiskUsage("u", 1L, 1L)), s"$p partitions")
        val f = h.lastFailure
        assert(f.exists(x => !x.at.isBefore(before) && x.message.contains("overflow")), f.toString)
      }
      assert(h.refreshCount == 1)
    } finally h.close()
  }

  test("a failed scheduled refresh is recorded, not just logged") {
    var fail = false
    val h = new DiskUsageHandler(
      () => if (fail) sys.error("decode error") else inventoryIn(Seq(("u/a", 1L)), 1),
      refreshEvery = 100.millis)
    try {
      fail = true
      val deadline = System.currentTimeMillis() + 10000
      while (h.lastFailure.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(h.lastFailure.exists(_.message.contains("decode error")))
      assert(h.getDiskUsage("u").contains(DiskUsage("u", 1L, 1L)))
    } finally h.close()
  }

  test("manifest-driven refresh whose first file has no size column fails and keeps the snapshot") {
    import java.nio.file.{Files, Paths}
    import java.time.Instant
    import spark.implicits._
    val bucket = Files.createTempDirectory("nosize").toString
    // the bad file is first in the manifest and in path order, the file
    // Spark's schema inference would read
    Seq(("alice/a", 10L)).toDF("key", "size").coalesce(1).write.parquet(s"$bucket/data/b-good")
    Seq(("alice/b", "x")).toDF("key", "other").coalesce(1).write.parquet(s"$bucket/data/a-nosize")
    val now = Instant.parse("2026-08-12T09:00:00Z")
    val key = graft.sources.Manifest.manifestKey("inv/p", now)
    Files.createDirectories(Paths.get(s"$bucket/$key").getParent)
    def deliver(files: String*): Unit = Files.writeString(Paths.get(s"$bucket/$key"),
      files.map(f => s"""{"key":"data/$f","size":1}""").mkString(
        """{"sourceBucket":"b","files":[""", ",", "]}"))
    val fetch = (k: String) => {
      val p = Paths.get(s"$bucket/$k")
      if (Files.exists(p)) Some(Files.readString(p)) else None
    }
    deliver("b-good")
    val h = InventoryPipeline.servingHandler(spark, s"file:$bucket", "inv/p", () => now, fetch,
      refreshEvery = 10.minutes)
    try {
      assert(h.getDiskUsage("alice").contains(DiskUsage("alice", 10L, 1L)))
      deliver("a-nosize", "b-good")
      intercept[Exception](h.refreshOnce())
      assert(h.getDiskUsage("alice").contains(DiskUsage("alice", 10L, 1L)))
    } finally h.close()
  }

  /** `rows` written in order as a `key STRING, size BIGINT` parquet
    * directory of `files` files, with `options` passed to the writer.
    */
  private def parquetOf(rows: Seq[(String, java.lang.Long)], files: Int,
      options: (String, String)*): String = {
    val dir = Files.createTempDirectory("inv-parquet").toString + "/inv"
    inventoryIn(rows, files).write.options(options.toMap).parquet(dir)
    dir
  }

  private def readInventory(dir: String) = spark.read.schema("key STRING, size BIGINT").parquet(dir)

  /** Runs `body` with the session's SQL `conf` set, then restores it. */
  private def withSQLConf[T](conf: (String, String)*)(body: => T): T = {
    val before = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** The executed plan of the refresh fold that `body` runs. */
  private def refreshPlan(body: => Unit): org.apache.spark.sql.execution.SparkPlan = {
    import org.apache.spark.sql.execution.QueryExecution
    val seen = new java.util.concurrent.LinkedBlockingQueue[QueryExecution]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(name: String, qe: QueryExecution, ns: Long): Unit =
        if (name == "disk usage refresh") seen.add(qe)
      def onFailure(name: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      val qe = seen.poll(10, java.util.concurrent.TimeUnit.SECONDS)
      assert(qe != null, "no refresh execution reported")
      qe.executedPlan
    } finally spark.listenerManager.unregister(listener)
  }

  test("refresh fold equals DiskUsageOp.aggregate on parquet, vectorized reader on and off") {
    // repeated keys first, so the key column chunk starts with
    // dictionary-encoded pages and falls back to plain pages once the
    // small dictionary fills
    val repeated: Seq[(String, java.lang.Long)] =
      (1 to 3000).map(i => (s"dup${i % 30}/o", java.lang.Long.valueOf(i.toLong)))
    val rows = repeated ++ foldRows
    val small = Seq("parquet.page.size" -> "1024", "parquet.dictionary.page.size" -> "2048",
      "parquet.page.size.row.check.min" -> "10", "parquet.page.size.row.check.max" -> "100")
    val oneFile = parquetOf(rows, 1, small: _*)
    val conf = spark.sparkContext.hadoopConfiguration
    val parts = new java.io.File(oneFile).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(parts.length == 1)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(parts.head.toURI), conf))
    val stats =
      try reader.getFooter.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala)
        .filter(_.getPath.toDotString == "key").map(_.getEncodingStats)
      finally reader.close()
    assert(stats.exists(s => s.hasDictionaryEncodedPages && s.hasNonDictionaryEncodedPages),
      "the key column has no chunk with both dictionary-encoded and plain pages")
    Seq(oneFile -> 1, parquetOf(rows, 64) -> 2).foreach { case (dir, stages) =>
      val want = aggregated(readInventory(dir))
      assert(want == aggregated(inventoryIn(rows, 1)))
      Seq("true", "false").foreach { vectorized =>
        // one scan partition per file: small files are otherwise packed
        // into about one partition per core
        withSQLConf("spark.sql.parquet.enableVectorizedReader" -> vectorized,
            "spark.sql.files.minPartitionNum" -> "64") {
          val inv = readInventory(dir)
          var got: Map[String, DiskUsage] = null
          assert(jobsAndStages {
            got = AddressPartials.fold(inv, "key", "size").served.asScala.toMap
          } == ((1, stages)), s"$dir, vectorized $vectorized")
          assert(got == want, s"$dir, vectorized $vectorized")
        }
      }
    }
  }

  test("a vectorized parquet scan is folded from its column batches, a row scan from rows") {
    val rows = foldRows
    val dir = parquetOf(rows, 2)
    val want = aggregated(inventoryIn(rows, 1))
    Seq(true, false).foreach { vectorized =>
      withSQLConf("spark.sql.parquet.enableVectorizedReader" -> vectorized.toString) {
        var got: Map[String, DiskUsage] = null
        val plan = refreshPlan {
          got = AddressPartials.fold(readInventory(dir), "key", "size").served.asScala.toMap
        }
        assert(got == want)
        val scanned = plan.collect { case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numOutputRows").value }
        val converted = plan.collect { case c: org.apache.spark.sql.execution.ColumnarToRowExec =>
          c.metrics("numOutputRows").value }
        assert(scanned == Seq(rows.size.toLong), plan.toString)
        // the columnar plan still ends in a row conversion; the fold
        // reads the scan below it, so the conversion sees no row
        assert(converted == (if (vectorized) Seq(0L) else Nil), plan.toString)
      }
    }
  }

  test("an overflowing address sum on a columnar parquet scan fails the refresh and keeps the snapshot") {
    // one file: the overflow is inside one task; two files: each task's
    // partial holds one object, and the overflow is in their merge
    val bad: Seq[(String, java.lang.Long)] = Seq(("u/a", Long.MaxValue), ("u/b", 1L))
    var dir = parquetOf(Seq(("u/a", 1L)), 1)
    val h = new DiskUsageHandler(() => readInventory(dir), refreshEvery = 10.minutes)
    try {
      Seq(1, 2).foreach { files =>
        dir = parquetOf(bad, files)
        intercept[Exception](h.refreshOnce())
        assert(h.getDiskUsage("u").contains(DiskUsage("u", 1L, 1L)), s"$files files")
        assert(h.lastFailure.exists(_.message.contains("overflow")), h.lastFailure.toString)
      }
      assert(h.refreshCount == 1)
    } finally h.close()
  }

  /** A bucket whose manifest for `now` lists the data files `deliver`
    * names; its handlers' clock reads `today`, which starts at `now`.
    */
  private final class Delivery {
    import java.nio.file.Paths
    val now: java.time.Instant = java.time.Instant.parse("2026-08-12T09:00:00Z")
    @volatile var today: java.time.Instant = now
    val bucket: String = Files.createTempDirectory("delivery").toString
    private val key = graft.sources.Manifest.manifestKey("inv/p", now)
    def write(name: String, rows: org.apache.spark.sql.DataFrame): Unit =
      rows.coalesce(1).write.mode("overwrite").parquet(s"$bucket/data/$name")
    /** Lists `data/<name>` with size 1 and the name as its MD5. */
    def deliver(files: String*): Unit = deliverEntries(files.map(f => (f, 1L, f)): _*)
    /** Lists `data/<name>` with the given size and MD5. */
    def deliverEntries(files: (String, Long, String)*): Unit = {
      Files.createDirectories(Paths.get(s"$bucket/$key").getParent)
      Files.writeString(Paths.get(s"$bucket/$key"),
        files.map { case (f, size, md5) => s"""{"key":"data/$f","size":$size,"MD5checksum":"$md5"}""" }
          .mkString("""{"sourceBucket":"b","files":[""", ",", "]}"))
    }
    private val fetch = (k: String) => {
      val p = Paths.get(s"$bucket/$k")
      if (Files.exists(p)) Some(Files.readString(p)) else None
    }
    def handler(every: FiniteDuration = 10.minutes): DiskUsageHandler = InventoryPipeline.servingHandler(
      spark, s"file:$bucket", "inv/p", () => today, fetch, refreshEvery = every)
  }

  test("manifest-driven refresh whose later file has no size column fails and keeps the snapshot") {
    import spark.implicits._
    val d = new Delivery
    d.write("a-good", Seq(("alice/a", 10L)).toDF("key", "size"))
    d.write("b-nosize", Seq(("alice/b", "x")).toDF("key", "other"))
    d.deliver("a-good")
    val h = d.handler()
    try {
      assert(h.getDiskUsage("alice").contains(DiskUsage("alice", 10L, 1L)))
      // the good file is first in the manifest and in path order
      d.deliver("a-good", "b-nosize")
      val e = intercept[Exception](h.refreshOnce())
      assert(e.getMessage.contains("b-nosize") && e.getMessage.contains("size"), e.getMessage)
      assert(h.getDiskUsage("alice").contains(DiskUsage("alice", 10L, 1L)))
    } finally h.close()
  }

  test("a serving handler reads each listed file's footer once") {
    import spark.implicits._
    val d = new Delivery
    Seq("f1", "f2", "f3").foreach(f => d.write(f, Seq((s"$f/a", 1L)).toDF("key", "size")))
    d.deliver("f1", "f2")
    def reads = InventoryPipeline.footerReads.get
    val before = reads
    val h = d.handler()
    try {
      assert(reads - before == 2)
      h.refreshOnce()
      assert(reads - before == 2, "an unchanged file list was checked again")
      d.deliver("f1", "f2", "f3")
      h.refreshOnce()
      assert(reads - before == 3)
      assert(h.getDiskUsage("f3").contains(DiskUsage("f3", 1L, 1L)))
    } finally h.close()
    // the memo belongs to one handler
    d.handler().close()
    assert(reads - before == 6)
  }

  test("a refresh whose manifest lists the files already served keeps the snapshot and runs no job") {
    import spark.implicits._
    val d = new Delivery
    d.write("f1", Seq(("alice/a", 10L)).toDF("key", "size"))
    d.write("f2", Seq(("alice/b", 5L), ("bob/c", 7L)).toDF("key", "size"))
    d.deliver("f1", "f2")
    val h = d.handler()
    try {
      val served = h.getDiskUsage("alice").get
      assert(served == DiskUsage("alice", 15L, 2L))
      // the same list fetched again; then the next day, which has no
      // manifest, so the fallback resolves yesterday's list once more
      Seq(d.now, d.now.plus(1, java.time.temporal.ChronoUnit.DAYS)).foreach { day =>
        d.today = day
        val reads = InventoryPipeline.footerReads.get
        val count = h.refreshCount
        assert(jobsAndStages(h.refreshOnce()) == ((0, 0)), s"on $day")
        assert(InventoryPipeline.footerReads.get == reads, s"on $day")
        assert(h.getDiskUsage("alice").get eq served, s"on $day")
        assert(h.refreshCount == count + 1, s"on $day")
      }
      // a skip reads nothing from storage: not even a listed file's path
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(s"${d.bucket}/data/f2"))
      h.refreshOnce()
      assert(h.getDiskUsage("alice").get eq served)
    } finally h.close()
  }

  test("a refresh folds when a listed file's key or size changes under the same MD5") {
    import spark.implicits._
    val d = new Delivery
    val md5 = "0" * 32
    d.write("a", Seq(("alice/a", 10L)).toDF("key", "size"))
    d.write("b", Seq(("bob/b", 10L)).toDF("key", "size"))
    d.deliverEntries(("a", 100L, md5))
    val h = d.handler()
    try {
      assert(h.getDiskUsage("alice").contains(DiskUsage("alice", 10L, 1L)))
      // another key with the same size and MD5, as file i of two
      // deliveries can have
      d.deliverEntries(("b", 100L, md5))
      assert(jobsAndStages(h.refreshOnce())._1 == 1)
      assert(h.getDiskUsage("alice").isEmpty)
      assert(h.getDiskUsage("bob").contains(DiskUsage("bob", 10L, 1L)))
      // the same key rewritten with a new size
      d.write("b", Seq(("bob/b", 10L), ("bob/c", 20L)).toDF("key", "size"))
      d.deliverEntries(("b", 200L, md5))
      assert(jobsAndStages(h.refreshOnce())._1 == 1)
      assert(h.getDiskUsage("bob").contains(DiskUsage("bob", 30L, 2L)))
    } finally h.close()
  }

  test("a handler built from a DataFrame loader folds on every refresh") {
    val h = new DiskUsageHandler(() => inventoryIn(Seq(("u/a", 1L)), 1), refreshEvery = 10.minutes)
    try {
      val first = h.getDiskUsage("u").get
      assert(jobsAndStages(h.refreshOnce())._1 == 1)
      assert(h.getDiskUsage("u").contains(first) && !(h.getDiskUsage("u").get eq first))
      assert(h.refreshCount == 2)
    } finally h.close()
  }

  test("a refresh over a missing or non-parquet file fails, and the same list folds once it is back") {
    import spark.implicits._
    val d = new Delivery
    def restore(): Unit = d.write("f2", Seq(("bob/b", 2L)).toDF("key", "size"))
    Seq("f1", "f3").foreach(f => d.write(f, Seq(("alice/" + f, 1L)).toDF("key", "size")))
    restore()
    val f2 = new java.io.File(s"${d.bucket}/data/f2")
    val breaks = Seq[(String, () => Unit)](
      "missing" -> (() => org.apache.hadoop.fs.FileUtil.fullyDelete(f2): Unit),
      "not parquet" -> (() => {
        org.apache.hadoop.fs.FileUtil.fullyDelete(f2)
        Files.write(f2.toPath, "not a parquet file".getBytes): Unit
      }))
    d.deliver("f1", "f3")
    val h = d.handler()
    try breaks.foreach { case (what, break) =>
      val served = h.getDiskUsage("alice").get
      assert(served == DiskUsage("alice", 2L, 2L), what)
      break()
      d.deliver("f1", "f2", "f3")
      val before = java.time.Instant.now()
      val e = intercept[Exception](h.refreshOnce())
      assert(e.toString.contains("data/f2"), s"$what: $e")
      assert(h.getDiskUsage("alice").get eq served, what)
      assert(h.getDiskUsage("bob").isEmpty, what)
      assert(h.lastFailure.exists(f => !f.at.isBefore(before) && f.message.contains("data/f2")),
        s"$what: ${h.lastFailure}")
      // the same list, now readable: the failed refresh did not mark it served
      restore()
      h.refreshOnce()
      assert(h.getDiskUsage("alice").contains(served), what)
      assert(h.getDiskUsage("bob").contains(DiskUsage("bob", 2L, 1L)), what)
      d.deliver("f1", "f3")
      h.refreshOnce()
    } finally h.close()
  }

  test("a scheduled refresh on a day with no manifest for it or the day before fails and keeps the snapshot") {
    import spark.implicits._
    val d = new Delivery
    d.write("f1", Seq(("alice/a", 10L)).toDF("key", "size"))
    d.deliver("f1")
    val h = d.handler(100.millis)
    try {
      val served = h.getDiskUsage("alice").get
      d.today = d.now.plus(2, java.time.temporal.ChronoUnit.DAYS)
      val deadline = System.currentTimeMillis() + 10000
      while (h.lastFailure.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(h.lastFailure.exists(_.message.contains("no manifest found")), h.lastFailure.toString)
      assert(h.getDiskUsage("alice").get eq served)
    } finally h.close()
  }

  test("lastSuccess is set by a fold and by an unchanged list, never by a failure") {
    import spark.implicits._
    val d = new Delivery
    Seq("f1", "f2").foreach(f => d.write(f, Seq((s"$f/a", 1L)).toDF("key", "size")))
    d.deliver("f1")
    val start = java.time.Instant.now()
    val h = d.handler()
    try {
      def after(mark: java.time.Instant) = h.lastSuccess.exists(!_.isBefore(mark))
      // instants taken between refreshes, so each check sees a later one
      def mark(): java.time.Instant = { Thread.sleep(2); java.time.Instant.now() }
      assert(after(start), h.lastSuccess.toString)
      val unchanged = mark()
      h.refreshOnce()
      assert(after(unchanged), "an unchanged list did not count as a success")
      val kept = h.lastSuccess
      d.deliver("f1", "missing")
      intercept[Exception](h.refreshOnce())
      assert(h.lastFailure.nonEmpty && h.lastSuccess == kept)
      val folded = mark()
      d.deliver("f1", "f2")
      h.refreshOnce()
      assert(after(folded) && h.getDiskUsage("f2").nonEmpty)
    } finally h.close()
  }

  test("a refresh slower than its period is followed by a full period before the next one") {
    // a slow refresh ends by failing, so its load knows when it ended
    val period = 200L
    val runs = new java.util.concurrent.LinkedBlockingQueue[(Long, Long)]()
    @volatile var slow = false
    val h = new DiskUsageHandler(() =>
      if (!slow) inventoryIn(Seq(("u/a", 1L)), 1)
      else {
        val start = System.nanoTime()
        Thread.sleep(3 * period / 2)
        runs.add((start, System.nanoTime()))
        sys.error("slow refresh")
      }, refreshEvery = period.millis)
    try {
      slow = true
      val spans = (1 to 4).map(_ => runs.poll(10, java.util.concurrent.TimeUnit.SECONDS))
      assert(!spans.contains(null), "the scheduler stopped running refreshes")
      spans.zip(spans.tail).foreach { case ((_, end), (start, _)) =>
        assert(start - end >= (period - 1) * 1000000L, s"${(start - end) / 1e6} ms between refreshes")
      }
      assert(h.getDiskUsage("u").contains(DiskUsage("u", 1L, 1L)))
    } finally h.close()
  }

  test("streaming refresh: complete-mode memory snapshot equals batch result") {
    import spark.implicits._
    val dir = Files.createTempDirectory("stream-inv").toString
    Seq(("u/a", 1L), ("v/b", 2L)).toDF("key", "size").write.parquet(s"$dir/d1")
    // file source requires the files under one dir; move parquet parts flat
    val q = DiskUsageStream.start(spark, s"$dir/d1", "key STRING, size BIGINT",
      queryName = "du_test")
    try {
      q.processAllAvailable()
      val snap1 = spark.table("du_test").orderBy("address").collect()
      assert(snap1.map(r => (r.getString(0), r.getLong(1))).toSeq ==
        Seq(("u", 1L), ("v", 2L)))
      // a new file arriving is folded into the next snapshot (accumulating)
      Seq(("u/c", 10L)).toDF("key", "size")
        .write.mode("append").parquet(s"$dir/d1")
      q.processAllAvailable()
      val snap2 = spark.table("du_test").orderBy("address").collect()
      assert(snap2.map(r => (r.getString(0), r.getLong(1))).toSeq ==
        Seq(("u", 11L), ("v", 2L)))
    } finally q.stop()
  }

  test("event-time windows: append mode emits finalized windows, drops late data") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    import java.sql.Timestamp
    def ts(m: Int) = Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
    val in = MemoryStream[(Timestamp, String)](spark)
    val agg = graft.streaming.EventTimeWindows.windowedCounts(
      in.toDF().toDF("ts", "etype"), "ts", "etype", "5 minutes", "10 minutes")
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("win_out").start()
    try {
      in.addData((ts(0), "a"), (ts(2), "a"), (ts(3), "b"))
      q.processAllAvailable()
      assert(spark.table("win_out").count() == 0) // watermark hasn't passed window end
      in.addData((ts(30), "a")) // advances watermark to 10:20
      q.processAllAvailable()
      val emitted = spark.table("win_out")
        .select(date_format(col("win_start"), "HH:mm").as("w"), col("etype"), col("n"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      assert(emitted == Set(("10:00", "a", 2L), ("10:00", "b", 1L)))
      in.addData((ts(1), "a")) // later than watermark → dropped
      in.addData((ts(59), "a")) // flush remaining windows
      q.processAllAvailable()
      val all = spark.table("win_out")
        .select(date_format(col("win_start"), "HH:mm").as("w"), col("etype"), col("n"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      assert(all == Set(("10:00", "a", 2L), ("10:00", "b", 1L), ("10:30", "a", 1L)),
        s"late row must not change finalized windows: $all")
    } finally q.stop()
  }

  test("streaming file sink: watermarked windows append to parquet with checkpointing") {
    import java.nio.file.Files
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    import java.sql.Timestamp
    def ts(m: Int) = Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
    val in = MemoryStream[(Timestamp, String)](spark)
    val out = Files.createTempDirectory("sink").toString
    val q = graft.streaming.EventTimeWindows.windowedCounts(
        in.toDF().toDF("ts", "etype"), "ts", "etype", "5 minutes", "10 minutes")
      .writeStream.outputMode("append")
      .format("parquet")
      .option("path", s"$out/data")
      .option("checkpointLocation", s"$out/chk")
      .start()
    try {
      in.addData((ts(0), "a"), (ts(1), "a"), (ts(30), "b")) // 10:30 finalizes 10:00
      q.processAllAvailable()
      in.addData((ts(59), "b")) // finalize the 10:30 window too
      q.processAllAvailable()
      val files = spark.read.parquet(s"$out/data")
        .select(date_format(col("win_start"), "HH:mm").as("w"), col("etype"), col("n"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      assert(files == Set(("10:00", "a", 2L), ("10:30", "b", 1L)), s"got $files")
    } finally q.stop()
  }

  test("arbitrary stateful streaming: mapGroupsWithState running count per key") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    import spark.implicits._
    val in = MemoryStream[(String, Int)](spark)
    val counts = in.toDS()
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, Int)], state: GroupState[Long]) =>
          val c = state.getOption.getOrElse(0L) + rows.size
          state.update(c)
          (key, c)
      }
    val q = counts.toDF("key", "cnt").writeStream
      .outputMode("update").format("memory").queryName("state_out").start()
    try {
      in.addData(("a", 1), ("a", 2), ("b", 1))
      q.processAllAvailable()
      in.addData(("a", 3)) // state must survive across micro-batches
      q.processAllAvailable()
      val last = spark.table("state_out")
        .groupBy(col("key")).agg(max(col("cnt")).as("cnt"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(last == Map("a" -> 3L, "b" -> 1L))
    } finally q.stop()
    // flatMapGroupsWithState: emit only on threshold crossings (0..n rows out)
    import org.apache.spark.sql.streaming.OutputMode
    val in2 = MemoryStream[(String, Int)](spark)
    val alerts = in2.toDS()
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, Int)], state: GroupState[Long]) =>
          val total = state.getOption.getOrElse(0L) + rows.map(_._2).sum
          state.update(total)
          if (total >= 10) Iterator((key, total)) else Iterator.empty
      }
    val q2 = alerts.toDF("key", "total").writeStream
      .outputMode("append").format("memory").queryName("alerts_out").start()
    try {
      in2.addData(("x", 4), ("y", 3))
      q2.processAllAvailable()
      assert(spark.table("alerts_out").count() == 0) // below threshold: no rows
      in2.addData(("x", 7))
      q2.processAllAvailable()
      val alerted = spark.table("alerts_out").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      assert(alerted == Set(("x", 11L)))
    } finally q2.stop()
  }

  test("csv/json/orc sources round-trip an events projection") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("formats").toString
    val src = events.select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .orderBy(col("event_id")).limit(100)
    val expected = src.collect().map(_.toSeq).toSeq
    Seq("csv", "json", "orc").foreach { fmt =>
      src.write.format(fmt).option("header", "true").mode("overwrite").save(s"$dir/$fmt")
      val back = spark.read.format(fmt).option("header", "true").schema(src.schema)
        .load(s"$dir/$fmt")
        .orderBy(col("event_id")).collect().map(_.toSeq).toSeq
      assert(back == expected, s"round-trip mismatch for $fmt")
    }
  }

  // ------------------------------------------------------------- operators

  test("LSH minhash pairs == exact ngram pairs on fixture docs") {
    val exact = Dedup.ngramJaccardPairs(docs, tau = 0.6)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(docs, tau = 0.6)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact)
  }

  test("bandedSignatures: band b hashes exactly signature positions [b·rows+1, (b+1)·rows]") {
    // STRUCTURAL pin (r17 mutation finding): the output-level LSH≡exact
    // pin above is blind to banding mutations — the exact-Jaccard verify
    // stage filters any EXTRA candidates a broken banding admits, and
    // the fixture's near-dup pairs are high-J, so they collide in band 0
    // alone and survive even an all-bands-identical mutant. Two such
    // mutants (slice start b·rows+2; slice start pinned to 1) passed the
    // output pin. This test recomputes every band hash INDEPENDENTLY —
    // raw signatures collected, sliced in Scala, hashed over literal
    // arrays — so any drift in the slicing arithmetic fails a direct
    // value comparison, not a recall probability.
    import spark.implicits._
    val two = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "a completely different sentence with other words entirely")
    ).toDF("doc_id", "text")
    val bands = 4; val rows = 3
    val (banded, _) =
      Dedup.bandedSignatures(two, "doc_id", "text", n = 3, bands = bands, rows = rows)
    val got = banded.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    val sigs = graft.operators.TextAnalysis.shingles(two, "doc_id", "text", 3)
      .withColumn("h", xxhash64(col("shingle")))
      .groupBy(col("doc_id"))
      .agg(graft.functions.MinHashSketch(col("h"), bands * rows).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val expected = sigs.toSeq.flatMap { case (id, s) =>
      assert(s.length == bands * rows, s"signature length: ${s.length}")
      (0 until bands).map(b => (id, b, s.slice(b * rows, b * rows + rows)))
    }.toDF("doc_id", "band", "sl")
      .select(col("doc_id"), col("band"), hash(col("sl")).as("sig"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(got == expected,
      s"band slicing drifted from [b*rows+1, +rows]: got ${got.size} rows")
    Dedup.uncacheAll()
  }

  // STRUCTURAL pins for the rest of the probabilistic-recall candidate
  // stages (r17 verdict task 1): each recomputes the stage's banding /
  // blocking / ranking arithmetic INDEPENDENTLY in Scala over literal
  // inputs and compares exact values — because output-level recall pins
  // are provably blind to banding mutants on friendly fixtures (the r17
  // mutation exercise: exact-verify filters extra candidates, and high-J
  // fixture pairs survive even a collapsed banding).

  test("simhashBlockKeys: block pair (j1,j2) keys recomputed independently") {
    import spark.implicits._
    val fixtures = Seq((1L, 0x0123456789ABCDEFL), (2L, -1L), (3L, 0L),
      (4L, 0x8000000000000001L))
    val got = Dedup.simhashBlockKeys(fixtures.toDF("id", "simhash"))
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getLong(3))).toSet
    val pairIdx = (for { j1 <- 0 until 8; j2 <- (j1 + 1) until 8 }
      yield (j1, j2)).zipWithIndex
    val expected = (for {
      (id, s) <- fixtures
      ((j1, j2), blk) <- pairIdx
    } yield (id, blk,
      ((s >>> (8 * j1)) & 255L) * 256L + ((s >>> (8 * j2)) & 255L))).toSet
    assert(pairIdx.size == 28 && got.size == fixtures.size * 28)
    assert(got == expected, "pigeonhole block keys drifted from byte(j1)*256+byte(j2)")
  }

  test("withBandBuckets: plane i sets bit i%perBand of band i/perBand, recomputed independently") {
    import spark.implicits._
    val planeRows = Seq(
      (0L, Seq(1.0, 0.0, 0.0)), (1L, Seq(0.0, 1.0, 0.0)),
      (2L, Seq(0.0, 0.0, 1.0)), (3L, Seq(-1.0, -1.0, 1.0)))
    val vecRows = Seq(
      (10L, Seq(0.5, -0.2, 0.7)), (11L, Seq(-0.3, 0.9, -0.1)),
      (12L, Seq(0.0, 0.0, 0.0)), (13L, Seq(1.0, 1.0, 1.0)))
    val bands = 2
    val got = Similarity.withBandBuckets(
        Similarity.prepared(vecRows.toDF("vec_id", "embedding"), "vec_id", "embedding"),
        planeRows.toDF("plane_id", "pv"), bands)
      .select(col("id"), col("band"), col("bucket")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val pl = planeRows.sortBy(_._1).map(_._2)
    val perBand = pl.size / bands
    val expected = vecRows.flatMap { case (id, v) =>
      val acc = Array.fill(bands)(0L)
      pl.zipWithIndex.foreach { case (p, i) =>
        val d = p.lazyZip(v).map(_ * _).sum
        if (d > 0) acc(i / perBand) |= 1L << (i % perBand)
      }
      (0 until bands).map(b => (id, b, acc(b)))
    }.toSet
    assert(got == expected,
      "band-bucket arithmetic drifted from mask 1<<(i%perBand), band i/perBand")
  }

  test("codeBandSlices: band j slices recomputed independently at every legal bands") {
    import spark.implicits._
    val codes = Seq(
      (1L, 0xF0F0A5A5L, 0x12345678L), (2L, 0xFFFFFFFFL, 0L),
      (3L, 0L, 0xFFFFFFFFL), (4L, 0x80000001L, 0x7FFFFFFFL))
    val df = codes.toDF("id", "code_lo", "code_hi")
    for (bands <- Seq(2, 4, 8, 16, 32)) {
      val got = Similarity.codeBandSlices(df, "id", "code_lo", "code_hi", bands)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      val w = 64 / bands; val mask = (1L << w) - 1; val half = bands / 2
      val expected = (for {
        (id, lo, hi) <- codes
        j <- 0 until bands
      } yield (id, j,
        if (j < half) (lo >> (j * w)) & mask
        else (hi >> ((j - half) * w)) & mask)).toSet
      assert(got == expected, s"code band slicing drifted at bands=$bands")
    }
  }

  test("NearestCentroidCells: probe ranking recomputed independently (tie → lower cid; nulls last)") {
    import spark.implicits._
    import graft.functions.{CentroidMatrix, NearestCentroidCells}
    // cid 10 and cid 20 are PARALLEL (exact rounded-cosine tie for any
    // query): the earlier-index-wins selection must emit 10 before 20 —
    // a flipped tie order or a >= in the comparator fails here
    val cids = Array(10L, 20L, 30L, 40L)
    val cvs = Array(Array(2.0, 0.0), Array(1.0, 0.0),
      Array(0.0, 1.0), Array(-1.0, 0.0))
    val cnrms = cvs.map(v => math.sqrt(v.map(x => x * x).sum))
    val bc = spark.sparkContext.broadcast(CentroidMatrix(cids, cvs, cnrms, nprobe = 3))
    def round4(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
    def topCells(v: Seq[Double]): List[Long] = {
      val nrm = math.sqrt(v.map(x => x * x).sum)
      cids.indices.map { c =>
        (cids(c), round4(v.lazyZip(cvs(c)).map(_ * _).sum / (nrm * cnrms(c))))
      }.sortBy { case (cid, s) => (-s, cid) }.take(3).map(_._1).toList
    }
    val vecRows = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)), (3L, Seq(0.6, 0.8)),
      (4L, Seq(-0.8, 0.6)))
    val df = vecRows.toDF("id", "v")
      .withColumn("nrm", expr("sqrt(aggregate(v, 0d, (a, x) -> a + x * x))"))
    val got = df.select(col("id"), NearestCentroidCells(col("v"), col("nrm"), bc).as("cells"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    vecRows.foreach { case (id, v) =>
      assert(got(id) == topCells(v), s"probe ranking drifted for vector $id")
    }
    assert(got(1L) == List(10L, 20L, 30L), "exact-tie case must break to the lower cid")
    // a null element nulls every score: the kernel must still emit the
    // first nprobe cids in id order (the row_number-over-all-null contract)
    val nullGot = spark.sql("SELECT 9L AS id, array(1.0d, cast(null AS double)) AS v, 1.0d AS nrm")
      .select(NearestCentroidCells(col("v"), col("nrm"), bc))
      .collect().head.getSeq[Long](0).toList
    assert(nullGot == List(10L, 20L, 30L), "all-null scores must emit cids in id order")
  }

  test("anisotropy: cone census counts every vector; balanced corpus has zero mean") {
    import spark.implicits._
    // a deliberate cone: all three vectors within ~8° of their mean
    val cone = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.9f, 0.1f)), (3L, Seq(0.8f, 0.2f)))
      .toDF("vec_id", "embedding")
    val a = Similarity.anisotropy(cone).collect().head
    assert(a.getLong(0) == 3L, "n_vecs")
    assert(a.getLong(1) > 0L, "cone mean must be non-zero")
    assert(a.getAs[Long]("n_cos_ge_90") == 3L, s"cone census: $a")
    assert(a.getAs[Long]("n_cos_lt_0") == 0L)
    // perfectly balanced corpus: per-dim sums are exactly 0 → μ = 0,
    // cosine-to-mean undefined (null) → every census bucket empty
    val balanced = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(-1.0f, 0.0f)),
      (3L, Seq(0.0f, 1.0f)), (4L, Seq(0.0f, -1.0f))).toDF("vec_id", "embedding")
    val b = Similarity.anisotropy(balanced).collect().head
    assert(b.getLong(0) == 4L && b.getLong(1) == 0L, s"balanced mean: $b")
    assert(Seq("n_cos_lt_0", "n_cos_ge_25", "n_cos_ge_50", "n_cos_ge_75", "n_cos_ge_90")
      .forall(c => b.getAs[Long](c) == 0L), s"null cosines must count nowhere: $b")
  }

  test("blockSkew: identical docs pin every block key's pressure; order and arithmetic exact") {
    import spark.implicits._
    // three byte-identical docs fingerprint identically → all 28 of their
    // block keys hold exactly those 3 members (the outlier doc shares a
    // key only by fingerprint-byte coincidence, which would only ADD
    // members — n_members >= 3 still holds); pressure = 3·2/2 = 3
    val fixture = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "the quick brown fox jumps over the lazy dog again and again"),
      (4L, "a completely different sentence with other words entirely")
    ).toDF("doc_id", "text")
    val got = Dedup.blockSkew(fixture, topN = 20).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.length == 20)
    assert(got.forall { case (_, _, n, p) => n >= 3 && p == n * (n - 1) / 2 },
      s"every top key must hold the 3 identical docs: ${got.take(3).mkString(",")}")
    assert(got.map(_._3).toSeq == got.map(_._3).sortBy(-_).toSeq,
      "rows must be in descending member-count order")
    assert(got.map(t => (t._1, t._2)).distinct.length == 20, "keys must be unique")
    Dedup.uncacheAll()
  }

  test("minhashCalibration: identical pair calibrates exactly; ppm arithmetic fenced") {
    import spark.implicits._
    val fixture = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"), // J(1,2) = 1 exactly
      (3L, "alpha beta gamma other words here")    // J(1,3) = 1/7
    ).toDF("doc_id", "text")
    val got = Dedup.minhashCalibration(fixture).orderBy("j_e1").collect()
    // J = 1 pair: every permutation min matches by construction — the
    // estimator must be EXACT there (est = exact = 1e6 ppm, zero error)
    val top = got.last
    assert(top.getLong(0) == 10L, "identical pair lands in the j_e1=10 bucket")
    assert(top.getLong(1) == 1L)
    assert(top.getLong(2) == 1000000L && top.getLong(3) == 1000000L)
    assert(top.getLong(4) == 0L && top.getLong(5) == 0L)
    // the partial-overlap pairs (1,3)/(2,3): common=1 of union=7 — integer
    // deciles and ppm are exact rationals, never float-bucketed
    val low = got.head
    assert(low.getLong(0) == 1L, "1/7 lands in the j_e1=1 bucket")
    assert(low.getLong(1) == 2L)
    assert(low.getLong(2) == 2L * (1000000L / 7L))
    // est is a multiple of 1e6/perms, bounded to [0, 1e6] per pair; the
    // two (identical-text) estimates agree, so the sum is one value × 2
    assert(low.getLong(3) % 62500L == 0L && low.getLong(3) <= 2000000L)
    Dedup.uncacheAll()
  }

  test("simhashRecallEval equals set arithmetic over its two verified operators") {
    val truth = Dedup.ngramJaccardPairs(docs, tau = 0.6)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val emitted = Dedup.simhashPairs(docs, tau = 0.6, maxHamming = 6)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(emitted.subsetOf(truth), "verified simhash pairs must be a truth subset")
    assert(truth.nonEmpty, "fixture must exercise the audit with real pairs")
    val row = Dedup.simhashRecallEval(docs, tau = 0.6, maxHamming = 6).collect().head
    assert(row.getAs[Long]("n_truth") == truth.size.toLong)
    assert(row.getAs[Long]("n_emitted") == emitted.size.toLong)
    assert(row.getAs[Long]("n_missed") == (truth.size - emitted.size).toLong)
    assert(row.getAs[Long]("recall_ppm") ==
      emitted.size.toLong * 1000000L / truth.size)
    Dedup.uncacheAll()
  }

  test("df-pruning drops viral shingles from the Jaccard universe") {
    import spark.implicits._
    // viral1..3 appear in every doc (df = 3); with cap 2 they are pruned,
    // so d1-d3 / d2-d3 lose their only common shingle while d1-d2 stays J=1
    val planted = Seq(
      (1L, "w1 w2 w3 viral1 viral2 viral3"),
      (2L, "w1 w2 w3 viral1 viral2 viral3"),
      (3L, "z1 z2 z3 viral1 viral2 viral3")).toDF("doc_id", "text")
    def pairs(maxDf: Option[Long]) =
      Dedup.ngramJaccardPairs(planted, tau = 0.1, maxDf = maxDf)
        .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(None) == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(pairs(Some(2L)) == Set((1L, 2L)))
    // a cap nothing exceeds must be a no-op
    assert(pairs(Some(100L)) == pairs(None))
    Dedup.uncacheAll()
  }

  test("cross-corpus jaccard: planted paraphrase flags; within-corpus pairs never emit") {
    import spark.implicits._
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),
      (3L, "one two three four five six seven eight")).toDF("doc_id", "text")
    val eval_ = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"),
      (11L, "nine ten eleven twelve thirteen fourteen fifteen sixteen")).toDF("doc_id", "text")
    val out = Dedup.crossJaccardPairs(train, eval_, tau = 0.5)
      .orderBy(col("train_id"), col("eval_id")).collect()
    // 8 tokens → 6 shingles per doc. train1 ≡ eval10 → J = 1; train2 differs
    // in the last token only → 5 shared of 7 union → J = 5/7 ≥ tau; the
    // highly similar WITHIN-train pair (1,2) must not emit — this operator
    // only crosses the corpus boundary
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 10L), (2L, 10L)))
    assert(out(0).getDouble(2) == 1.0)
    assert(math.abs(out(1).getDouble(2) - 5.0 / 7.0) < 1e-12)
    // below-tau cross pairs stay out
    assert(Dedup.crossJaccardPairs(train, eval_, tau = 0.5)
      .filter(col("eval_id") === 11L).isEmpty)
  }

  test("bloom-prefiltered decontamination equals the exact two-sided join") {
    val train = docs.filter(col("doc_id") % 10 =!= 0)
    val eval = docs.filter(col("doc_id") % 10 === 0)
    def pairSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val exact = pairSet(Dedup.contaminationPairs(train, eval, minShared = 2L))
    val bloomed = pairSet(Dedup.contaminationPairsBloom(train, eval, minShared = 2L))
    // Bloom false positives add join INPUT, never output: the exact
    // inverted-index verify after the pre-filter makes the sets identical
    assert(bloomed == exact, s"missing=${exact -- bloomed} phantom=${bloomed -- exact}")
    assert(exact.nonEmpty, "fixture must produce contamination pairs")
    Dedup.uncacheAll()
  }

  test("withBuckets is a narrow projection: no Exchange, no vector duplication") {
    val p = Similarity.prepared(emb, "vec_id", "embedding")
    val planes = Similarity.prepared(emb.filter(col("vec_id") < 4), "vec_id", "embedding")
      .select(col("id").as("plane_id"), col("v").as("pv"))
    val plan = Similarity.withBuckets(p, planes).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"bucket computation must not shuffle:\n$plan")
    assert(!plan.contains("Join"), s"bucket computation must not join:\n$plan")
  }

  test("broadcast plane matrix: production-size buckets stay codegen'd and " +
      "equal the inline-literal formulation") {
    import spark.implicits._
    // 32 planes × 256 dims — the parameter regime where inlining every
    // component as a plan literal used to blow generated methods past the
    // 64 KB JVM limit; deterministic pseudo-random values via sin
    val dims = 256
    val nPlanes = 32
    val planes = Seq.tabulate(nPlanes)(i =>
      (i, Seq.tabulate(dims)(j => math.sin(i * 257 + j) - 0.1))).toDF("plane_id", "pv")
    val vecs = Seq.tabulate(100)(i =>
      (i.toLong, Seq.tabulate(dims)(j => math.cos(i * 263 + j)))).toDF("id", "vraw")
      .select(col("id"), col("vraw").as("v"), lit(1.0).as("nrm"))
    // with codegen fallback DISABLED a non-codegen expression in the
    // projection would throw instead of silently interpreting
    val prevFallback = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val got = Similarity.withBuckets(vecs, planes)
        .select("id", "bucket").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // reference: the old per-plane when(dot > 0, 1L << pid) literal chain
      val ps = Similarity.collectPlanes(planes)
      val ref = ps.map { case (pid, pv) =>
        when(Similarity.dot(col("v"), typedLit(pv)) > 0, lit(1L << pid)).otherwise(lit(0L))
      }.reduce(_ + _)
      val want = vecs.select(col("id"), ref.as("bucket"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want)
      assert(got.values.toSet.size > 1, "discriminating fixture: multiple buckets")
      // banded form consistency: OR of every band's in-band bits must
      // reconstruct membership decisions from the same matrix
      val banded = Similarity.withBandBuckets(vecs, planes, bands = 4)
        .select("id", "band", "bucket").collect()
        .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
      val perBand = nPlanes / 4
      val sorted = ps.sortBy(_._1)
      for (((id, band), bucket) <- banded) {
        val wantBand = sorted.slice(band * perBand, (band + 1) * perBand).zipWithIndex
          .map { case ((pid, _), k) => if ((want(id) & (1L << pid)) != 0) 1L << k else 0L }
          .reduce(_ | _)
        assert(bucket == wantBand, s"id=$id band=$band")
      }
    } finally spark.conf.set("spark.sql.codegen.fallback", prevFallback)
  }

  test("plane buckets accept array<float> planes and reject invalid plane ids") {
    import spark.implicits._
    val vecs = Seq((1L, Seq(1.0, -2.0))).toDF("id", "v").withColumn("nrm", lit(1.0))
    val fplanes = Seq((0, Seq(1.0f, 0.25f)), (1, Seq(-1.0f, 0.25f))).toDF("plane_id", "pv")
    // float planes: cast to double inside collectPlanes, not a ClassCastException
    val b = Similarity.withBuckets(vecs, fplanes).select("bucket").collect()(0).getLong(0)
    // plane 0: 1 - 2·0.25 = 0.5 > 0 → bit 0 set; plane 1: -1 - 0.5 < 0 → off
    assert(b == 1L)
    intercept[IllegalArgumentException] {
      Similarity.withBuckets(vecs, Seq((-1, Seq(1.0, 1.0))).toDF("plane_id", "pv"))
    }
    intercept[IllegalArgumentException] {
      Similarity.withBuckets(vecs,
        Seq((2, Seq(1.0, 1.0)), (2, Seq(1.0, -1.0))).toDF("plane_id", "pv"))
    }
    intercept[IllegalArgumentException] {
      Similarity.withBuckets(vecs, Seq((63, Seq(1.0, 1.0))).toDF("plane_id", "pv"))
    }
  }

  test("recallAt: hit accounting exact, extra approx rows ignored, absent query = 0") {
    import spark.implicits._
    val approx = Seq(
      (1L, 10L), (1L, 11L), (1L, 99L),         // 2 of q1's exact set + 1 miss
      (2L, 20L), (2L, 21L), (2L, 22L),         // all of q2's
      (9L, 1L)                                  // query not in exact → no output row
    ).toDF("query_id", "neighbor_id")
    val exact = Seq(
      (1L, 10L), (1L, 11L), (1L, 12L),
      (2L, 20L), (2L, 21L), (2L, 22L),
      (3L, 30L), (3L, 31L)                      // q3 absent from approx → recall 0
    ).toDF("query_id", "neighbor_id")
    val got = Similarity.recallAt(approx, exact).orderBy(col("query_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq(
      (1L, 3L, 2L, 2.0 / 3.0), (2L, 3L, 3L, 1.0), (3L, 2L, 0L, 0.0)))
  }

  test("banded LSH top-k recall >= 0.9 vs brute force on the fixture") {
    val q = emb.filter(col("vec_id") < 10)
    val planes = Similarity.prepared(emb.filter(col("vec_id") < 4), "vec_id", "embedding")
      .select(col("id").as("plane_id"), col("v").as("pv"))
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bf = pairSet(Similarity.bruteForceTopK(emb, q, k = 3))
    // bands IS the recall knob: 4 bands × 1 plane → candidate iff ANY sign
    // bit agrees, P[miss] = p^4 per true neighbor — ≥ 0.9 on this fixture.
    // (The registered query uses 2 bands × 2 planes: coarser, cheaper.)
    val banded = pairSet(Similarity.lshTopKBanded(emb, q, planes, bands = 4, k = 3))
    val recall = (bf & banded).size.toDouble / bf.size
    assert(recall >= 0.9, s"banded recall $recall < 0.9 (|bf|=${bf.size})")
    // band-OR candidates are a superset of the single-bucket probe's
    // (single bucket = ALL planes agree ⇒ every band agrees), so banded
    // recall can only be >= the all-planes single-bucket form's
    val single = pairSet(Similarity.lshTopK(emb, q, planes, k = 3))
    val singleRecall = (bf & single).size.toDouble / bf.size
    assert(recall >= singleRecall, s"banded $recall < single-bucket $singleRecall")
    // and turning the knob up strictly helps vs the coarse setting
    val coarse = pairSet(Similarity.lshTopKBanded(emb, q, planes, bands = 2, k = 3))
    val coarseRecall = (bf & coarse).size.toDouble / bf.size
    assert(recall >= coarseRecall, s"bands=4 $recall < bands=2 $coarseRecall")
  }

  test("IVF trained quantizer + multi-probe: recall >= 0.9 vs brute force at nprobe=2") {
    import spark.implicits._
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(approx: Set[(Long, Long)], exact: Set[(Long, Long)]) =
      (exact & approx).size.toDouble / exact.size
    // IVF's recall premise is CLUSTER STRUCTURE (near neighbors share a
    // coarse cell) — so the recall bar is asserted on a planted-cluster
    // corpus: 4 clusters of 100 vectors on orthogonal 16-dim blocks plus a
    // deterministic ±0.14 perturbation. On such data 2 Lloyd's rounds from
    // the md5-bucket init separate the clusters exactly.
    val clustered = (0 until 400).map { i =>
      val c = i % 4
      val v = Array.tabulate(64) { j =>
        (if (j / 16 == c) 1.0f else 0.0f) +
          (((i * 131 + j * 17) % 29) - 14).toFloat / 29.0f * 0.3f
      }
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
    val cents = Similarity.trainCentroids(clustered, k = 4, iters = 2)
    // training is deterministic: same call → identical centroid table
    val again = Similarity.trainCentroids(clustered, k = 4, iters = 2)
    assert(cents.orderBy("cid").collect().toSeq == again.orderBy("cid").collect().toSeq,
      "k-means training must be run-to-run deterministic")
    assert(cents.count() == 4, "all 4 cells should survive")
    val q = clustered.filter(col("vec_id") < 20)
    val bf = pairSet(Similarity.bruteForceTopK(clustered, q, k = 5))
    val multi = pairSet(Similarity.ivfTopK(clustered, q, cents, k = 5, nprobe = 2))
    assert(recallOf(multi, bf) >= 0.9,
      s"nprobe=2 recall ${recallOf(multi, bf)} < 0.9 (|bf|=${bf.size})")
    // the nprobe knob on the UNCLUSTERED fixture embeddings: recall rises
    // monotonically with probed cells and probing every cell IS brute force
    // (documented behavior — without cluster structure IVF recall scales
    // with the probed fraction, which is why the knob exists)
    val fixCents = Similarity.trainCentroids(emb, k = 4, iters = 2)
    val fq = emb.filter(col("vec_id") < 20)
    val fbf = pairSet(Similarity.bruteForceTopK(emb, fq, k = 5))
    val r1 = recallOf(pairSet(Similarity.ivfTopK(emb, fq, fixCents, k = 5, nprobe = 1)), fbf)
    val r2 = recallOf(pairSet(Similarity.ivfTopK(emb, fq, fixCents, k = 5, nprobe = 2)), fbf)
    assert(r2 >= r1, s"nprobe=2 recall $r2 < nprobe=1 recall $r1")
    val all = pairSet(Similarity.ivfTopK(emb, fq, fixCents, k = 5, nprobe = 4))
    assert(all == fbf, "nprobe=k must equal the exact top-k")
  }

  test("IVF cell assignment is zero-exchange and equals the windowed formulation") {
    import org.apache.spark.sql.expressions.Window
    val p = Similarity.prepared(emb, "vec_id", "embedding")
    val cents = Similarity.prepared(emb.filter(col("vec_id") < 4), "vec_id", "embedding")
      .select(col("id").as("cid"), col("v").as("cv"), col("nrm").as("cnrm"))
    val assigned = Similarity.assignCells(p, cents, nprobe = 2)
    // THE plan pin of the round-4 scale fix: assignment must be a pure
    // narrow map (broadcast-matrix fold + explode) — the previous per-id
    // row_number form shuffled corpus × k rows carrying full vectors
    val plan = assigned.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"assignment must not shuffle:\n$plan")
    assert(!plan.contains("Join"), s"assignment must not join:\n$plan")
    assert(!plan.contains("Window"), s"assignment must not rank via window:\n$plan")
    // with codegen fallback DISABLED a non-codegen expression would throw
    // instead of silently dropping the projection to interpreted rows
    val prevFallback = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    val got =
      try assigned.select("id", "cell").collect().map(r => (r.getLong(0), r.getLong(1)))
      finally spark.conf.set("spark.sql.codegen.fallback", prevFallback)
    // bit-for-bit the windowed formulation it replaced (rounded-cosine
    // score, DESC, cid tie-break, top nprobe)
    val want = p.crossJoin(broadcast(cents))
      .select(col("id"), col("cid"),
        round(Similarity.dot(col("v"), col("cv")) / (col("nrm") * col("cnrm")), 4)
          .as("cscore"))
      .withColumn("crn", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("cscore").desc, col("cid"))))
      .filter(col("crn") <= 2)
      .select("id", "cid").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.sorted.toSeq == want.sorted.toSeq)
    // nprobe > k degrades to "all cells", never an error or phantom rows
    val kAll = Similarity.assignCells(p, cents, nprobe = 99)
      .groupBy("id").count().select("count").distinct().collect()
    assert(kAll.map(_.getLong(0)).toSeq == Seq(4L))
    // the full probe-join plan keeps exactly ONE ranking window (the final
    // per-query rank, with its one hash exchange) — nothing below the probe
    // join ranks or shuffles per id, and the join itself broadcasts
    val ivfPlan = Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10), cents,
      k = 3, nprobe = 2).queryExecution.executedPlan.toString
    assert("Window \\[row_number".r.findAllIn(ivfPlan).size == 1,
      s"expected exactly 1 ranking Window (final rank):\n$ivfPlan")
    assert("Exchange hashpartitioning".r.findAllIn(ivfPlan).size == 1,
      s"expected exactly 1 hash exchange (final rank):\n$ivfPlan")
  }

  test("clusterDrift: identical dumps drift zero; a planted mix shift is measured exactly") {
    import spark.implicits._
    // planted two-cluster corpus (the IVF recall fixture discipline):
    // orthogonal 32-dim blocks + deterministic perturbation
    def mk(ids: Seq[Long], clusterOf: Long => Int) = ids.map { i =>
      val c = clusterOf(i)
      (i, Array.tabulate(64) { j =>
        (if (j / 32 == c) 1.0f else 0.0f) +
          (((i * 131 + j * 17) % 29) - 14).toFloat / 29.0f * 0.2f
      }.toSeq)
    }.toDF("vec_id", "embedding")
    val a = mk(0L until 120L, i => (i % 2).toInt) // 60 / 60
    // identical dumps: every cell's counts match — drift exactly zero
    val same = Similarity.clusterDrift(a, a, k = 2, iters = 2).collect()
    assert(same.nonEmpty && same.forall(r => r.getAs[Long]("abs_drift_ppm") == 0L), same.toSeq)
    assert(same.forall(r => r.getAs[Long]("n_a") == r.getAs[Long]("n_b")))
    // B shifts the mix to 30/90: shares 500000/500000 → 250000/750000,
    // so BOTH cells drift exactly 250000 ppm
    val b = mk(1000L until 1120L, i => if (i % 4 == 0) 0 else 1)
    val drift = Similarity.clusterDrift(a, b, k = 2, iters = 2).collect()
    assert(drift.length == 2, drift.toSeq)
    assert(drift.forall(r => r.getAs[Long]("abs_drift_ppm") == 250000L), drift.toSeq)
    assert(drift.map(r => r.getAs[Long]("n_b")).sorted.toSeq == Seq(30L, 90L), drift.toSeq)
  }

  test("binary codes pack sign bits exactly; full-rerank serving equals brute force") {
    import spark.implicits._
    // hand-checked packing: bits are 0-based dimension indices, lo holds
    // 0–31, hi holds 32–63 (bit 63 stays positive via the hi/lo split)
    val vecs = Seq(
      (1L, (0 until 64).map(i => if (i == 0 || i == 3) 1.0f else -1.0f)),
      (2L, (0 until 64).map(i => if (i == 32) 1.0f else 0.0f)),
      (3L, (0 until 64).map(i => if (i == 63) 2.0f else -0.5f))
    ).toDF("vec_id", "embedding")
    val codes = Similarity.binaryCodes(
      Similarity.prepared(vecs, "vec_id", "embedding"))
      .select("id", "code_lo", "code_hi").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(codes(1L) == ((9L, 0L)), s"bits 0+3 -> lo 9: $codes") // 1 + 8
    assert(codes(2L) == ((0L, 1L)), s"bit 32 -> hi bit 0: $codes")
    assert(codes(3L) == ((0L, 1L << 31)), s"bit 63 -> hi bit 31, positive: $codes")
    // zero is NOT a set bit (strict > 0): doc 2's other dims contribute nothing
    // rerank >= corpus: the Hamming shortlist passes everything through,
    // so serving degrades to exactly the float brute force — the same
    // "probe everything IS brute" pin the IVF family carries
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 5)
    val nCorpus = emb.count().toInt
    val full = Similarity.binaryHammingTopK(emb, q, k = 3, rerank = nCorpus)
      .select("query_id", "neighbor_id", "score")
      .collect().map(_.toSeq).toSet
    val brute = Similarity.bruteForceTopK(emb, q, k = 3)
      .select("query_id", "neighbor_id", "score")
      .collect().map(_.toSeq).toSet
    assert(full == brute, "full-rerank binary serving must equal exact brute force")
  }

  test("binaryCodes: dims > 64 fails loudly instead of aliasing bits mod 64") {
    import spark.implicits._
    def chain(t: Throwable): String =
      if (t == null) "" else s"${t.getMessage}|${chain(t.getCause)}"
    // shiftleft wraps its shift mod 64 in Spark, so a 65-dim vector would
    // silently fold dimension 64 onto bit 0 — the guard must raise instead
    val wide = Seq((0L, Array.fill(65)(1.0f)), (1L, Array.fill(65)(-1.0f)))
      .toDF("vec_id", "embedding")
    val ex = intercept[Exception] {
      Similarity.binaryHammingTopK(wide, wide.filter(col("vec_id") === 0L),
        k = 1, rerank = 1).collect()
    }
    assert(chain(ex).contains("binaryCodes requires dims <= 64"), chain(ex))
  }

  test("banded binary serving: Hamming<bands pairs candidate-guaranteed, all-bands-hit pairs dropped") {
    import spark.implicits._
    val base = Array.tabulate(64)(j => if (j % 2 == 0) 1.0f else -1.0f)
    def flipped(dims: Set[Int]): Seq[Float] =
      base.zipWithIndex.map { case (x, j) => if (dims(j)) -x else x }.toSeq
    val vecs = Seq(
      (0L, base.toSeq),
      (1L, flipped(Set(0))),          // code Hamming 1 — ≥7 intact bands
      (2L, flipped(Set(0, 1))),       // Hamming 2
      (3L, flipped(Set(0, 1, 2))),    // Hamming 3
      (4L, base.map(-_).toSeq),       // Hamming 64 — every band corrupted
      (5L, flipped((0 until 64 by 8).toSet)) // Hamming 8, one flip PER band
    ).toDF("vec_id", "embedding")
    val q = vecs.filter(col("vec_id") === 0L)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("neighbor_id").collect().map(_.getLong(0)).toSet
    // pigeonhole: Hamming < 8 corrupts < 8 byte-slices, so ids 1–3 are
    // guaranteed candidates and surface exactly as the full form ranks them
    val banded = Similarity.binaryHammingTopKBanded(vecs, q, k = 5, rerank = 5, bands = 8)
    assert(ids(banded) == Set(1L, 2L, 3L),
      s"banded must keep the <8-Hamming neighbors and ONLY them here: ${ids(banded)}")
    // the documented trade: ids 4 (all bits) and 5 (one flip in EVERY
    // band) corrupt all 8 slices — no intact band, dropped from the
    // candidate set — while the exhaustive scan still surfaces them
    val full = Similarity.binaryHammingTopK(vecs, q, k = 5, rerank = 5)
    assert(ids(full) == Set(1L, 2L, 3L, 4L, 5L), s"full scan sees all: ${ids(full)}")
    // on the guaranteed set the two forms agree row-for-row
    val bRows = banded.select("query_id", "neighbor_id", "hamming", "score")
      .collect().map(_.toSeq).toSet
    val fRows = full.filter(col("neighbor_id") < 4L)
      .select("query_id", "neighbor_id", "hamming", "score")
      .collect().map(_.toSeq).toSet
    assert(bRows == fRows)
  }

  test("nprobeSweep: each point equals ivfTopK at that nprobe + recallAt; cost axis pinned", SlowTest) {
    val cents = Similarity.trainCentroids(emb, k = 4, iters = 2)
    val q = emb.filter(col("vec_id") < 10)
    val sweep = Similarity.nprobeSweep(emb, q, cents, k = 3, maxNprobe = 3)
      .orderBy("nprobe").collect()
    assert(sweep.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    val brute = Similarity.bruteForceTopK(emb, q, k = 3)
    (1 to 3).foreach { np =>
      val row = sweep(np - 1)
      // the sweep point IS ivfTopK at that nprobe, measured by recallAt —
      // shared-scoring + re-rank must never drift from the real serving call
      val rec = Similarity.recallAt(
        Similarity.ivfTopK(emb, q, cents, k = 3, nprobe = np), brute)
        .agg(sum(col("n_hits")).cast("long").as("h"),
          sum(col("k_exact")).cast("long").as("e"))
        .collect()(0)
      assert(row.getLong(3) == rec.getLong(0), s"np=$np sum_hits")
      assert(row.getLong(4) == rec.getLong(1), s"np=$np sum_exact")
      // the cost axis: n_cands == the probe join's actual candidate count
      val cell1 = Similarity
        .assignCells(Similarity.prepared(emb, "vec_id", "embedding"), cents, nprobe = 1)
        .select(col("id"), col("cell"))
      val qc = Similarity
        .assignCells(Similarity.prepared(q, "vec_id", "embedding"), cents, np)
        .select(col("id").as("qid"), col("cell"))
      val nCands = qc.join(cell1, "cell").filter(col("qid") =!= col("id")).count()
      assert(row.getLong(2) == nCands, s"np=$np n_cands")
      // micro recall is one integer division, rounded — never a double mean
      assert(row.getDouble(5) ==
        BigDecimal(row.getLong(3).toDouble / row.getLong(4))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble, s"np=$np recall")
    }
    // probing every cell IS brute force — the sweep's last point pins it
    val full = Similarity.nprobeSweep(emb, q, cents, k = 3, maxNprobe = 4)
      .orderBy("nprobe").collect()
    assert(full(3).getDouble(5) == 1.0, "nprobe=k must reach full recall")
  }

  test("IVF-PQ: high recall on clustered vectors, corpus side exchange-free") {
    import spark.implicits._
    // deterministic clustered fixture — the regime IVF-PQ exists for
    // (coarse cells learn the clusters, residuals are small): 4 clusters
    // × 100 vectors × 64 dims, closed-form centers and perturbations
    val dims = 64
    val vecs = (0L until 400L).map { i =>
      val c = (i % 4).toInt
      (i, (0 until dims).map { d =>
        (((c * 37 + d * 11) % 17 - 8) / 4.0 + ((i * 13 + d * 7) % 9 - 4) / 100.0).toFloat
      }.toArray)
    }
    val emb = vecs.toDF("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") < 8)
    val got = Similarity.ivfPqTopK(emb, queries, k = 3,
      kCoarse = 4, coarseIters = 2, m = 4, ksub = 4, pqIters = 2,
      nprobe = 1, rerank = 20)
    // recall vs exact L2 top-3 (driver-side ground truth)
    val V = vecs.map { case (_, a) => a.map(_.toDouble) }
    def l2(a: Array[Double], b: Array[Double]): Double =
      a.indices.foldLeft(0.0)((acc, j) => acc + (a(j) - b(j)) * (a(j) - b(j)))
    val truth = (0 until 8).map { q =>
      q.toLong -> (0 until 400).filter(_ != q)
        .sortBy(n => (l2(V(q), V(n)), n.toLong)).take(3).map(_.toLong).toSet
    }.toMap
    val picked = got.collect().groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.map(_.getLong(1)).toSet }
    val recall = truth.map { case (q, t) =>
      (t & picked.getOrElse(q, Set.empty)).size.toDouble / 3 }.sum / truth.size
    assert(recall >= 0.8, s"IVF-PQ recall on clustered vectors too low: $recall")
    // scale contract: the corpus side (assign + residual + encode + ADC
    // join + refine scan) is exchange-free — every hash exchange in the
    // plan partitions on query_id, i.e. lives on the (tiny) per-query
    // candidate/shortlist side, never on corpus rows
    val plan = got.queryExecution.executedPlan.toString
    val exKeys = "Exchange hashpartitioning\\((\\w+)".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(exKeys.nonEmpty && exKeys.forall(_.startsWith("query_id")),
      s"exchange on a non-query-side key (corpus shuffle!): $exKeys\n$plan")
  }

  test("banded near-dup pairs: superset of single-bucket, subset of brute force") {
    val planes = Similarity.prepared(emb.filter(col("vec_id") < 4), "vec_id", "embedding")
      .select(col("id").as("plane_id"), col("v").as("pv"))
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairSet(Similarity.nearDupPairs(emb, tau = 0.4))
    val single = pairSet(Similarity.nearDupPairsBucketed(emb, planes, tau = 0.4))
    val banded = pairSet(Similarity.nearDupPairsBanded(emb, planes, bands = 2, tau = 0.4))
    // single bucket = all 4 sign bits agree ⇒ both bands agree ⇒ banded hit
    assert(single.subsetOf(banded), s"missing: ${single -- banded}")
    // every banded hit is a true tau-pair (candidates are exact-verified)
    assert(banded.subsetOf(brute), s"phantom: ${banded -- brute}")
  }

  test("simhash collapse-first rewrite: exact dups expand to J=1/H=0 pairs") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "p q r s t u v w x y z a b"),
      (2L, "p q r s t u v w x y z a b"), // exact dup of 1
      (3L, "p q r s t u v w x y z a c"), // near-dup of 1/2
      (4L, "entirely different words in this one right here")).toDF("doc_id", "text")
    val got = Dedup.simhashPairs(corpus, tau = 0.5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getDouble(2), r.getLong(3))).toMap
    // the within-group pair: exact duplicates
    assert(got((1L, 2L)) == (1.0, 0L))
    // members of a group carry identical (jaccard, hamming) against outsiders
    assert(got.get((1L, 3L)) == got.get((2L, 3L)))
    // ordering invariant: doc_a < doc_b everywhere
    assert(got.keys.forall { case (a, b) => a < b })
    Dedup.uncacheAll()
  }

  test("SortedArrayIntersectCount: two-pointer merge over sorted hash arrays") {
    import spark.implicits._
    val df = Seq(
      (Seq(1L, 3L, 5L, 9L), Seq(2L, 3L, 5L, 10L), 2L), // partial overlap
      (Seq(1L, 2L), Seq(3L, 4L), 0L),                  // disjoint
      (Seq.empty[Long], Seq(1L), 0L),                  // empty side
      (Seq(7L, 8L, 9L), Seq(7L, 8L, 9L), 3L))          // identical
      .toDF("a", "b", "want")
    val got = df.select(
      graft.functions.SortedArrayIntersectCount(col("a"), col("b")).as("got"), col("want"))
      .collect()
    got.foreach(r => assert(r.getLong(0) == r.getLong(1), r.toString))
    // null array propagates null
    val n = df.select(graft.functions.SortedArrayIntersectCount(
      lit(null).cast("array<bigint>"), col("b"))).collect()
    assert(n.forall(_.isNullAt(0)))
  }

  test("simhash collapse and direct paths emit the identical pair set") {
    // the collapseExactDups flag must tune performance only, never results —
    // checked on a corpus with exact dups, near-dups, and distinct docs
    import spark.implicits._
    val corpus = Seq(
      (1L, "p q r s t u v w x y z a b"),
      (2L, "p q r s t u v w x y z a b"),
      (3L, "p q r s t u v w x y z a c"),
      (4L, "entirely different words in this one right here"),
      (5L, "entirely different words in this one right here"),
      (6L, "m n o p q r s t u v w x y")).toDF("doc_id", "text")
    def rows(collapse: Boolean) =
      Dedup.simhashPairs(corpus, tau = 0.5, collapseExactDups = collapse)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(rows(collapse = true) == rows(collapse = false))
    Dedup.uncacheAll()
  }

  test("survivors drops exactly the larger ids of near-dup pairs") {
    val pairs = Dedup.ngramJaccardPairs(docs, tau = 0.6)
    val dropped = pairs.select("doc_b").distinct().count()
    val kept = Dedup.survivors(docs, pairs).count()
    assert(kept == docs.count() - dropped)
  }

  test("ANN-LSH results are a subset of brute-force candidates' scores") {
    val q = emb.filter(col("vec_id") < 10)
    val bf = Similarity.bruteForceTopK(emb, q, k = 50)
      .select("query_id", "neighbor_id", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val planes = Similarity.prepared(emb.filter(col("vec_id") < 4), "vec_id", "embedding")
      .select(col("id").as("plane_id"), col("v").as("pv"))
    val lsh = Similarity.lshTopK(emb, q, planes, k = 3).collect()
    assert(lsh.nonEmpty)
    lsh.foreach { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
      // every LSH hit carries the same (rounded) cosine the exact path computes
      bf.get(key).foreach(s => assert(s == r.getAs[Double]("score")))
    }
  }

  test("ArrayDotProduct codegen expression is bit-identical to the built-in fold") {
    val p = Similarity.prepared(emb, "vec_id", "embedding")
    val pairs = p.select(col("id").as("ia"), col("v").as("va"))
      .join(p.select(col("id").as("ib"), col("v").as("vb")), col("ia") < col("ib"))
      .limit(5000)
    val diff = pairs.select(
      (Similarity.dot(col("va"), col("vb")) -
        Similarity.dotBuiltin(col("va"), col("vb"))).as("d"))
      .agg(sum(abs(col("d")))).collect()(0).getDouble(0)
    assert(diff == 0.0, s"codegen dot diverges from built-in fold by $diff")
    // and it is available from SQL once registered on the session
    graft.functions.GraftExtensions.register(spark)
    val r = spark.sql("SELECT array_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .collect()(0).getDouble(0)
    assert(r == 11.0)
    // the whole SQL surface registers: nfc_normalize matches DuckDB's
    // function of the same name (the dedup chain is the same TEXT on
    // both engines), and the sorted-intersect verifier is callable too
    val nfc = spark.sql("SELECT nfc_normalize('e\u0301cole') AS s")
      .collect()(0).getString(0) // decomposed e + U+0301 in, composed out
    assert(nfc == "\u00e9cole", s"NFC compose failed: ${nfc.toList.map(_.toInt)}")
    val sic = spark.sql(
      "SELECT sorted_array_intersect_count(array(1L,3L,5L), array(3L,4L,5L)) AS n")
      .collect()(0).getLong(0)
    assert(sic == 2L)
  }

  test("TopKPerKey physical operator equals the window form and plans with one exchange") {
    import org.apache.spark.sql.expressions.Window
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val custom = graft.plans.TopK.perKey(orders,
        Seq("o_custkey"), Seq("o_totalprice" -> false, "o_orderkey" -> true), k = 3)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_custkey"), col("o_totalprice").desc, col("o_orderkey"))
    val window = orders
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_custkey"), col("o_totalprice").desc, col("o_orderkey"))
    assert(custom.collect().map(_.toSeq).toSeq == window.collect().map(_.toSeq).toSeq)
    val plan = custom.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey "), s"custom exec missing:\n$plan")
    // no per-partition Sort below the operator — that's the whole point
    assert(!plan.split("TopKPerKey ").last.contains("Sort"),
      s"unexpected sort under TopKPerKey:\n$plan")
  }

  test("TopKPerKey spills at high key cardinality and still equals the window form") {
    import org.apache.spark.sql.expressions.Window
    // 50k rows over 20k distinct keys, with each key's rows scattered across
    // the partition stream (id % cycle), and a spill threshold of 500
    // retained rows — every task spills dozens of sorted runs and most keys
    // span MULTIPLE runs, exercising the cross-run bounded merge
    val df = spark.range(50000).select(
      (col("id") % 20000).as("k"),
      col("id"),
      (col("id") * 37 % 1000).as("v"))
    val got = graft.plans.TopK.perKey(
        df, Seq("k"), Seq("v" -> false, "id" -> true), k = 2, spillThresholdRows = 500)
      .collect().map(_.toSeq).toSet
    val want = df.withColumn("rn", row_number().over(
        Window.partitionBy(col("k")).orderBy(col("v").desc, col("id"))))
      .filter(col("rn") <= 2).drop("rn")
      .collect().map(_.toSeq).toSet
    assert(got.size == want.size)
    assert(got == want)
  }

  test("TopKPerKey treats -0.0 and 0.0 (and NaN variants) as one key") {
    import spark.implicits._
    val df = Seq((0.0, 1L), (-0.0, 2L), (0.0, 3L), (1.5, 4L), (Double.NaN, 5L),
      (Double.NaN, 6L)).toDF("k", "id")
    val got = graft.plans.TopK.perKey(df, Seq("k"), Seq("id" -> true), k = 1)
      .collect().map(_.getLong(1)).toSet
    // one row per SQL-equal key: {0.0-group → 1, 1.5 → 4, NaN-group → 5}
    assert(got == Set(1L, 4L, 5L), s"got $got")
  }

  test("FuseDotProduct rule rewrites the built-in fold into array_dot") {
    spark.experimental.extraOptimizations = Seq(graft.functions.FuseDotProduct)
    try {
      val p = Similarity.prepared(emb, "vec_id", "embedding")
      val df = p.select(col("id"), Similarity.dotBuiltin(col("v"), col("v")).as("d"))
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(optimized.contains("array_dot"), s"pattern not fused:\n$optimized")
      // fused result equals the explicit fused expression
      val viaRule = df.orderBy("id").collect().map(_.getDouble(1))
      val direct = p.select(col("id"), Similarity.dot(col("v"), col("v")).as("d"))
        .orderBy("id").collect().map(_.getDouble(1))
      assert(viaRule.sameElements(direct))
    } finally spark.experimental.extraOptimizations = Nil
  }

  test("approx_count_distinct sketch lands within 5% of exact") {
    val r = events.agg(
      approx_count_distinct(col("user_id")).as("approx"),
      countDistinct(col("user_id")).as("exact")).collect()(0)
    val (ap, ex) = (r.getLong(0), r.getLong(1))
    assert(math.abs(ap - ex).toDouble / ex < 0.05, s"approx=$ap exact=$ex")
  }

  test("multimodal extractFeatures: schema, determinism, byte-lane profile shape") {
    val feats = Multimodal.extractFeatures(Multimodal.withBinaryPayload(docs), dim = 8)
    assert(feats.columns.toSeq == Seq("doc_id", "byte_len", "n_frames", "features"))
    val rows = feats.orderBy("doc_id").limit(3).collect()
    assert(rows.forall(_.getAs[Seq[Double]]("features").size == 8))
    val again = Multimodal.extractFeatures(Multimodal.withBinaryPayload(docs), dim = 8)
      .orderBy("doc_id").limit(3).collect()
    assert(rows.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("multimodal real decoder: javax.imageio PNG behind the mapPartitions seam") {
    import spark.implicits._
    import java.awt.image.BufferedImage
    // synthesize real PNGs with known pixels so the extracted features are
    // EXACT: a solid-color image (means = the color) and a gradient (means
    // = closed-form averages); plus one corrupt payload (accounting row)
    def png(w: Int, h: Int)(rgb: (Int, Int) => Int): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb(x, y))
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    val solid = png(4, 2)((_, _) => (10 << 16) | (20 << 8) | 30)
    val gradient = png(4, 2)((x, y) => ((x * 40) << 16) | ((y * 100) << 8) | 50)
    val corrupt = Array[Byte](1, 2, 3, 4)
    val df = Seq((1L, solid), (2L, gradient), (3L, corrupt)).toDF("doc_id", "payload")
    val got = Multimodal.extractImageFeatures(df).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(got(0) == ((1L, 4, 2, 10.0, 20.0, 30.0)), s"solid: ${got(0)}")
    assert(got(1) == ((2L, 4, 2, 60.0, 50.0, 50.0)), s"gradient: ${got(1)}")
    assert(got(2)._2 == -1, s"corrupt payload must be accounted, got ${got(2)}")
  }

  test("multimodal real audio decoder: RIFF/WAVE parse behind the mapPartitions seam") {
    import spark.implicits._
    // hand-built WAV with known samples → exact stats; a chunk-walk case
    // (extra LIST chunk before data); and structural rejects (bad magic,
    // truncated data chunk, stereo format) → accounting rows
    def wav(rate: Int, samples: Seq[Short], extraChunk: Boolean = false,
        channels: Short = 1, truncate: Int = 0): Array[Byte] = {
      val dataSize = samples.length * 2
      val extra = if (extraChunk) 12 else 0
      val buf = java.nio.ByteBuffer.allocate(44 + extra + dataSize)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + extra + dataSize)
      buf.put("WAVE".getBytes("US-ASCII"))
      buf.put("fmt ".getBytes("US-ASCII")).putInt(16)
      buf.putShort(1).putShort(channels).putInt(rate).putInt(rate * 2)
      buf.putShort(2).putShort(16)
      if (extraChunk) buf.put("LIST".getBytes("US-ASCII")).putInt(4).putInt(0)
      buf.put("data".getBytes("US-ASCII")).putInt(dataSize)
      samples.foreach(buf.putShort)
      val all = buf.array()
      if (truncate > 0) all.dropRight(truncate) else all
    }
    val clean = wav(8000, Seq[Short](100, -200, 300))
    val chunky = wav(16000, Seq[Short](-32768, 32767), extraChunk = true)
    val df = Seq(
      (1L, clean),
      (2L, chunky),
      (3L, Array[Byte](1, 2, 3, 4)),                       // bad magic
      (4L, wav(8000, Seq[Short](1, 2, 3), truncate = 2)),  // truncated data
      (5L, wav(8000, Seq[Short](1, 2), channels = 2))      // non-mono
    ).toDF("doc_id", "payload")
    val got = Multimodal.extractAudioFeatures(df).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got(0) == ((1L, 8000L, 3L, 200L, 300L)), s"clean: ${got(0)}")
    assert(got(1) == ((2L, 16000L, 2L, -1L, 32768L)), s"chunk-walk: ${got(1)}")
    assert(got(2)._2 == -1L && got(3)._2 == -1L && got(4)._2 == -1L,
      s"structural rejects must be accounted: ${got.toSeq}")
  }

  test("multimodal MP4 metadata: box walk matches the synthesized closed forms") {
    import spark.implicits._
    // synthesized lane: closed forms for clean ids, all -1 for BOTH
    // corruption classes (garbage magic at id%10==0, truncated moov at
    // id%10==5)
    val got = Multimodal.extractMp4Meta(
        Multimodal.synthesizeMp4Payloads((1L to 31L).toDF("doc_id")))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    (1L to 31L).foreach { id =>
      val expect =
        if (id % 10 == 0 || id % 10 == 5) (-1L, -1L, -1L, -1L)
        else {
          val ts = 600L + (id % 5) * 400L
          // odd ids: version-1 mvhd with the duration pushed past 2^32
          val dur = (id % 240 + 60) * 100L +
            (if (id % 2 == 1) (id % 3) * 4294967296L else 0L)
          (ts, dur, 1L + id % 3, dur * 1000L / ts)
        }
      assert(got(id) == expect, s"id=$id: ${got(id)} vs $expect")
    }
    // hand-built boxes: a valid v0, a valid v1 (64-bit duration read from
    // the widened offsets), an unknown version, and a child box
    // overrunning its moov parent
    def mp4WithMvhdVersion(v: Byte): Array[Byte] = {
      val size = if (v == 1) 120 else 108
      val buf = java.nio.ByteBuffer.allocate(20 + 8 + size)
        .order(java.nio.ByteOrder.BIG_ENDIAN)
      buf.putInt(20).put("ftypisom".getBytes("US-ASCII")).putInt(512)
        .put("mp41".getBytes("US-ASCII"))
      buf.putInt(8 + size).put("moov".getBytes("US-ASCII"))
      buf.putInt(size).put("mvhd".getBytes("US-ASCII"))
      buf.put(v).put(Array[Byte](0, 0, 0))
      if (v == 1) buf.putLong(0L).putLong(0L).putInt(1000)
        .putLong(4294967296L + 5000L)
      else buf.putInt(0).putInt(0).putInt(1000).putInt(5000)
      buf.array() // trailing mvhd body bytes stay zero
    }
    assert(Multimodal.parseMp4(mp4WithMvhdVersion(0)) == Some((1000L, 5000L, 0L)))
    assert(Multimodal.parseMp4(mp4WithMvhdVersion(1)) ==
      Some((1000L, 4294967296L + 5000L, 0L)),
      "version-1 mvhd must read the 64-bit duration")
    assert(Multimodal.parseMp4(mp4WithMvhdVersion(2)).isEmpty,
      "unknown mvhd versions must land in the corrupt lane")
    val overrun = mp4WithMvhdVersion(0)
    // child mvhd now claims 4 GiB-ish: overruns moov → reject
    overrun(28) = 0x7f
    assert(Multimodal.parseMp4(overrun).isEmpty,
      "child box overrunning its parent must be rejected")
  }

  test("perceptual aHash: brightness shifts collapse, structures separate, bytes differ") {
    import spark.implicits._
    val ids = (1L to 40L).toDF("doc_id")
    val payloads = Multimodal.synthesizeGradientPayloads(ids).cache()
    val hashed = Multimodal.imageAHash(payloads).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // corrupt rows accounted, never dropped
    (1L to 40L).filter(_ % 10 == 0).foreach(id =>
      assert(hashed(id) == ((-1L, -1L)), s"corrupt $id must be (-1,-1)"))
    // same structure class (id % 4), different brightness (id % 128) →
    // different bytes, SAME hash: the perceptual-collapse property
    val good = (1L to 40L).filterNot(_ % 10 == 0)
    good.groupBy(_ % 4).values.foreach { cls =>
      assert(cls.map(hashed).toSet.size == 1,
        s"class ${cls.head % 4}: expected one hash, got ${cls.map(hashed).toSet}")
    }
    // and the four structure classes land on four DISTINCT hashes
    assert(good.map(id => hashed(id)).toSet.size == 4,
      "structure classes must separate")
    // prove the collapse is perceptual, not byte equality: two same-class
    // ids have different payload bytes (different brightness)
    val bytes = payloads.collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    assert(!java.util.Arrays.equals(bytes(1L), bytes(5L)),
      "same-class payloads must differ at the byte level")
    assert(hashed(1L) == hashed(5L), "…but share the perceptual hash")
    // VALUE pin (r19 mm mutation exercise): the bit-packing order —
    // bit index cj·grid+ci, idx < 32 → hi bit idx, else lo bit idx−32 —
    // is the contract the DuckDB oracle replays. Every assert above is
    // BLIND to a bijective remap of hashes (a 31−idx bit-order mutant
    // passed them all; only the oracle's closed-form replay bit). Pin
    // the packing by recomputing from the generator's pixel closed form
    // (16×16, g = (x·13·k + y·29) mod 64 + bright, p = 3g, 2×2 cells),
    // never touching the decode/packing loop under test.
    def expectedHash(id: Long): (Long, Long) = {
      val k = (id % 4 + 1).toInt
      val bright = (id % 128).toInt
      val p = Array.tabulate(16, 16)((y, x) =>
        3L * (((x * 13 * k + y * 29) % 64) + bright))
      val total = p.map(_.sum).sum
      var hi = 0L
      var lo = 0L
      for (cj <- 0 until 8; ci <- 0 until 8) {
        val cell = (for (y <- cj * 2 until cj * 2 + 2;
                         x <- ci * 2 until ci * 2 + 2) yield p(y)(x)).sum
        if (cell * 256L > total * 4L) {
          val idx = cj * 8 + ci
          if (idx < 32) hi |= 1L << idx else lo |= 1L << (idx - 32)
        }
      }
      (hi, lo)
    }
    Seq(1L, 2L, 3L, 4L).foreach(id =>
      assert(hashed(id) == expectedHash(id),
        s"id $id: packed ${hashed(id)} != closed-form ${expectedHash(id)}"))
    payloads.unpersist()
  }

  test("multimodal resize stage: 4x downsample preserves ids, shrinks payloads") {
    val src = Multimodal.withBinaryPayload(docs)
    val resized = Multimodal.resize(src, factor = 4)
    val joined = src.select(col("doc_id"), col("byte_len").as("orig_len"))
      .join(resized.withColumnRenamed("byte_len", "new_len"), "doc_id")
    val offById = joined
      .filter(col("new_len") =!= ceil(col("orig_len") / 4).cast("long")).count()
    assert(offById == 0)
    assert(resized.count() == docs.count())
  }

  test("session cache eviction drops every memoized artifact for the session") {
    // populate at least one memoFrame artifact + one driver-side model
    SparkEntry.queries("q_label_propagation")(spark, sf).count()
    SparkEntry.queries("ann_ivfpq_topk")(spark, sf).count()
    assert(SparkEntry.cachedEntryCount(spark) > 0, "artifacts did not memoize")
    // the SparkListener body the application-end hook runs
    SparkEntry.dropSessionCaches(spark)
    assert(SparkEntry.cachedEntryCount(spark) == 0,
      "session eviction left memoized entries behind")
    // caches rebuild cleanly after eviction (same values, fresh entries)
    SparkEntry.queries("q_label_propagation")(spark, sf).count()
    assert(SparkEntry.cachedEntryCount(spark) > 0)
    SparkEntry.dropSessionCaches(spark)
  }

  test("memo touch recorder: accessor calls log to the active row, warm or cold") {
    import spark.implicits._
    SparkEntry.clearMemoTouches()
    // outside any row scope: nothing is recorded (unit suites and ad-hoc
    // sessions must not accumulate a phantom log)
    SparkEntry.memoFrame(spark, "/tmp/touchprobe", "touch_probe") {
      Seq((1L, 2L)).toDF("a", "b")
    }
    assert(SparkEntry.memoTouchSnapshot().isEmpty)
    SparkEntry.recordingMemoTouches("probe_row") {
      // warm: the frame above is cached — serving a warm memo is still
      // serving, so the touch must log BEFORE the cache lookup
      SparkEntry.memoFrame(spark, "/tmp/touchprobe", "touch_probe") {
        fail("memo must be warm"): org.apache.spark.sql.DataFrame
      }
      SparkEntry.memoModel[String](spark, "/tmp/touchprobe", "touch_model")("m")
    }
    assert(SparkEntry.memoTouchSnapshot() ==
      Map("probe_row" -> Set("touch_probe", "touch_model")))
    SparkEntry.clearMemoTouches()
    SparkEntry.dropSessionCaches(spark)
  }

  // ------------------------------------------------------------ plan shape

  test("projection + predicate are pushed into the parquet scan") {
    val plan = SparkEntry.queries("du_projection_pushdown")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)]"),
      s"missing pushed filter in:\n$plan")
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double>"),
      s"scan not pruned to 3 columns in:\n$plan")
  }

  test("disk-usage scan reads only key+size equivalent columns") {
    val df = SparkEntry.queries("du_group_by_user")(spark, sf)
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("ReadSchema: struct<user_id:bigint,value:double>"),
      s"aggregate scan not pruned in:\n$scan")
  }

  test("bucketed co-located join and aggregation run without a shuffle") {
    def rmdir(p: java.io.File): Unit = {
      if (p.isDirectory) p.listFiles().foreach(rmdir)
      p.delete(): Unit
    }
    Seq("ev_bucketed", "ev_bucketed2").foreach { tbl =>
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      rmdir(new java.io.File(s"spark-warehouse/$tbl"))
    }
    events.write.bucketBy(8, "user_id").sortBy("user_id")
      .mode("overwrite").saveAsTable("ev_bucketed")
    val aggPlan = spark.table("ev_bucketed")
      .groupBy(col("user_id")).agg(count(lit(1)))
      .queryExecution.executedPlan.toString
    assert(!aggPlan.contains("Exchange"),
      s"bucketed aggregation should not shuffle:\n$aggPlan")
    events.write.bucketBy(8, "user_id").sortBy("user_id")
      .mode("overwrite").saveAsTable("ev_bucketed2")
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joinPlan = spark.table("ev_bucketed").as("a")
        .join(spark.table("ev_bucketed2").as("b"), Seq("user_id"))
        .queryExecution.executedPlan.toString
      assert(joinPlan.contains("SortMergeJoin"), s"expected SMJ:\n$joinPlan")
      assert(!joinPlan.contains("Exchange"),
        s"co-located bucketed join should not shuffle:\n$joinPlan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    // the custom TopKPerKey operator's ClusteredDistribution is satisfied
    // by the bucketing → whole top-k-per-user with ZERO shuffles
    val topkPlan = graft.plans.TopK.perKey(spark.table("ev_bucketed"),
        Seq("user_id"), Seq("value" -> false, "event_id" -> true), k = 2)
      .queryExecution.executedPlan.toString
    assert(topkPlan.contains("TopKPerKey ") && !topkPlan.contains("Exchange"),
      s"bucketed TopKPerKey should not shuffle:\n$topkPlan")
  }

  test("partitioned layout: filter prunes partitions at the scan") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("parted").toString
    events.write.partitionBy("event_type").parquet(s"$dir/events")
    val df = spark.read.parquet(s"$dir/events")
      .filter(col("event_type") === "click")
      .select(col("event_id"), col("value"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(event_type") &&
      plan.contains("= click)"),
      s"partition filter not pushed to the scan:\n$plan")
    assert(df.count() == events.filter(col("event_type") === "click").count())
  }

  test("round-9 op plan pins: no window in ccnet, broadcast-only joins in mix/novelty") {
    // ccnetBuckets' whole point is avoiding the per-language ntile window
    // (few languages ⇒ a window serializes the corpus onto a handful of
    // task chains); thresholds must come back as a broadcast join
    val ccn = TextAnalysis.ccnetBuckets(docs).queryExecution.executedPlan.toString
    assert(!ccn.contains("Window"), s"ccnetBuckets planned a window:\n$ccn")
    assert(ccn.contains("BroadcastHashJoin") || ccn.contains("BroadcastNestedLoopJoin"),
      s"ccnetBuckets thresholds not broadcast:\n$ccn")
    // temperatureMix: the corpus scan happens ONCE at build time (driver
    // math on the collected stratum histogram); the returned plan is pure
    // local rows — any Exchange/join here means the crossJoin-chain
    // regression (4 corpus scans) came back
    val tm = graft.operators.Splits.temperatureMix(docs, "lang", 0.3)
      .queryExecution.executedPlan.toString
    assert(tm.contains("LocalTableScan") && !tm.contains("Exchange"),
      s"temperatureMix must be driver-computed local rows:\n$tm")
    // gramNovelty: NO window on the shingle key — a viral boilerplate
    // shingle would land every one of its occurrences in a single window
    // partition with no partial aggregation (nothing splits a window
    // partition; AQE skew handling applies to joins only). The df
    // aggregation must instead combine MAP-SIDE (partial_count/partial_min
    // before the shingle exchange collapse hot keys to one row per task);
    // the only join is doc-keyed over |docs|-sized operands.
    val gn = TextAnalysis.gramNovelty(docs).queryExecution.executedPlan.toString
    assert(!gn.contains("Window"), s"gramNovelty planned a shingle-key window:\n$gn")
    assert(gn.contains("partial_count") && gn.contains("partial_min"),
      s"gramNovelty df aggregation lost map-side combine:\n$gn")
  }

  test("round-14 plan pins: bucketed-series folds plan no global one-task window") {
    // cusumChangepoints / seasonalDecompose / giniByKey now ride range-
    // sharded prefix folds: every Window the plan keeps must be shard-
    // partitioned (or the ≤shards-row offsets fold ordered BY shard) —
    // a bare ORDER BY window over the series would re-pin one task.
    // r15: the folds are ADAPTIVE (fixture-sized inputs legitimately
    // plan the single window); force the sharded path so this test pins
    // the shape that runs at scale.
    val savedFloor = graft.operators.ShardedFold.minRowsPerShard
    graft.operators.ShardedFold.minRowsPerShard = 1L
    try {
    // cusumSegments localCheckpoints per level, so its final plan shows
    // no windows at all — the assert is vacuous there by construction.
    def shardedWindowsOnly(name: String, df: org.apache.spark.sql.DataFrame): Unit =
      df.queryExecution.executedPlan.toString.linesIterator
        .filter(_.contains("Window ")).foreach { w =>
          assert(w.contains("shard"),
            s"$name: non-sharded window survives:\n$w")
        }
    val s = spark.range(2000L).select(col("id").as("bucket"),
      (col("id") % 97L).as("v"))
    shardedWindowsOnly("cusumChangepoints", Temporal.cusumChangepoints(s))
    shardedWindowsOnly("cusumSegments", Temporal.cusumSegments(s, depth = 2))
    shardedWindowsOnly("seasonalDecompose",
      Temporal.seasonalDecompose(s, season = 24))
    shardedWindowsOnly("giniByKey", Hygiene.giniByKey(
      spark.range(2000L).select((col("id") % 5L).cast("string").as("src"),
        col("id").as("v")), "src", "v"))
    shardedWindowsOnly("forecastBaselines",
      Temporal.forecastBaselines(s, season = 24))
    shardedWindowsOnly("bpeEncode",
      TextAnalysis.bpeEncode(
        spark.range(50L).select(col("id").as("doc_id"),
          concat(lit("tok"), (col("id") % 7L).cast("string"), lit(" x")).as("text")),
        Seq(("a", "b"))))
    // and the sharded prefix genuinely appears where lineage is visible
    val cp = Temporal.cusumChangepoints(s)
      .queryExecution.executedPlan.toString
    assert(cp.contains("Window"), s"cusumChangepoints lost its sharded fold:\n$cp")
    } finally { graft.operators.ShardedFold.minRowsPerShard = savedFloor }
  }

  test("filtered IVF: full probe equals brute force over the filtered corpus") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val cents = Similarity.prepared(emb.filter(col("vec_id") < 4), "vec_id", "embedding")
      .select(col("id").as("cid"), col("v").as("cv"), col("nrm").as("cnrm"))
    val q = emb.filter(col("vec_id") < 8)
    val pred = col("label") === 1
    // probing every cell voids the cell restriction: the filtered serve
    // must equal brute force over the predicate's survivors
    val full = Similarity.filteredIvfTopK(emb, q, cents, k = 5, pred, nprobe = 4)
      .select("query_id", "neighbor_id", "score")
      .collect().map(_.toSeq).toSet
    val brute = Similarity.bruteForceTopK(emb.filter(pred), q, k = 5)
      .select("query_id", "neighbor_id", "score")
      .collect().map(_.toSeq).toSet
    assert(full == brute, "full-probe filtered IVF must be the filtered brute force")
    // and only predicate survivors ever emit, at any nprobe
    val labels = emb.select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val narrow = Similarity.filteredIvfTopK(emb, q, cents, k = 5, pred, nprobe = 1)
      .select("neighbor_id").collect().map(_.getLong(0))
    assert(narrow.nonEmpty && narrow.forall(labels(_) == 1),
      "a non-matching neighbor leaked through the predicate")
  }

  test("epoch plan: budget·share targets, repeat flags, unlisted stratum excluded") {
    import spark.implicits._
    val df = Seq(("en", 100L), ("en", 100L), ("de", 50L), ("zh", 25L))
      .toDF("lang", "toks")
    val got = Splits.epochPlan(df, "lang", "toks",
        Map("en" -> 600000L, "de" -> 400000L), budgetTokens = 1000L)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4),
        Option(r.get(5)).map(_.asInstanceOf[Long]), r.getBoolean(6)))).toMap
    // en: 200 of a 1000-token budget's 600-token target → 3 epochs
    assert(got("en") == ((2L, 200L, 600000L, 600L, Some(3000000L), true)),
      got("en").toString)
    assert(got("de") == ((1L, 50L, 400000L, 400L, Some(8000000L), true)))
    // unlisted stratum: planned at share 0 — shown excluded, never dropped
    assert(got("zh") == ((1L, 25L, 0L, 0L, Some(0L), false)))
    intercept[IllegalArgumentException] {
      Splits.epochPlan(df, "lang", "toks",
        Map("en" -> 700000L, "de" -> 400000L), budgetTokens = 1000L)
    }
  }

  test("cluster-consistent split: twins never straddle splits; per-doc assign does") {
    import spark.implicits._
    // 300 docs in 150 planted twin pairs: (2k, 2k+1) share a component
    val pairs = (0L until 300L by 2).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val comp = Dedup.components(pairs)
    val grouped = (0L until 300L).toDF("doc_id")
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("group_id"))
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    def crossGroups(assigned: org.apache.spark.sql.DataFrame): Long = assigned
      .groupBy(col("group_id"))
      .agg(countDistinct(col("split")).as("ns"))
      .filter(col("ns") > 1).count()
    // hashing the CLUSTER label: a component is structurally one split
    val clustered = Splits.assign(grouped, "group_id", splits)
    assert(crossGroups(clustered) == 0L)
    // hashing the doc id: this fixture demonstrably leaks (what
    // split_leakage_audit measures and split_cluster_assign fixes)
    assert(crossGroups(Splits.assign(grouped, "doc_id", splits)) > 0L,
      "fixture must demonstrate the per-doc leak")
    // the split fractions still roughly hold at GROUP grain
    val train = clustered.filter(col("split") === "train").count()
    assert(train > 180L && train < 290L, s"train=$train of 300")
  }

  test("dimension join is broadcast") {
    val plan = SparkEntry.queries("q_join_broadcast_nation")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join in:\n$plan")
  }

  test("flagship aggregate plans exactly one data exchange") {
    // the A1 contract at 100 TB: map-side partial aggregation, ONE hash
    // exchange on the group key, final aggregation — any second data
    // shuffle is a plan regression (the trailing range exchange exists
    // only for the deterministic verify ORDER BY)
    val plan = SparkEntry.queries("du_by_address")(spark, sf)
      .queryExecution.executedPlan.toString
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges == 1,
      s"expected exactly 1 hash exchange, found $hashExchanges:\n$plan")
  }

  test("runtime bloom filter prunes the fact side of a selective shuffle join") {
    // at 100 TB the fact side of fact⋈dim must not fully materialize when
    // the dim is selectively filtered and too big to broadcast — Spark's
    // InjectRuntimeFilter plants a bloom-filter semi-filter on the fact
    // scan. Thresholds are lowered so the rule fires at fixture scale;
    // broadcast is disabled because a broadcast join already filters.
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      .map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      val li = spark.read.parquet(s"$sf/lineitem.parquet")
        .select(col("l_orderkey"), col("l_quantity"))
      val ord = spark.read.parquet(s"$sf/orders.parquet")
        .filter(col("o_orderdate") < lit("1995-06-01"))
        .select(col("o_orderkey"))
      val j = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      val opt = j.queryExecution.optimizedPlan.toString
      assert(opt.contains("might_contain"),
        s"no bloom runtime filter injected:\n$opt")
      // and it must not change results vs the unfiltered-plan join
      assert(j.count() ==
        li.join(ord.hint("broadcast"), col("l_orderkey") === col("o_orderkey")).count())
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("components pointer-jumping: a 200-link chain converges within default maxIter") {
    import spark.implicits._
    // diameter 200: hook-only min-label propagation needs 200 rounds and
    // would blow the default 25-round budget — the jump step must converge
    // this in O(log 200) ≈ 8 rounds with the correct fixpoint
    val pairs = (0L until 200L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = Dedup.components(pairs).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == 201, s"expected 201 labeled nodes, got ${got.length}")
    assert(got.forall(_._2 == 0L), s"all chain nodes must label to 0")
    Dedup.uncacheAll()
  }

  test("sharded packing plan: exchanges keyed on (stratum, shard) only; offsets broadcast") {
    import spark.implicits._
    val docs = (0L until 1000L).map(i => (i, if (i % 2 == 0) "en" else "de", 10L + i % 7))
      .toDF("id", "lang", "n_tok")
    val plan = Splits.packBatchesSharded(docs, "lang", "id", "n_tok", budget = 100L, shards = 8)
      .queryExecution.executedPlan.toString
    // the scale contract: no exchange ever partitions on the document id —
    // the big side moves once, keyed by (stratum, shard); the offset table
    // (strata × shards rows) windows on the stratum and BROADCASTS back
    val exKeys = "Exchange hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(plan).map(_.group(1)).toList
    assert(exKeys.nonEmpty && exKeys.forall(k => k.contains("lang") && !k.contains("id#")),
      s"unexpected exchange keys $exKeys:\n$plan")
    assert(plan.contains("BroadcastExchange"), s"offsets must broadcast back:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"offset stitch must not sort-merge:\n$plan")
  }

  test("weighted sample plans a TakeOrderedAndProject; global order exchanges on shard only") {
    import spark.implicits._
    val docs = (0L until 1000L).map(i => (i, 1 + (i % 5).toInt)).toDF("id", "w")
    // top-k by key must compile to per-partition heaps merged on the driver
    // (TakeOrderedAndProject) — a global Sort + Limit would shuffle the
    // whole corpus to one task at 100 TB
    val samplePlan = Splits.weightedSample(docs, "id", col("w"), k = 50, maxWeight = 8)
      .queryExecution.executedPlan.toString
    assert(samplePlan.contains("TakeOrderedAndProject"),
      s"weighted sample must plan a TakeOrderedAndProject:\n$samplePlan")
    assert(!samplePlan.contains("Exchange"),
      s"weighted sample must not exchange (narrow scan + heaps):\n$samplePlan")
    // global order: big side exchanges ONCE keyed by the shard bucket; the
    // tiny offsets frame broadcasts back (same contract as sharded packing)
    val orderPlan = Splits.globalOrder(docs, "id", shards = 16)
      .queryExecution.executedPlan.toString
    val exKeys = "Exchange hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(orderPlan).map(_.group(1)).toList
    assert(exKeys.nonEmpty && exKeys.forall(k => k.contains("order_shard") && !k.contains("id#")),
      s"unexpected exchange keys $exKeys:\n$orderPlan")
    assert(orderPlan.contains("BroadcastExchange"), s"offsets must broadcast back:\n$orderPlan")
    assert(!orderPlan.contains("SortMergeJoin"), s"offset stitch must not sort-merge:\n$orderPlan")
  }

  test("C4 line filter: punctuation and word-count rules, doc culling, original order") {
    import spark.implicits._
    val docs = Seq(
      // 3 keepable lines + chrome: survives, chrome dropped, order kept
      (1L, "first line stays here.\nMenu\nsecond line also stays!\nCookie notice\nthird line stays too?"),
      // only 2 keepable lines: culled by minLines
      (2L, "one good line here.\nanother good line here.\nshort.\nno punct at all"),
      // punctuated but too short / long but unpunctuated: culled
      (3L, "a b.\nc d!\ne f?\nthis line has many words but no terminal punctuation"),
      // exactly at the boundary: quoted line counts (terminal ")
      (4L, "alpha beta gamma.\ndelta epsilon zeta!\n\"quoted line ends well\"")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.c4LineFilter(docs, minWords = 3, minLines = 3)
      .orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
    assert(out.map(_._1).toSeq == Seq(1L, 4L), s"surviving docs: ${out.map(_._1).toSeq}")
    val d1 = out.find(_._1 == 1L).get
    assert(d1._2 == 5 && d1._3 == 3)
    assert(d1._4 ==
      "first line stays here.\nsecond line also stays!\nthird line stays too?")
    val d4 = out.find(_._1 == 4L).get
    assert(d4._2 == 3 && d4._3 == 3 && d4._4.endsWith("\"quoted line ends well\""))
    // the whole chain is row-local: no exchange anywhere
    val plan = TextAnalysis.c4LineFilter(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"C4 filter must be narrow:\n$plan")
  }

  test("frame dedup: shared blocks collapse to one hash group, within-doc repeats count") {
    import spark.implicits._
    val block = "x" * 64
    val other = "y" * 64
    val docs = Seq(
      (1L, block + other),        // frames: [x-block, y-block]
      (2L, block + ("z" * 64)),   // shares the x-block with doc 1
      (3L, block + block),        // the x-block TWICE within one doc
      (4L, "w" * 64)              // unique frame: must not appear
    ).toDF("doc_id", "text")
    val out = Multimodal.frameDupStats(docs, frameBytes = 64)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // exactly one dup group (the x-block): 4 occurrences over docs 1,2,3,
    // first seen in doc 1 at frame 0
    assert(out.toSeq == Seq((4L, 3L, 1L, 0L)), s"dup groups: ${out.toSeq}")
  }

  test("cdc chunks: boundaries re-sync behind a shifted prefix; fixed frames cannot") {
    import spark.implicits._
    // a long shared body behind prefixes of DIFFERENT lengths — every
    // fixed-offset frame straddles the shift, but content-defined
    // boundaries depend only on the local window, so the body's chunks
    // re-align after at most one chunk
    val body = (1 to 40).map(i => s"word$i piece").mkString(" ")
    val docs = Seq((1L, body), (2L, "zzz" + body), (3L, "qq" + body))
      .toDF("doc_id", "text")
    val fixed = Multimodal.frameDupStats(docs, frameBytes = 64)
      .filter(col("n_docs") >= 2).count()
    assert(fixed == 0L, "fixed frames must NOT match across the shift")
    val cdc = Multimodal.cdcDupStats(docs, divisor = 16)
      .filter(col("n_docs") === 3).count()
    assert(cdc >= 2L, s"CDC must dedup the shared body across all 3 docs ($cdc groups)")
    // structural invariants: chunks TILE each payload — contiguous
    // 1-based spans whose lengths sum to the payload length
    val chunks = Multimodal.cdcChunks(docs, divisor = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    docs.collect().map(r => (r.getLong(0), r.getString(1))).foreach {
      case (id, txt) =>
        val own = chunks.filter(_._1 == id).sortBy(_._2)
        assert(own.map(_._4).sum == txt.length.toLong, s"doc $id tiling")
        assert(own.head._3 == 1L, s"doc $id first chunk start")
        own.sliding(2).foreach {
          case Array(a, b) =>
            assert(b._3 == a._3 + a._4, s"doc $id gap between chunks")
          case _ => ()
        }
    }
    // empty payloads emit no chunks; sub-window payloads emit exactly one
    assert(Multimodal.cdcChunks(Seq((9L, "")).toDF("doc_id", "text")).count() == 0L)
    val tiny = Multimodal.cdcChunks(Seq((9L, "abc")).toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(2), r.getLong(3)))
    assert(tiny.toSeq == Seq((1L, 3L)), tiny.toSeq.toString)
  }

  test("clamped cdc chunks: min-size holds, adversarial shatter capped, minChunk=1 = stateless") {
    import spark.implicits._
    // adversarial repetitive content: a constant byte makes the window
    // hash constant, and Σ31^j ≡ 0 (mod 64), so EVERY position ≥ 8 is a
    // boundary — the stateless form shatters into ~len one-byte chunks
    val shatter = Seq((1L, "a" * 100)).toDF("doc_id", "text")
    val nStateless = Multimodal.cdcChunks(shatter).count()
    assert(nStateless > 90L, s"expected ~93 shattered chunks, got $nStateless")
    val clamped = Multimodal.cdcChunksClamped(shatter, minChunk = 20)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(clamped.length <= 6, s"clamp failed: ${clamped.length} chunks")
    // tiling still holds, and every chunk except the tail ≥ minChunk
    assert(clamped.map(_._3).sum == 100L)
    clamped.dropRight(1).foreach { case (_, _, n) =>
      assert(n >= 20L, s"chunk under minChunk: $clamped") }
    // minChunk = 1 keeps every candidate: identical to the stateless form
    val rng = new scala.util.Random(53)
    val docs = (1L to 6L).map { id =>
      (id, (0 until 150 + rng.nextInt(150))
        .map(_ => ('a' + rng.nextInt(26)).toChar).mkString)
    }.toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4))).toSet
    assert(rows(Multimodal.cdcChunksClamped(docs, minChunk = 1)) ==
      rows(Multimodal.cdcChunks(docs)),
      "minChunk=1 must reproduce the stateless chunking exactly")
    // maxChunk: forced boundaries cap every chunk, and a CANDIDATE-FREE
    // payload degrades to fixed-size slicing instead of one giant chunk
    val noCand = Seq((7L, "segment1 " * 20)).toDF("doc_id", "text") // 180 B
    assert(Multimodal.cdcChunks(noCand).count() == 1L, "fixture must be candidate-free")
    val sliced = Multimodal.cdcChunksClamped(noCand, minChunk = 24, maxChunk = 64)
      .collect().map(r => (r.getLong(2), r.getLong(3))).sortBy(_._1)
    assert(sliced.toSeq == Seq((1L, 64L), (65L, 64L), (129L, 52L)),
      sliced.toSeq.toString)
    // with both clamps on real content: sizes live in [minChunk, maxChunk]
    // except the per-doc tail, and tiling still holds
    val both = Multimodal.cdcChunksClamped(docs, minChunk = 24, maxChunk = 48)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    both.groupBy(_._1).foreach { case (id, cs) =>
      val sorted = cs.sortBy(_._2)
      sorted.dropRight(1).foreach { case (_, _, n) =>
        assert(n >= 24L && n <= 48L, s"doc $id chunk size $n out of clamp") }
      assert(sorted.last._3 <= 48L, s"doc $id tail exceeds maxChunk")
    }
    // a huge maxChunk is the min-only form
    assert(rows(Multimodal.cdcChunksClamped(docs, minChunk = 20,
        maxChunk = 1000000)) ==
      rows(Multimodal.cdcChunksClamped(docs, minChunk = 20)),
      "maxChunk >= len must reduce to the min-only clamp")
  }

  test("CMS estimates: never undercount, exact without collisions, OOV is collision mass") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta alpha gamma"),
      (2L, "alpha delta delta beta"),
      (3L, "epsilon alpha beta beta")
    ).toDF("doc_id", "text")
    val exact = Map("alpha" -> 4L, "beta" -> 4L, "gamma" -> 1L,
      "delta" -> 2L, "epsilon" -> 1L, "zeta" -> 0L)
    val probes = exact.keys.toSeq.toDF("token")
    // wide sketch: 1024 buckets for 5 distinct tokens — no collisions,
    // estimates are exact (incl. the absent token at 0)
    val wide = TextAnalysis.cmsTokenEstimates(docs, probes, width = 1024, depth = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(wide == exact, s"wide sketch must be exact: $wide")
    // crushed sketch: 4 buckets force collisions — estimates may only
    // move UP, never below the true count
    val tight = TextAnalysis.cmsTokenEstimates(docs, probes, width = 4, depth = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (t, n) =>
      assert(tight(t) >= n, s"CMS undercounted $t: ${tight(t)} < $n")
    }
    // deterministic: same corpus, same sketch, same estimates
    val again = TextAnalysis.cmsTokenEstimates(docs, probes, width = 4, depth = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(again == tight, "sketch must be deterministic")
  }

  test("HLL distinct: LC branch on tiny vocab, 20% band at 4k, shuffle-invariant") {
    import spark.implicits._
    // 4 distinct tokens hit <= 4 of 256 registers -> the small-range
    // linear-counting branch fires
    val small = Seq((1L, "alpha beta gamma alpha"), (2L, "beta delta"))
      .toDF("doc_id", "text")
    val r1 = TextAnalysis.hllDistinct(small).collect()(0)
    assert(r1.getAs[Long]("n_distinct_exact") == 4L)
    val v = r1.getAs[Long]("zero_registers")
    assert(v >= 252L && v <= 256L, s"v=$v")
    assert(math.abs(r1.getAs[Double]("estimate") -
      256.0 * math.log(256.0 / v)) < 1e-3)

    // 4000 distinct tokens saturate every register -> raw harmonic branch;
    // HLL std error at m=256 is ~6.5%, a 20% band is a 3-sigma-safe pin
    // (deterministic anyway: fixed hash, fixed corpus)
    val big = Seq((1L, Seq.tabulate(2000)(i => s"tok$i word$i").mkString(" ")))
      .toDF("doc_id", "text")
    val r2 = TextAnalysis.hllDistinct(big).collect()(0)
    assert(r2.getAs[Long]("n_distinct_exact") == 4000L)
    val est = r2.getAs[Double]("estimate")
    assert(est > 3200 && est < 4800, s"est=$est")

    // register maxes and the integer harmonic sum are order-independent
    val again = TextAnalysis.hllDistinct(big.repartition(7)).collect()(0)
    assert(again == r2, s"shuffle changed the sketch: $again vs $r2")
  }

  test("encoding stats: replacement/control/non-ascii counted as code points") {
    import spark.implicits._
    val docs = Seq(
      (1L, "plain ascii text"),
      (2L, "bad � here �� end"),      // 3 replacement chars
      (3L, "ctl mid"),             // 3 controls
      (4L, "café naïve résumé"), // 4 accents, still clean
      (5L, "tab\tand\nnewline ok")                   // \t\n are NOT controls here
    ).toDF("doc_id", "text")
    val out = TextAnalysis.encodingStats(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5))).toMap
    assert(out(1L) == (16L, 0L, 0L, 0L, true), s"doc1: ${out(1L)}")
    assert(out(2L) == (17L, 3L, 0L, 3L, false), s"doc2: ${out(2L)}")
    assert(out(3L) == (10L, 0L, 3L, 0L, false), s"doc3: ${out(3L)}")
    assert(out(4L) == (17L, 0L, 0L, 4L, true), s"doc4: ${out(4L)}")
    assert(out(5L) == (18L, 0L, 0L, 0L, true), s"doc5: ${out(5L)}")
    val plan = TextAnalysis.encodingStats(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"encoding stats must be narrow:\n$plan")
  }

  test("line repetition: run-length fold matches hand counts, final run finalized") {
    import spark.implicits._
    val docs = Seq(
      // "dup" x3 (9 chars) + "solo" x1; the dup run is LAST in sorted
      // order only if > "solo" — use zz to pin the finish-lambda path
      (1L, "zz\nsolo\nzz\nzz"),
      (2L, "a\nb\nc"),                 // all distinct
      (3L, "same\nsame"),              // everything duplicated
      (4L, "x\n\n\nx")                 // empty lines duplicate too
    ).toDF("doc_id", "text")
    val out = TextAnalysis.lineRepetitionStats(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    assert(out(1L) == (4L, 2L, 3L, 6L, 10L), s"doc1: ${out(1L)}")
    assert(out(2L) == (3L, 3L, 0L, 0L, 3L), s"doc2: ${out(2L)}")
    assert(out(3L) == (2L, 1L, 2L, 8L, 8L), s"doc3: ${out(3L)}")
    assert(out(4L) == (4L, 2L, 4L, 2L, 2L), s"doc4: ${out(4L)}")
    val plan = TextAnalysis.lineRepetitionStats(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"line repetition must be narrow:\n$plan")
  }

  test("PII stats: Luhn separates valid cards from candidates; patterns count exactly") {
    import spark.implicits._
    val docs = Seq(
      (1L, "pay with 4111111111111111 now"),            // classic Luhn-valid visa
      (2L, "pay with 4111111111111112 now"),            // last digit off: invalid
      (3L, "amex 378282246310005 works"),               // 15-digit Luhn-valid
      (4L, "order 123456789012 is short"),              // 12 digits: not a candidate
      (5L, "mail a.b+c@ex.example from 10.0.0.1 call +44 201 555 0199"),
      (6L, "no pii here at all")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.piiStats(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getBoolean(6))).toMap
    assert(out(1L) == (0L, 0L, 0L, 1L, 1L, true), s"doc1: ${out(1L)}")
    assert(out(2L) == (0L, 0L, 0L, 1L, 0L, false), s"doc2: ${out(2L)}")
    assert(out(3L) == (0L, 0L, 0L, 1L, 1L, true), s"doc3: ${out(3L)}")
    assert(out(4L) == (0L, 0L, 0L, 0L, 0L, false), s"doc4: ${out(4L)}")
    assert(out(5L) == (1L, 1L, 1L, 0L, 0L, true), s"doc5: ${out(5L)}")
    assert(out(6L) == (0L, 0L, 0L, 0L, 0L, false), s"doc6: ${out(6L)}")
    val plan = TextAnalysis.piiStats(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"PII stats must be narrow:\n$plan")
  }

  test("DSIR weights: target==raw is identically zero; target-like docs outrank") {
    import spark.implicits._
    val raw = Seq(
      (1L, "alpha beta alpha beta", "x"),
      (2L, "gamma delta gamma delta", "y"),
      (3L, "alpha beta gamma delta", "x")
    ).toDF("doc_id", "text", "lang")
    // target == raw: every bucket ratio is 1, every log weight exactly 0
    val zero = Splits.dsirWeights(raw, raw).collect().map(_.getDouble(2))
    assert(zero.forall(_ == 0.0), s"self-weights must be 0: ${zero.toSeq}")
    // target = doc 1's vocabulary: doc 1 must outrank doc 2, doc 3 between
    val w = Splits.dsirWeights(raw, raw.filter(col("doc_id") === 1L))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(w(1L) > w(3L) && w(3L) > w(2L), s"ordering: $w")
    // the scoring pass is one narrow scan: no exchange, no explode-join
    val plan = Splits.dsirWeights(raw, raw).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"DSIR scoring must be narrow:\n$plan")
  }

  test("Gopher rules: each rule culls its planted violator; verdicts integer-exact") {
    import spark.implicits._
    val good = "the cat and dog have come to sit with all of that fine crew " +
      "here today because every word in this document is a normal one indeed"
    val docs = Seq(
      (1L, good),                                        // passes every rule
      (2L, "the of and that short"),                     // too few words
      (3L, good.replaceAll("\\b(cat|dog|sit|all|crew)\\b",
        "extraordinarily")),                             // still fine (len 3-10)
      (4L, good + " ### ## #"),                          // symbol-heavy
      (5L, ("- bullet line one\n" * 9) + good),          // >50% bullet lines
      (6L, ("trailing line...\n" * 9) + good),           // >30% ellipsis lines
      (7L, good + " " + (1 to 12).mkString(" ")),        // digit words kill alpha frac
      (8L, good.replace("the ", "xx ").replace("and ", "yy ")
        .replace("that ", "zz ").replace("have ", "qq ")
        .replace("with ", "rr ").replace("to ", "pp ").replace("of ", "oo "))
    ).toDF("doc_id", "text")
    val out = TextAnalysis.gopherRules(docs, minWords = 10, maxWords = 100,
        maxBulletLinePct = 50, minAlphaWordPct = 80)
      .collect().map(r => (r.getLong(0), r.getBoolean(9))).toMap
    assert(out == Map(1L -> true, 2L -> false, 3L -> true, 4L -> false,
      5L -> false, 6L -> false, 7L -> false, 8L -> false), s"verdicts: $out")
    // the planted 15-char words push doc 3's mean over a tight max bound
    val tight = TextAnalysis.gopherRules(docs.filter(col("doc_id") === 3L),
      minWords = 10, maxMeanWordLen = 4).collect()
    assert(!tight.head.getBoolean(9), "mean-word-length bound must fire")
    // entirely row-local: no exchange anywhere in the rules pass
    val plan = TextAnalysis.gopherRules(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"Gopher rules must be narrow:\n$plan")
  }

  test("incremental components equals full recompute: merges, chains, new nodes") {
    import spark.implicits._
    val base = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L)).toDF("doc_a", "doc_b")
    // delta merges comp{1,2,3} with comp{10,11}, attaches the brand-new
    // chain 30–31 to comp{20,21}, and hangs new node 40 off comp 1 —
    // existing-merge, new-subgraph, and new-leaf cases in one shot
    val delta = Seq((3L, 10L), (30L, 31L), (21L, 30L), (40L, 1L)).toDF("doc_a", "doc_b")
    def labels(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = labels(Dedup.components(base.unionAll(delta)))
    val inc = labels(Dedup.componentsIncremental(Dedup.components(base), delta))
    assert(inc == full, s"incremental $inc vs full $full")
    // untouched components keep their labels without any delta contact
    assert(inc.contains((20L, 20L)) && inc.contains((31L, 20L)))
    Dedup.uncacheAll()
  }

  test("streaming incremental components: multi-batch equals full recompute; replay idempotent", SlowTest) {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    import graft.streaming.ComponentsStream
    val dir = Files.createTempDirectory("ccstream").toString
    val base = Seq((1L, 2L), (10L, 11L), (20L, 21L)).toDF("doc_a", "doc_b")
    val store = new ComponentsStream.LabelStore(spark, Dedup.components(base))
    val in = MemoryStream[(Long, Long)](spark)
    val q = ComponentsStream.run(
      in.toDF().toDF("doc_a", "doc_b"), store, s"$dir/ckpt")
    def labels = store.current.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    try {
      // batch 1 merges two existing components; batch 2 attaches a new
      // chain to a third; arrival order is shuffled vs edge direction
      in.addData((3L, 1L), (2L, 10L))
      q.processAllAvailable()
      in.addData((21L, 30L), (30L, 31L))
      q.processAllAvailable()
      val all = base.unionAll(
        Seq((3L, 1L), (2L, 10L), (21L, 30L), (30L, 31L)).toDF("doc_a", "doc_b"))
      val full = Dedup.components(all).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(labels == full, s"streamed $labels vs full recompute $full")
    } finally q.stop()
    // at-least-once replay: re-merging already-reflected pairs is a no-op
    val before = labels
    ComponentsStream.sink(store)(
      Seq((21L, 30L), (30L, 31L)).toDF("doc_a", "doc_b"), 99L)
    assert(labels == before, "replayed batch must not change the fixpoint")
    // empty batch is a no-op and must not swap the table
    val tbl = store.current
    ComponentsStream.sink(store)(
      spark.emptyDataset[(Long, Long)].toDF("doc_a", "doc_b"), 100L)
    assert(store.current eq tbl, "empty batch must keep the same table")
    Dedup.uncacheAll()
  }

  test("streaming components: a rebuilt durable store restores the labels fixpoint", SlowTest) {
    import spark.implicits._
    import graft.streaming.ComponentsStream
    val dir = Files.createTempDirectory("ccdur").toString
    val base = Seq((1L, 2L), (10L, 11L)).toDF("doc_a", "doc_b")
    val store = new ComponentsStream.LabelStore(spark,
      Dedup.components(base), Some(dir))
    ComponentsStream.sink(store)(Seq((2L, 10L)).toDF("doc_a", "doc_b"), 0L)
    ComponentsStream.sink(store)(Seq((20L, 21L)).toDF("doc_a", "doc_b"), 1L)
    def labels(s: ComponentsStream.LabelStore) = s.current.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expect = labels(store)
    assert(expect.nonEmpty)
    // driver restart: the rebuilt store gets a COLD initial frame — the
    // snapshot must win, or downstream dedup silently resets while the
    // checkpoint marks batches 0..1 delivered
    val store2 = new ComponentsStream.LabelStore(spark,
      Seq.empty[(Long, Long)].toDF("doc_id", "component"), Some(dir))
    assert(labels(store2) == expect, "restored labels must equal pre-restart state")
    // checkpoint re-delivery after restart drops on the restored guard
    ComponentsStream.sink(store2)(Seq((20L, 21L)).toDF("doc_a", "doc_b"), 1L)
    assert(labels(store2) == expect)
    // the fixpoint continues: a post-restart edge merging two components
    ComponentsStream.sink(store2)(Seq((21L, 1L)).toDF("doc_a", "doc_b"), 2L)
    val full = Dedup.components(Seq((1L, 2L), (10L, 11L), (2L, 10L),
        (20L, 21L), (21L, 1L)).toDF("doc_a", "doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(labels(store2) == full,
      "post-restart merge must continue the accumulated fixpoint")
    Dedup.uncacheAll()
  }

  test("ingest dedup: a legacy upto= pair snapshot still restores post-migration") {
    import spark.implicits._
    import graft.streaming.{IngestDedupStream, SnapshotStore}
    val dir = Files.createTempDirectory("ingmig").toString
    // a deployment running the pre-delta-log build left a full `upto=`
    // snapshot; the delta-log restore must adopt it as the base instead
    // of silently restoring empty while the checkpoint marks batches
    // 0..41 delivered
    val legacy = Seq((1L, 2L, 0.9), (3L, 4L, 0.8))
      .toDF("doc_a", "doc_b", "jaccard")
    SnapshotStore.write(spark, s"$dir/pairs_snap", legacy, 41L)
    val store = new IngestDedupStream.IngestStore(spark, dir)
    val got = store.pairs.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L), (3L, 4L)),
      s"legacy snapshot must restore: $got")
    // and the guard resumed past the legacy id: replaying batch 41 drops
    assert(!store.merge(Seq((100L, "a b c")).toDF("doc_id", "text"), 41L))
  }

  test("streaming components: snapshotEvery gap restores from the pair-delta log", SlowTest) {
    import spark.implicits._
    import graft.streaming.ComponentsStream
    val dir = Files.createTempDirectory("ccgap").toString
    def cold = Seq.empty[(Long, Long)].toDF("doc_id", "component")
    val store = new ComponentsStream.LabelStore(spark, cold, Some(dir),
      snapshotEvery = 3)
    // cadence trace: batches 0,1 → pair deltas; 2 → full snapshot (prunes
    // ≤2); 3,4 → pair deltas. A restart must NOT lose 3,4 — the
    // checkpoint has committed them, so they never replay.
    val batches = Seq(Seq((1L, 2L)), Seq((2L, 3L)), Seq((10L, 11L)),
      Seq((3L, 10L)), Seq((20L, 21L)))
    batches.zipWithIndex.foreach { case (b, i) =>
      ComponentsStream.sink(store)(b.toDF("doc_a", "doc_b"), i.toLong)
    }
    def labels(s: ComponentsStream.LabelStore) = s.current.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expect = labels(store)
    val store2 = new ComponentsStream.LabelStore(spark, cold, Some(dir),
      snapshotEvery = 3)
    assert(labels(store2) == expect,
      "restore must fold the post-snapshot pair deltas back in")
    // and the restored state IS the batch fixpoint over every delivered pair
    val full = Dedup.components(batches.flatten.toDF("doc_a", "doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(labels(store2) == full)
    // re-delivery of the newest delta'd batch drops on the restored guard
    ComponentsStream.sink(store2)(batches(4).toDF("doc_a", "doc_b"), 4L)
    assert(labels(store2) == expect)
    Dedup.uncacheAll()
  }

  test("cdc stream: snapshotEvery gap restores from the argmax delta log", SlowTest) {
    import spark.implicits._
    import graft.streaming.CdcStream
    val dir = Files.createTempDirectory("cdcgap").toString
    val keys = Seq("user_id", "event_type")
    val order = Seq("ts_us", "event_id")
    val payload = Seq("value")
    def df(s: Seq[(Long, String, Long, Long, Double)]) =
      s.toDF("user_id", "event_type", "ts_us", "event_id", "value")
    def emptyInit = CdcStream.compact(
      df(Seq.empty[(Long, String, Long, Long, Double)]), keys, order, payload)
    def flat(d: org.apache.spark.sql.DataFrame) = d
      .select(col("user_id"), col("event_type"), col("last.ts_us"),
        col("last.event_id"), col("last.value"))
      .collect().map(_.toSeq).toSet
    val store = new CdcStream.CompactStore(spark, keys, emptyInit,
      durable = Some(dir), snapshotEvery = 4)
    // batch 0 full-snapshots (cold store), 1..3 write deltas only; the
    // newest values for BOTH keys live exclusively in the delta log
    val batches = Seq(
      Seq((1L, "a", 100L, 7L, 1.0), (2L, "a", 50L, 1L, 4.0)),
      Seq((1L, "a", 150L, 2L, 8.0)),
      Seq((2L, "a", 90L, 5L, 6.0)),
      Seq((1L, "a", 160L, 4L, 3.0)))
    batches.zipWithIndex.foreach { case (b, i) =>
      store.merge(CdcStream.compact(df(b), keys, order, payload), i.toLong)
    }
    val expect = flat(store.current)
    val store2 = CdcStream.CompactStore.restore(spark, dir, keys, emptyInit,
      snapshotEvery = 4)
    assert(flat(store2.current) == expect,
      "restore must fold the post-snapshot argmax deltas back in")
    assert(flat(store2.current) ==
      flat(CdcStream.compact(df(batches.flatten), keys, order, payload)))
  }

  test("streaming perceptual dedup: multi-batch equals batch registry; replay guarded") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    import graft.streaming.PhashStream
    import graft.operators.Multimodal
    val dir = Files.createTempDirectory("phstream").toString
    val store = new PhashStream.HashGroupStore(spark, PhashStream.emptyGroups(spark))
    val in = MemoryStream[Long](spark)
    val q = PhashStream.run(
      Multimodal.synthesizeGradientPayloads(in.toDF().toDF("doc_id")),
      store, s"$dir/ckpt")
    def groups = store.current.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    try {
      // batch 1 includes a corrupt payload (id 10) that must be excluded;
      // batch 2 adds byte-distinct but hash-equal dups of batch-1 content
      in.addData(1L to 10L: _*)
      q.processAllAvailable()
      in.addData(11L to 19L: _*)
      q.processAllAvailable()
      val expected = Multimodal.imageAHash(
          Multimodal.synthesizeGradientPayloads(
            spark.range(1, 20).toDF("doc_id")))
        .filter(col("ahash_hi") >= 0)
        .groupBy(col("ahash_hi"), col("ahash_lo"))
        .agg(min(col("doc_id")).as("rep_id"), count(lit(1)).as("n_dups"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(groups == expected, s"streamed $groups vs batch registry $expected")
    } finally q.stop()
    // at-least-once replay: a re-delivered batch id must not double-count
    val before = groups
    PhashStream.sink(store)(
      Multimodal.synthesizeGradientPayloads(Seq(11L, 12L).toDF("doc_id")), 0L)
    assert(groups == before, "replayed batch must not change the registry")
    // an all-corrupt batch is a no-op and must not swap the table
    val tbl = store.current
    PhashStream.sink(store)(
      Multimodal.synthesizeGradientPayloads(Seq(20L).toDF("doc_id")), 999L)
    assert(store.current eq tbl, "all-corrupt batch must keep the same table")
  }

  test("streaming decontamination: multi-batch equals batch operator; replay guarded") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    import graft.streaming.ContaminationStream
    val dir = Files.createTempDirectory("decontstream").toString
    val evalDocs = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"),
      (200L, "pack my box with five dozen liquor jugs")).toDF("doc_id", "text")
    val store = new ContaminationStream.PairStore(
      spark, ContaminationStream.emptyPairs(spark))
    val in = MemoryStream[(Long, String)](spark)
    val q = ContaminationStream.run(
      in.toDF().toDF("doc_id", "text"), evalDocs, store, s"$dir/ckpt")
    def pairs = store.current.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch1 = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"), // near-dup of 100
      (2L, "completely unrelated text about distributed engines and planning"))
    val batch2 = Seq(
      (3L, "pack my box with five dozen liquor jugs"),           // exact dup of 200
      (4L, "another unrelated training document with novel words entirely"))
    try {
      in.addData(batch1: _*)
      q.processAllAvailable()
      in.addData(batch2: _*)
      q.processAllAvailable()
      val expected = Dedup.crossJaccardPairs(
          (batch1 ++ batch2).toDF("doc_id", "text"), evalDocs)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(pairs == expected, s"streamed $pairs vs batch operator $expected")
      assert(pairs.map(_._1) == Set(1L, 3L), "exactly the planted dups flag")
    } finally q.stop()
    // at-least-once replay: a re-delivered batch id must not duplicate rows
    val before = pairs
    ContaminationStream.sink(store, evalDocs)(batch2.toDF("doc_id", "text"), 0L)
    assert(pairs == before, "replayed batch must not change the pair table")
    // a clean batch flags nothing and must not swap the table
    val tbl = store.current
    ContaminationStream.sink(store, evalDocs)(
      Seq((5L, "nothing shared with any held out document at all")).toDF("doc_id", "text"), 999L)
    assert(store.current eq tbl, "clean batch must keep the same table")
    Dedup.uncacheAll()
  }

  test("connected components: chains, cliques, isolated pairs label to the min id") {
    import spark.implicits._
    // a 4-chain (diameter 3 — needs multiple propagation rounds), an
    // isolated pair, and a triangle clique
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
        (20L, 21L), (20L, 22L), (21L, 22L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.components(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L), s"got $got")
    Dedup.uncacheAll()
  }

  test("binned range join equals the naive theta join (bin edges, ties)") {
    // pseudo-times with collisions and exact-boundary deltas: (i·7919) mod
    // 1000 over 400 ids guarantees equal timestamps and pairs exactly at
    // the window edge — the cases where the bin replication could double-
    // count or drop
    val df = spark.range(0, 400).select(
      col("id").as("eid"), ((col("id") * 7919) % 1000).as("us"))
    val binned = Temporal.pairsWithin(df, "us", 100L, Seq("eid"))
      .select(col("a_eid"), col("b_eid"))
    val naive = df.as("a").join(df.as("b"),
        col("b.us") > col("a.us") && col("b.us") <= col("a.us") + 100L)
      .select(col("a.eid").as("a_eid"), col("b.eid").as("b_eid"))
    assert(binned.count() == naive.count(), "pair cardinality differs")
    // pre-epoch (negative) timestamps: truncating division would break the
    // bin-adjacency invariant here and silently drop qualifying pairs
    val neg = spark.range(0, 400).select(
      col("id").as("eid"), (((col("id") * 7919) % 1000) - 500).as("us"))
    val negBinned = Temporal.pairsWithin(neg, "us", 100L, Seq("eid"))
    val negNaive = neg.as("a").join(neg.as("b"),
        col("b.us") > col("a.us") && col("b.us") <= col("a.us") + 100L)
    assert(negBinned.count() == negNaive.count(),
      "negative-timestamp pair cardinality differs")
    assert(binned.except(naive).isEmpty && naive.except(binned).isEmpty,
      "pair sets differ")
  }

  test("markup strip: tags out, entities decode single-pass, whitespace collapsed") {
    import spark.implicits._
    val rows = Seq(
      (1L, "<a href=\"x\">link</a> text"),
      (2L, "a &amp; b &lt;tag&gt;"),
      (3L, "plain   text\twith\nspace"),
      (4L, "<br/><br/>"),
      (5L, "&amp;amp;"),
      (6L, "&amp;lt;script&amp;gt;")).toDF("doc_id", "text")
    val got = TextAnalysis.stripMarkup(rows).orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (1L, "link text", 2L, 0L),
      (2L, "a & b <tag>", 0L, 3L),
      (3L, "plain text with space", 0L, 0L),
      (4L, "", 2L, 0L),
      // single-pass, non-recursive decode: "&amp;amp;" → "&amp;" and STOPS —
      // recursive decoding is an injection hazard (crafted text smuggling
      // markup through the stripper), so one pass is the contract
      (5L, "&amp;", 0L, 1L),
      // the cascade case the contract exists for: &amp; decodes LAST, so
      // double-encoded "&amp;lt;" yields the literal text "&lt;" — never
      // "<", which would re-introduce markup after tag stripping
      (6L, "&lt;script&gt;", 0L, 2L)))
  }

  test("gram novelty: planted boilerplate mass, fully-novel doc, short-doc exclusion") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "a b c d e"),                  // 3 shingles, all duplicated by doc 2
      (2L, "a b c d e"),                  // exact dup → shared_frac 1.0 both
      (3L, "x y z w a b c"),              // 5 shingles, only "a b c" shared → 1/5
      (4L, "p q"),                        // < n tokens → no row
      (5L, "u v w2 x2 y2")                // all df = 1 → fully novel, 0.0
    ).toDF("doc_id", "text")
    val got = TextAnalysis.gramNovelty(corpus).orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq(
      (1L, 3L, 3L, 1.0), (2L, 3L, 3L, 1.0),
      (3L, 5L, 1L, 1.0 / 5.0), (5L, 3L, 0L, 0.0)))
  }

  test("ccnet buckets: coverage, strict cross-bucket score ordering, ~n/3 balance") {
    import spark.implicits._
    val out = TextAnalysis.ccnetBuckets(docs).cache()
    // one row per scoreable doc (>= 2 tokens — the lmScore convention)
    val scoreable = docs.filter(size(split(lower(col("text")), " ")) >= 2).count()
    assert(out.count() == scoreable && out.select("doc_id").distinct().count() == scoreable)
    // the bucket rule is a partition by two thresholds: every tail score
    // <= t_low < every middle score, every middle <= t_high < every head —
    // so cross-bucket score ranges must be STRICTLY ordered per language
    val ranges = out.groupBy(col("lang"), col("bucket"))
      .agg(min(col("mean_logp")).as("lo"), max(col("mean_logp")).as("hi"), count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getDouble(2), r.getDouble(3), r.getLong(4))).toMap
    val langs = out.select("lang").distinct().as[String].collect()
    langs.foreach { l =>
      for (Seq(loB, hiB) <- Seq("tail", "middle", "head").sliding(2))
        (ranges.get((l, loB)), ranges.get((l, hiB))) match {
          case (Some((_, hiOfLower, _)), Some((loOfUpper, _, _))) =>
            assert(hiOfLower < loOfUpper,
              s"$l: max($loB)=$hiOfLower !< min($hiB)=$loOfUpper")
          case _ => // a bucket may be empty only under heavy ties; checked below
        }
      // rank-exact thresholds on (essentially) distinct natural-text scores
      // ⇒ each bucket holds n/3 ± rounding; allow ±2 for boundary ties
      val n = Seq("tail", "middle", "head").flatMap(b => ranges.get((l, b)).map(_._3)).sum
      val nDistinct = out.filter(col("lang") === l)
        .select("mean_logp").distinct().count()
      if (nDistinct == n) // no ties: the balance property must hold exactly-ish
        Seq("tail", "middle", "head").foreach { b =>
          val c = ranges.get((l, b)).map(_._3).getOrElse(0L)
          assert(math.abs(c - n / 3.0) <= 2.0, s"$l/$b: $c of $n not ~n/3")
        }
    }
    out.unpersist()
  }

  test("fixture tripwire: events.ts physical unit is handled by the type-driven seam") {
    // The driver regenerates /root/testdata fixtures between rounds and has
    // ALREADY changed events.ts's physical unit once (timestamp[ns] →
    // timestamp[us], round 8 — broke 9 registry rows silently because the
    // suite never read the fixture ts). This test reads the REAL fixture
    // footer-driven schema and pins two things so the next unit drift fails
    // loudly here instead of silently in CORRECTNESS:
    //  1. the arriving Spark type is one Temporal.microsOf handles
    //     (TimestampType for ms/us parquet, LongType for the nanosAsLong
    //     legacy ns read) — anything else throws;
    //  2. the extracted epoch-micros land in a sane wall-clock range
    //     [2000-01-01, 2100-01-01] — catches a drift that still type-checks
    //     but changes magnitude (e.g. raw int64 millis would type as
    //     LongType, divide to epoch-seconds, and fail this band).
    import org.apache.spark.sql.types.{LongType, TimestampType, TimestampNTZType}
    val raw = spark.read.parquet(s"$sf/events.parquet")
    val tsType = raw.schema("ts").dataType
    assert(
      tsType == TimestampType || tsType == TimestampNTZType || tsType == LongType,
      s"events.ts arrived as $tsType — Temporal.microsOf has no rule for it; " +
        "the fixture's physical timestamp unit drifted again (see FIXTURES.md)")
    val ev = Temporal.eventsMicros(spark, sf)
    val mm = ev.agg(min(col("ts_us")), max(col("ts_us"))).head()
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    val y2000Us = 946684800000000L   // 2000-01-01T00:00:00Z in epoch-micros
    val y2100Us = 4102444800000000L  // 2100-01-01T00:00:00Z
    assert(lo >= y2000Us && hi < y2100Us,
      s"ts_us out of sane band [$y2000Us, $y2100Us): min=$lo max=$hi — " +
        "extraction divisor no longer matches the fixture's physical unit")
    // and the LongType branch itself stays correct: a synthetic raw-nanos
    // column must extract to the same micros as the fixture path
    val synth = ev.select((col("ts_us") * 1000L).as("ts_ns"), col("ts_us"))
    assert(synth.filter(
      Temporal.microsOf(synth.select(col("ts_ns")), "ts_ns") =!= col("ts_us")
    ).isEmpty, "LongType (raw nanos) branch of microsOf diverged")
  }

  test("semDedup: k=1 equals brute pairs; tau boundary; keep-lowest-id; row per input") {
    import spark.implicits._
    // Planted geometry (tau = 0.9): id 1 is a scaled exact duplicate of
    // id 0 (cosine 1.0), id 2 a near-dup above tau (≈0.995), id 3 BELOW
    // tau vs everything (≈0.7071 to cluster A) — the boundary case; ids
    // 10/11 scaled exact dups in an orthogonal direction; id 20 alone.
    val rows = Seq(
      (0L,  Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L,  Array(2.0f, 0.0f, 0.0f, 0.0f)),          // cos(0,1)=1.0  → dup_of 0
      (2L,  Array(1.0f, 0.1f, 0.0f, 0.0f)),          // cos≈0.995     → dup_of 0
      (3L,  Array(1.0f, 1.0f, 0.0f, 0.0f)),          // cos≈0.7071 < tau, keep
      (10L, Array(0.0f, 0.0f, 1.0f, 0.0f)),
      (11L, Array(0.0f, 0.0f, 3.0f, 0.0f)),          // cos(10,11)=1.0 → dup_of 10
      (20L, Array(0.0f, 0.0f, 0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    // k=1 DEGENERATES to nearDupPairs semantics (one cell = all pairs
    // compared): verdicts are fully determined by the brute-force oracle,
    // independent of the Lloyd's init
    val k1 = Similarity.semDedup(rows, k = 1, iters = 1, tau = 0.9)
    assert(k1.count() == 7 && k1.select("vec_id").distinct().count() == 7,
      "one row per input vector")
    val byId = k1.collect().map(r =>
      r.getLong(0) -> (r.getBoolean(2), Option(r.get(3)).map(_.asInstanceOf[Long]))).toMap
    assert(byId(0L) == ((true, None)), "lowest id of a dup group must keep")
    assert(byId(1L) == ((false, Some(0L))), "exact dup points at lowest id")
    assert(byId(2L) == ((false, Some(0L))), "near-dup above tau points at lowest id")
    assert(byId(3L)._1, "below-tau row must keep (tau boundary)")
    assert(byId(10L) == ((true, None)) && byId(11L) == ((false, Some(10L))))
    assert(byId(20L)._1, "orthogonal singleton keeps")
    val brute = Similarity.nearDupPairs(rows, tau = 0.9)
      .groupBy(col("id_b").as("vec_id")).agg(min(col("id_a")).as("oracle_dup"))
    assert(k1.join(brute, Seq("vec_id"), "left").filter(
      coalesce(col("dup_of"), lit(-1L)) =!= coalesce(col("oracle_dup"), lit(-1L))
    ).isEmpty, "k=1 semDedup dup_of diverges from brute-force pair oracle")
    // k=3: clustering may place near-dups across cells (that recall loss is
    // the documented contract — k must scale with N, not with cluster
    // tightness), but invariants that hold for ANY cell assignment:
    //  - still one row per input;
    //  - IDENTICAL-direction vectors always share a cell (argmax over the
    //    same similarity vector) → scaled exact dups are always caught;
    //  - every emitted dup_of is a genuine >= tau lower-id brute pair
    //    (cell bounding can only SHRINK the pair set, never invent pairs).
    val k3 = Similarity.semDedup(rows, k = 3, iters = 4, tau = 0.9)
    assert(k3.count() == 7 && k3.select("vec_id").distinct().count() == 7)
    val k3ById = k3.collect().map(r =>
      r.getLong(0) -> (r.getBoolean(2), Option(r.get(3)).map(_.asInstanceOf[Long]))).toMap
    assert(!k3ById(1L)._1 && k3ById(1L)._2.contains(0L), "scaled dup caught at k=3")
    assert(!k3ById(11L)._1 && k3ById(11L)._2.contains(10L), "scaled dup caught at k=3")
    val bruteAll = Similarity.nearDupPairs(rows, tau = 0.9)
      .select(col("id_b").as("vec_id"), col("id_a").as("dup_of"))
    assert(k3.filter(col("dup_of").isNotNull)
      .join(bruteAll, Seq("vec_id", "dup_of"), "left_anti").isEmpty,
      "k=3 emitted a dup_of pair the brute-force oracle does not contain")
  }

  test("semantic best-rep: cluster keeps the highest-quality aligned doc, not the lowest id") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // ids 1/2 are scaled exact dups (one semantic cluster); 3 orthogonal
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(3.0f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    // aligned docs: id 2's text scores strictly higher quality (longer,
    // all-alpha) than id 1's (short, symbol-heavy)
    val docs = Seq(
      (1L, "x@# 1!"),
      (2L, "a perfectly ordinary long clean sentence of plain words"),
      (3L, "whatever")).toDF("doc_id", "text")
    val sem = Similarity.semDedup(emb, k = 1, iters = 1, tau = 0.9)
    val pairs = sem.filter(col("dup_of").isNotNull)
      .select(col("dup_of").as("doc_a"), col("vec_id").as("doc_b"))
    val comp = Dedup.components(pairs)
    val q = TextAnalysis.qualityScore(docs).select(col("doc_id"), col("quality_score"))
    val reps = comp.join(q, Seq("doc_id"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("component"))
          .orderBy(col("quality_score").desc, col("doc_id"))))
      .filter(col("rn") === 1)
      .select(col("component"), col("doc_id").as("rep_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // one dup cluster {1,2}, labeled by min id 1 — but the REP is doc 2
    // (quality argmax), exactly the policy difference vs keep-lowest-id
    assert(reps.toSeq == Seq((1L, 2L)), s"got ${reps.toSeq}")
    Dedup.uncacheAll()
  }

  test("semantic contamination: scaled twin flags across the split; cell bounds the scan") {
    import spark.implicits._
    val train = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 0.0)),
      (2L, Seq(0.9, 0.1, 0.0, 0.0)),
      (3L, Seq(0.0, 0.0, 1.0, 0.0)),
      (4L, Seq(0.0, 0.0, 0.9, 0.1))).toDF("vec_id", "embedding")
    val evalSide = Seq(
      (100L, Seq(2.0, 0.0, 0.0, 0.0)), // scaled copy of train 1 (cosine 1.0)
      (101L, Seq(0.0, 1.0, 0.0, 0.0)), // near nothing at tau 0.9
      (102L, Seq(0.0, 0.0, 1.0, 0.0))).toDF("vec_id", "embedding") // = train 3
    // literal quantizer: cell 0 along dim 0, cell 1 along dim 2
    val cents = Seq(
      (0L, Seq(1.0, 0.0, 0.0, 0.0), 1.0),
      (1L, Seq(0.0, 0.0, 1.0, 0.0), 1.0)).toDF("cid", "cv", "cnrm")
    val byId = Similarity.semanticContamination(train, evalSide, cents, tau = 0.9)
      .select(col("vec_id"), col("cell").cast("long").as("cell"),
        col("contaminated"), col("train_match"), col("max_cosine"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(byId.keySet == Set(100L, 101L, 102L),
      "one row per eval vector, nothing dropped")
    // the scaled paraphrase twin: byte-different, shingle-different,
    // cosine-identical — flagged, naming the SMALLEST qualifying train id
    // (train 2 also clears tau at 0.9939, so the min rule matters)
    assert(byId(100L).getBoolean(2) && byId(100L).getLong(3) == 1L &&
      byId(100L).getDouble(4) == 1.0, s"${byId(100L)}")
    assert(byId(102L).getBoolean(2) && byId(102L).getLong(3) == 3L &&
      byId(102L).getDouble(4) == 1.0, s"${byId(102L)}")
    // clean rows report null match/null cosine, never a fake zero
    assert(!byId(101L).getBoolean(2) && byId(101L).isNullAt(3) &&
      byId(101L).isNullAt(4), s"${byId(101L)}")
    // cell bounding is the contract: 102 lives in cell 1, 100/101 in
    // cell 0 (101 ties 0.0/0.0 → smallest cell id, the rfin tie rule)
    assert(byId(102L).getLong(1) == 1L && byId(100L).getLong(1) == 0L &&
      byId(101L).getLong(1) == 0L)
    // and the PLAN is the celled shape, not the brute one it replaces:
    // the only pair join is the cell-keyed equi-join — no cartesian
    val plan = Similarity.semanticContamination(train, evalSide, cents, tau = 0.9)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"semantic contamination must never θ-join eval×train:\n$plan")
  }

  test("custom-state streaming sessionize: gap, cap, and watermark-timeout closes") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.SessionizeStream
    import graft.streaming.SessionizeStream.{Event, Session}
    import spark.implicits._
    // nonzero base: the initial watermark is epoch 0, and an event AT the
    // watermark is dropped as late — t=0 events never reach the operator
    val base = 100000L
    def ev(user: Long, sec: Long) = Event(user, new Timestamp((base + sec) * 1000L))
    def usOf(sec: Long) = (base + sec) * 1000000L
    val in = MemoryStream[Event](spark)
    // gap 60 s, zero allowed lateness: the watermark is simply the max
    // event time of completed batches, which makes timeout firing exact
    val out = SessionizeStream.sessions(
      in.toDS(), gapUs = 60L * 1000000L, watermarkDelay = "0 seconds")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("sessions_out").start()
    try {
      // batch 1: in-batch gap proof (10 → 100 jumps the 60 s gap)
      in.addData(ev(1, 0), ev(1, 10), ev(1, 100))
      q.processAllAvailable()
      // batch 2: 300 − 100 > gap closes the open session
      in.addData(ev(1, 300))
      q.processAllAvailable()
      // batch 3 advances the watermark to 1000 via another key; batch 4
      // (any data) then evaluates user 1's event-time timeout (300+gap<1000)
      in.addData(ev(2, 1000))
      q.processAllAvailable()
      in.addData(ev(2, 1001))
      q.processAllAvailable()
      val got = spark.table("sessions_out").as[Session].collect()
        .map(s => (s.user_id, s.session_start_us, s.session_end_us, s.n_events, s.closed_by))
        .toSet
      assert(got == Set(
        (1L, usOf(0), usOf(10), 2L, "gap"),
        (1L, usOf(100), usOf(100), 1L, "gap"),
        (1L, usOf(300), usOf(300), 1L, "timeout")),
        s"unexpected sessions: $got")
    } finally q.stop()
    // the size cap — the policy the built-in session_window cannot express:
    // 4 in-gap events with maxEvents = 2 split into two sessions
    val in2 = MemoryStream[Event](spark)
    val out2 = SessionizeStream.sessions(
      in2.toDS(), gapUs = 60L * 1000000L, watermarkDelay = "0 seconds", maxEvents = 2)
    val q2 = out2.writeStream.outputMode("append")
      .format("memory").queryName("sessions_cap_out").start()
    try {
      in2.addData(ev(9, 0), ev(9, 1), ev(9, 2), ev(9, 3))
      q2.processAllAvailable()
      val got = spark.table("sessions_cap_out").as[Session].collect()
        .map(s => (s.session_start_us, s.session_end_us, s.n_events, s.closed_by)).toSet
      assert(got == Set((usOf(0), usOf(1), 2L, "cap")), s"unexpected cap split: $got")
    } finally q2.stop()
  }

  test("streaming sessionize: a late within-gap event never breaches the cap") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.SessionizeStream
    import graft.streaming.SessionizeStream.{Event, Session}
    import spark.implicits._
    val base = 200000L
    def ev(user: Long, sec: Long) = Event(user, new Timestamp((base + sec) * 1000L))
    def usOf(sec: Long) = (base + sec) * 1000000L
    val in = MemoryStream[Event](spark)
    val out = SessionizeStream.sessions(
      in.toDS(), gapUs = 60L * 1000000L, watermarkDelay = "10 minutes", maxEvents = 2)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("sessions_late_out").start()
    try {
      in.addData(ev(1, 100), ev(1, 110)) // open session already AT the cap
      q.processAllAvailable()
      in.addData(ev(1, 50)) // late but within watermark AND within gap of 100
      q.processAllAvailable()
      in.addData(ev(2, 5000)) // advance the watermark...
      q.processAllAvailable()
      in.addData(ev(2, 5001)) // ...then evaluate user 1's timeout
      q.processAllAvailable()
      val got = spark.table("sessions_late_out").as[Session].collect()
        .filter(_.user_id == 1L)
        .map(s => (s.session_start_us, s.session_end_us, s.n_events, s.closed_by)).toSet
      // the HARD invariant the round-4 guard missed: merging the late event
      // with the at-cap state interval would have emitted n_events = 3
      assert(got.forall(_._3 <= 2), s"cap breached: $got")
      assert(got == Set(
        (usOf(50), usOf(50), 1L, "cap"),
        (usOf(100), usOf(110), 2L, "timeout")), s"unexpected sessions: $got")
    } finally q.stop()
  }

  test("BPE encode applies trained merges row-locally and round-trips with training") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val corpus = Seq((1L, "a b a b x"), (2L, "a b c a b"), (3L, "b a c"))
      .toDF("doc_id", "text")
    val vocab = TextAnalysis.bpeVocab(corpus, merges = 2)
      .orderBy("merge_round").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    // round 1 learns the hand-countable top pair (a, b) × 4
    assert(vocab(0) == ((1L, "a", "b", 4L)), s"got ${vocab(0)}")
    val enc1 = TextAnalysis.bpeEncode(corpus, Seq((vocab(0)._2, vocab(0)._3)))
    val got = enc1.orderBy("doc_id", "pos").collect()
      .map(r => (r.getLong(0), r.getString(2))).toSeq
    assert(got == Seq(
      (1L, "a b"), (1L, "a b"), (1L, "x"),
      (2L, "a b"), (2L, "c"), (2L, "a b"),
      (3L, "b"), (3L, "a"), (3L, "c")), s"got $got")
    // token ids = alphabetical dense rank over the output vocabulary
    val ids = enc1.select("token", "token_id").distinct().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ids == Map("a" -> 1L, "a b" -> 2L, "b" -> 3L, "c" -> 4L, "x" -> 5L), s"got $ids")
    // ROUND-TRIP with training: encoding with round 1's vocabulary
    // reproduces the training loop's corpus state entering round 2, so the
    // adjacent-pair argmax over the encoded stream must equal the round-2
    // merge the trainer learned (count DESC, then lexicographic)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val top = enc1.withColumn("nxt", lead(col("token"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .groupBy(col("token"), col("nxt")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"), col("nxt")).limit(1)
      .collect()(0)
    assert((top.getString(0), top.getString(1), top.getLong(2)) ==
      ((vocab(1)._2, vocab(1)._3, vocab(1)._4)),
      s"round-2 merge ${vocab(1)} != encoded-stream argmax $top")
  }

  test("sampled BPE: sampleFrac=1 reproduces full training; fraction trains on the md5 sample") {
    import spark.implicits._
    val corpus = (0L until 60L)
      .map(i => (i, s"tok${i % 5} tok${(i + 1) % 5} tok${i % 3} tok${(i + 2) % 7}"))
      .toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("merge_round").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    // degenerate sample keeps every row → bit-identical to full training
    assert(rows(TextAnalysis.bpeVocabSampled(corpus, merges = 3, sampleFrac = 1.0)) ==
      rows(TextAnalysis.bpeVocab(corpus, merges = 3)))
    // a real fraction trains on EXACTLY the md5-bucket sample: manually
    // filtering with the same Splits threshold must reproduce it
    val manual = corpus.filter(
      substring(md5(col("doc_id").cast("string")), 1, 2) < lit("80"))
    assert(rows(TextAnalysis.bpeVocabSampled(corpus, merges = 3, sampleFrac = 0.5)) ==
      rows(TextAnalysis.bpeVocab(manual, merges = 3)))
  }

  test("guards fail loudly: BPE delimiter text, asofJoin payload collisions") {
    import spark.implicits._
    // corpus text carrying a literal ⟨/⟩ would silently corrupt the
    // delimited segmentation — the plan must raise instead
    val bad = Seq((1L, "a ⟨evil⟩ b")).toDF("doc_id", "text")
    val ex = intercept[Exception] {
      TextAnalysis.bpeEncode(bad, Seq(("a", "b"))).collect()
    }
    assert(ex.getMessage != null || ex.getCause != null) // raised, not corrupted
    val ex2 = intercept[Exception] {
      TextAnalysis.bpeVocab(bad, merges = 1).collect()
    }
    assert(ex2 != null)
    // asofJoin: duplicate payload names and reserved-name collisions are
    // rejected up front (ambiguous asof_* output columns otherwise)
    val l = Seq((1L, 10L, 100L)).toDF("k", "ts", "lid")
    val r = Seq((1L, 5L, 200L, 1.0)).toDF("k", "ts", "rid2", "price").withColumn("rid", lit(7L))
    intercept[IllegalArgumentException] {
      Temporal.asofJoin(l, r, "k", "ts", "lid", "rid2", payload = Seq("rid", "rid"))
    }
    intercept[IllegalArgumentException] {
      Temporal.asofJoin(l, r, "k", "ts", "lid", "rid2", payload = Seq("rid"))
    }
  }

  test("forward asofJoin: earliest at-or-after match, smallest-rid ties, one exchange") {
    import spark.implicits._
    val left = Seq((1L, 5L, 100L), (1L, 20L, 101L), (1L, 30L, 102L),
      (2L, 10L, 103L)).toDF("k", "t", "lid")
    // k=1: rights at 10, 20 (two rids: tie), 25; k=2 has only an EARLIER
    // right — forward must leave it unmatched
    val right = Seq((1L, 10L, 7L), (1L, 20L, 8L), (1L, 20L, 88L), (1L, 25L, 9L),
      (2L, 5L, 50L)).toDF("k", "t", "rid")
    val out = Temporal.asofJoin(left, right, "k", "t", "lid", "rid",
        direction = "forward")
      .collect().map(r => r.getLong(1) ->
        (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    assert(out == Map(100L -> Some(7L),  // t=5 → earliest later right t=10
      101L -> Some(8L),                  // t=20 → equal-ts right, SMALLEST rid
      102L -> None,                      // t=30 → nothing at-or-after
      103L -> None),                     // k=2's right is earlier
      s"forward matches: $out")
    // mirrored sweep, same scale contract: no join node, ONE exchange
    val plan = Temporal.asofJoin(left, right, "k", "t", "lid", "rid",
        direction = "forward")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"forward asofJoin must not plan a join:\n$plan")
    val nEx = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(nEx == 1, s"forward asofJoin must shuffle exactly once, found $nEx:\n$plan")
    intercept[IllegalArgumentException] {
      Temporal.asofJoin(left, right, "k", "t", "lid", "rid", direction = "sideways")
    }
  }

  test("asofJoin and sessionizeCapped plan ONE data exchange (no join node)") {
    import spark.implicits._
    val left = Seq((1L, 100L, 10L), (2L, 90L, 20L)).toDF("k", "t", "lid")
    val right = Seq((1L, 50L, 7L), (2L, 95L, 9L)).toDF("k", "t", "rid")
    // the union-and-sweep rewrite's whole point: an as-of match with NO
    // join operator — one hash exchange on the key feeds the sweep window
    val asofPlan = Temporal.asofJoin(left, right, "k", "t", "lid", "rid")
      .queryExecution.executedPlan.toString
    assert(!asofPlan.contains("Join"), s"asofJoin must not plan a join:\n$asofPlan")
    val asofEx = "Exchange hashpartitioning".r.findAllIn(asofPlan).size
    assert(asofEx == 1, s"asofJoin must shuffle exactly once, found $asofEx:\n$asofPlan")
    // payload carry-through rides the SAME single sweep: still no join
    // node, still one exchange — and the matched row's id/time/payload move
    // atomically (a NULL payload on the matched row is carried as NULL,
    // never skipped past to an older row's non-null value)
    val rightP = Seq((1L, 50L, 7L, Option(2.5)), (1L, 60L, 8L, Option.empty[Double]),
      (2L, 95L, 9L, Option(1.0))).toDF("k", "t", "rid", "price")
    val pj = Temporal.asofJoin(left, rightP, "k", "t", "lid", "rid",
      payload = Seq("price"))
    val pPlan = pj.queryExecution.executedPlan.toString
    assert(!pPlan.contains("Join"), s"payload asofJoin must not plan a join:\n$pPlan")
    val pEx = "Exchange hashpartitioning".r.findAllIn(pPlan).size
    assert(pEx == 1, s"payload asofJoin must shuffle exactly once, found $pEx:\n$pPlan")
    val m = pj.collect().map(r => r.getLong(1) ->
      ((if (r.isNullAt(3)) None else Some(r.getLong(3)),
        if (r.isNullAt(5)) None else Some(r.getDouble(5))))).toMap
    assert(m(10L) == ((Some(8L), None)), // matched rid=8's NULL price, not rid=7's 2.5
      s"payload must be the matched row's value, got ${m(10L)}")
    assert(m(20L) == ((None, None)), // k=2's only right row is later: left-join nulls
      s"unmatched left row must carry nulls, got ${m(20L)}")
    // gap flag, row number, running max, AND the final aggregation all ride
    // the same (key) partitioning — the cap costs no second exchange
    val ev = Seq((1L, 10L, 1L), (1L, 20L, 2L), (1L, 4000000000L, 3L))
      .toDF("user_id", "ts_us", "event_id")
    val capPlan = Temporal.sessionizeCapped(ev, "user_id", "ts_us", "event_id",
        gapMicros = 1000000L, maxEvents = 2L)
      .queryExecution.executedPlan.toString
    val capEx = "Exchange hashpartitioning".r.findAllIn(capPlan).size
    assert(capEx == 1, s"sessionizeCapped must shuffle exactly once, found $capEx:\n$capPlan")
  }

  test("gap+cap policy: streaming sessionize equals the batch operator on the same events") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.SessionizeStream
    import graft.streaming.SessionizeStream.{Event, Session}
    import spark.implicits._
    val base = 100000L
    def ev(user: Long, sec: Long) = Event(user, new Timestamp((base + sec) * 1000L))
    // user 1: six in-gap events (cap 2 splits into three sessions), then a
    // gap, then one lone event that only the watermark timeout can close
    val secs = Seq(0L, 10L, 20L, 30L, 40L, 50L, 300L)
    val in = MemoryStream[Event](spark)
    val out = SessionizeStream.sessions(
      in.toDS(), gapUs = 60L * 1000000L, watermarkDelay = "0 seconds", maxEvents = 2)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("sessions_eq_out").start()
    try {
      in.addData(secs.map(ev(1L, _)): _*)
      q.processAllAvailable()
      in.addData(ev(2L, 5000L)) // advance the watermark...
      q.processAllAvailable()
      in.addData(ev(2L, 5001L)) // ...then evaluate user 1's timeout
      q.processAllAvailable()
      val streamed = spark.table("sessions_eq_out").as[Session]
        .filter(_.user_id == 1L)
        .collect()
        .map(s => (s.session_start_us, s.session_end_us, s.n_events)).toSet
      val batch = Temporal.sessionizeCapped(
          secs.map(s => (1L, (base + s) * 1000000L, s)).toDF("user_id", "ts_us", "event_id"),
          "user_id", "ts_us", "event_id",
          gapMicros = 60L * 1000000L, maxEvents = 2L)
        .collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(streamed == batch,
        s"policy divergence: streaming $streamed vs batch $batch")
      assert(batch.size == 4, s"expected 3 cap splits + 1 lone session, got $batch")
    } finally q.stop()
  }

  test("streaming as-of join equals the batch sweep; watermark evicts settled rights") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.AsofStream
    import graft.streaming.AsofStream.{AsofMatch, AsofState, Ev, LeftEvent, RightEvent}
    import spark.implicits._
    val base = 1700000000L
    def t(sec: Long) = new Timestamp((base + sec) * 1000L)
    def usOf(sec: Long) = (base + sec) * 1000000L
    // ties at one (key, time) → LARGEST rid wins; t=5/t=20 lefts unmatched
    val lefts = Seq((1L, 5L, 10L), (1L, 10L, 11L), (1L, 50L, 12L),
      (2L, 20L, 20L), (2L, 35L, 21L))
    val rights = Seq((1L, 10L, 100L), (1L, 10L, 101L), (1L, 40L, 102L),
      (2L, 30L, 200L))
    val lIn = MemoryStream[LeftEvent](spark)
    val rIn = MemoryStream[RightEvent](spark)
    val q = AsofStream.joined(lIn.toDS(), rIn.toDS(), watermarkDelay = "100 seconds")
      .writeStream.outputMode("append").format("memory").queryName("asof_stream_out")
      .start()
    try {
      // shuffled arrival across micro-batches (within the lateness bound)
      lIn.addData(LeftEvent(1L, t(50), 12L), LeftEvent(2L, t(20), 20L))
      rIn.addData(RightEvent(1L, t(40), 102L))
      q.processAllAvailable()
      lIn.addData(LeftEvent(1L, t(5), 10L), LeftEvent(1L, t(10), 11L))
      rIn.addData(RightEvent(1L, t(10), 100L), RightEvent(2L, t(30), 200L))
      q.processAllAvailable()
      lIn.addData(LeftEvent(2L, t(35), 21L))
      rIn.addData(RightEvent(1L, t(10), 101L))
      q.processAllAvailable()
      // advance BOTH source watermarks far past every event → all flush
      lIn.addData(LeftEvent(99L, t(100000), 999L))
      rIn.addData(RightEvent(99L, t(100000), 999L))
      q.processAllAvailable()
      lIn.addData(LeftEvent(99L, t(100001), 998L))
      rIn.addData(RightEvent(99L, t(100001), 998L))
      q.processAllAvailable()
      val streamed = spark.table("asof_stream_out").as[AsofMatch]
        .filter(_.key != 99L).collect()
        .map(m => (m.key, m.l_id, m.ts_us, m.asof_rid, m.asof_rt_us)).toSet
      val batch = Temporal.asofJoin(
          lefts.map { case (k, s, id) => (k, usOf(s), id) }.toDF("key", "ts_us", "l_id"),
          rights.map { case (k, s, id) => (k, usOf(s), id) }.toDF("key", "ts_us", "r_id"),
          "key", "ts_us", "l_id", "r_id")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)),
          if (r.isNullAt(4)) None else Some(r.getLong(4)))).toSet
      assert(streamed == batch, s"streaming $streamed vs batch $batch")
      assert(batch.exists(m => m._2 == 11L && m._4.contains(101L)),
        "equal-time tie must resolve to the largest rid")
      assert(batch.count(_._4.isEmpty) == 2, "two unmatched lefts expected")
    } finally q.stop()
    // eviction contract, driven directly on the pure transition: rights
    // below the watermark collapse to the single best (max rt, then rid) —
    // and that survivor still matches future lefts correctly
    val st1 = AsofState(Nil, List((10L, 1L), (20L, 2L), (10L, 9L), (30L, 3L)))
    val (out1, st2, _) = AsofStream.step(st1, Nil, wmUs = 25L)
    assert(out1.isEmpty && st2.rights.toSet == Set((20L, 2L), (30L, 3L)),
      s"settled rights must collapse to the max: ${st2.rights}")
    val ts27 = new Timestamp(0L) // epoch-micros 27 via the nanos field
    ts27.setNanos(27000)
    val (out2, st3, timeout) = AsofStream.step(st2, Seq(Ev(1L, ts27, 1, 77L)), wmUs = 25L)
    assert(out2.isEmpty && st3.lefts.nonEmpty && timeout.nonEmpty,
      "a left above the watermark must stay pending with a timeout set")
    val (out3, st4, _) = AsofStream.step(st3, Nil, wmUs = 40L)
    assert(out3.map(m => (m.l_id, m.asof_rid, m.asof_rt_us)) ==
      Seq((77L, Some(2L), Some(20L))),
      s"pending left must match the kept survivor: $out3")
    assert(st4.lefts.isEmpty && st4.rights.toSet == Set((30L, 3L)), s"state: $st4")
  }

  test("idempotent foreachBatch sink: batch replay replaces, never duplicates") {
    import java.sql.Timestamp
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val dir = Files.createTempDirectory("fbsink").toString
    val in = MemoryStream[(Timestamp, String)](spark)
    val sink = graft.streaming.IdempotentSink.partitionedParquet(s"$dir/out") _
    val q = in.toDF().toDF("ts", "v").writeStream
      .option("checkpointLocation", s"$dir/ckpt")
      .foreachBatch { (df: DataFrame, id: Long) =>
        sink(df, id)
        sink(df, id) // simulate at-least-once redelivery of the same batch
      }.start()
    try {
      val t0 = new Timestamp(1700000000000L)
      in.addData((t0, "a"), (t0, "b"), (t0, "c"))
      q.processAllAvailable()
      in.addData((t0, "d"), (t0, "e"))
      q.processAllAvailable()
      val out = spark.read.parquet(s"$dir/out")
      assert(out.count() == 5, "replayed batches must not duplicate rows")
      assert(out.select(col("batch_id")).distinct().count() == 2)
    } finally q.stop()
  }

  test("stream-stream interval join: bounded look-back, equals the batch join", SlowTest) {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val base = 1700000000000L
    def ts(sec: Long) = new Timestamp(base + sec * 1000L)
    // key 1: click at t=100 should match purchases at t=70 and t=100
    // (within 60 s, inclusive both ends) but NOT t=30 (too old) or t=130
    // (after the click); key 2 must not cross-match key 1
    val clicks = Seq((1L, ts(100), 10L), (2L, ts(100), 20L))
    val purchases = Seq(
      (1L, ts(30), 73L), (1L, ts(70), 77L), (1L, ts(100), 71L), (1L, ts(130), 79L),
      (2L, ts(90), 29L))
    val expected = Set((10L, 77L), (10L, 71L), (20L, 29L))
    val inL = MemoryStream[(Long, Timestamp, Long)](spark)
    val inR = MemoryStream[(Long, Timestamp, Long)](spark)
    val out = graft.streaming.StreamJoin.joinWithin(
      inL.toDF(), inR.toDF(), watermarkDelay = "0 seconds", withinSeconds = 60L)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("sj_out").start()
    try {
      inL.addData(clicks: _*)
      inR.addData(purchases: _*)
      q.processAllAvailable()
      val streamed = spark.table("sj_out")
        .select(col("l_id"), col("r_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed == expected, s"streaming join: $streamed")
      // the SAME function over batch frames is the identical interval join —
      // the plan the registry's q_interval_join_2stream row pins against a
      // DuckDB range-join oracle on the events fixture
      val batch = graft.streaming.StreamJoin.joinWithin(
          clicks.toDF(), purchases.toDF(), "0 seconds", 60L)
        .select(col("l_id"), col("r_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(batch == streamed, s"batch $batch != streaming $streamed")
    } finally q.stop()
    // LEFT OUTER form: a click with no in-window purchase must surface with
    // NULL purchase columns once both watermarks prove no match can arrive
    val inL2 = MemoryStream[(Long, Timestamp, Long)](spark)
    val inR2 = MemoryStream[(Long, Timestamp, Long)](spark)
    val out2 = graft.streaming.StreamJoin.joinWithin(
      inL2.toDF(), inR2.toDF(), watermarkDelay = "0 seconds", withinSeconds = 60L,
      joinType = "left_outer")
    val q2 = out2.writeStream.outputMode("append")
      .format("memory").queryName("sjo_out").start()
    try {
      inL2.addData((3L, ts(100), 30L)) // no purchase for key 3 at all
      inR2.addData((4L, ts(100), 49L))
      q2.processAllAvailable()
      // advance BOTH watermarks far past 100 + 60 so the unmatched row fires
      inL2.addData((3L, ts(5000), 31L))
      inR2.addData((4L, ts(5000), 48L))
      q2.processAllAvailable()
      inL2.addData((3L, ts(5001), 32L))
      inR2.addData((4L, ts(5001), 47L))
      q2.processAllAvailable()
      val got = spark.table("sjo_out").collect()
        .map(r => (r.getLong(1), if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet
      assert(got.contains((30L, None)),
        s"unmatched click must emit with NULL purchase after the watermark: $got")
      // batch equality for the outer form too (same rows, plain left join)
      val bOuter = graft.streaming.StreamJoin.joinWithin(
          Seq((3L, ts(100), 30L)).toDF(), Seq.empty[(Long, Timestamp, Long)].toDF(),
          "0 seconds", 60L, joinType = "left_outer")
        .collect().map(r => (r.getLong(1), if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet
      assert(bOuter == Set((30L, None)), s"batch outer: $bOuter")
    } finally q2.stop()
  }

  test("streaming CMS: multi-batch estimates equal the batch sketch; replay never double-counts") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    import graft.streaming.CmsStream
    val dir = Files.createTempDirectory("cmsstream").toString
    val b1 = Seq((1L, "alpha beta alpha"), (2L, "beta gamma"))
    val b2 = Seq((3L, "alpha delta delta delta"))
    val probes = Seq("alpha", "beta", "delta", "nosuchtoken").toDF("token")
    val store = new CmsStream.SketchStore(width = 64, depth = 3)
    val in = MemoryStream[(Long, String)](spark)
    val q = CmsStream.run(in.toDF().toDF("doc_id", "text"), store, s"$dir/ckpt")
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    // counter additivity: the streamed store's estimates must equal the
    // batch operator's over the union of all delivered batches
    val batchEst = TextAnalysis.cmsTokenEstimates(
      (b1 ++ b2).toDF("doc_id", "text"), probes, width = 64, depth = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val streamEst = store.estimates(probes)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamEst == batchEst, s"streamed $streamEst vs batch $batchEst")
    // never-undercount holds through the stream (exactness is the
    // no-collision case, separately pinned in the batch test)
    assert(streamEst("alpha") >= 3L && streamEst("beta") >= 2L && streamEst("delta") >= 3L)
    // at-least-once replay: a re-delivered batch id must be dropped —
    // counting is not idempotent, the monotone batch guard makes it so
    val before = store.counters
    assert(!store.add(0L, Map(0L -> 100L)), "stale batch id must be rejected")
    assert(store.counters == before, "replayed batch must not change counters")
    // and a NEW batch id still merges (the guard is monotone, not sticky)
    assert(store.add(1000L, Map(0L -> 2L)))
    assert(store.counters.getOrElse(0L, 0L) == before.getOrElse(0L, 0L) + 2L)
  }

  test("durable sketch stores: restart rebuilds from the snapshot table, replays drop") {
    import graft.streaming.{CmsStream, HeavyHittersStream}
    import spark.implicits._
    // CMS: batches 0..1 into a durable store, then a SIMULATED DRIVER
    // RESTART (restore a fresh store from the table), then batch 2 —
    // final counters must equal one uninterrupted store fed 0..2
    val dir = Files.createTempDirectory("cmsdur").toString
    val cells = Seq(Map(1L -> 3L, 2L -> 1L), Map(1L -> 2L, 9L -> 4L),
      Map(2L -> 5L))
    val d1 = new CmsStream.SketchStore(64, 3, Some((spark, s"$dir/cms")))
    assert(d1.add(0L, cells(0)) && d1.add(1L, cells(1)))
    val d2 = CmsStream.SketchStore.restore(spark, s"$dir/cms", 64, 3)
    assert(d2.lastApplied == 1L, "restore must carry the applied batch id")
    // the checkpoint may replay an acknowledged batch after restart —
    // the restored guard must drop it (no double count)
    assert(!d2.add(1L, cells(1)))
    assert(d2.add(2L, cells(2)))
    val ref = new CmsStream.SketchStore(64, 3)
    cells.zipWithIndex.foreach { case (c, i) => ref.add(i.toLong, c) }
    assert(d2.counters == ref.counters,
      s"restored ${d2.counters} vs uninterrupted ${ref.counters}")
    // a second restore sees batch 2's snapshot (pruned to the newest two)
    assert(CmsStream.SketchStore.restore(spark, s"$dir/cms", 64, 3)
      .counters == ref.counters)
    // cold start on an empty dir
    assert(CmsStream.SketchStore.restore(spark, s"$dir/nothing", 64, 3)
      .lastApplied == -1L)

    // heavy hitters: same restart contract on the MG summary
    val h1 = new HeavyHittersStream.MgStore(4, Some((spark, s"$dir/mg")))
    assert(h1.add(0L, Map("a" -> 5L, "b" -> 2L)))
    assert(h1.add(1L, Map("a" -> 1L, "c" -> 3L)))
    val h2 = HeavyHittersStream.MgStore.restore(spark, s"$dir/mg", 4)
    assert(h2.lastApplied == 1L && h2.summary == h1.summary)
    assert(!h2.add(0L, Map("bogus" -> 100L)))
    // EXACT-id replay — the at-least-once case a `<`-guard mutant
    // accepts (r19 guard-mutation exercise: the stale-id asserts alone
    // let exactly that mutant survive)
    assert(!h2.add(1L, Map("bogus" -> 100L)),
      "exact last-applied id must drop")
    assert(h2.summary == h1.summary)
    assert(h2.add(2L, Map("d" -> 7L)))
    val href = new HeavyHittersStream.MgStore(4)
    href.add(0L, Map("a" -> 5L, "b" -> 2L))
    href.add(1L, Map("a" -> 1L, "c" -> 3L))
    href.add(2L, Map("d" -> 7L))
    assert(h2.summary == href.summary,
      s"restored ${h2.summary} vs uninterrupted ${href.summary}")
  }

  test("durable sketch snapshots: driver-written files read back, prune keeps two, a torn newest restores the previous") {
    import org.apache.spark.sql.types.{LongType, StringType}
    import graft.streaming.{CmsStream, HeavyHittersStream}
    val dir = Files.createTempDirectory("sketchsnap").toString
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def entries(d: String) = new java.io.File(d).listFiles().map(_.getName).sorted.toSeq
    val cms = new CmsStream.SketchStore(64, 3, Some((spark, s"$dir/cms")))
    (0 until 4).foreach(i => assert(cms.add(i.toLong, Map(i.toLong -> (i + 1L), 100L -> 1L))))
    assert(entries(s"$dir/cms") == Seq("upto=2", "upto=3"),
      "prune must keep exactly the newest two snapshots")
    // one part file plus `_SUCCESS`, read through Spark with the old
    // names and types
    def onePart(d: String) = {
      val names = entries(d).filterNot(_.startsWith("."))
      names.contains("_SUCCESS") && names.count(_.endsWith(".parquet")) == 1 && names.size == 2
    }
    assert(onePart(s"$dir/cms/upto=3"), entries(s"$dir/cms/upto=3"))
    val cells = spark.read.parquet(s"$dir/cms/upto=3")
    assert(cells.schema.map(f => f.name -> f.dataType) == Seq("cell" -> LongType, "n" -> LongType))
    assert(cells.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == cms.counters)
    val mg = new HeavyHittersStream.MgStore(4, Some((spark, s"$dir/mg")))
    assert(mg.add(0L, Map("a" -> 5L, "é" -> 2L)))
    val summary = spark.read.parquet(s"$dir/mg/upto=0")
    assert(summary.schema.map(f => f.name -> f.dataType) ==
      Seq("token" -> StringType, "count" -> LongType))
    assert(summary.collect().map(r => r.getString(0) -> r.getLong(1)).toMap == mg.summary)

    // a torn batch-4 write: a part file but no `_SUCCESS`
    val at3 = cms.counters
    import spark.implicits._
    Seq((0L, 999L)).toDF("cell", "n").coalesce(1).write.parquet(s"$dir/cms/upto=4")
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$dir/cms/upto=4/_SUCCESS"), false))
    val restored = CmsStream.SketchStore.restore(spark, s"$dir/cms", 64, 3)
    assert(restored.lastApplied == 3L && restored.counters == at3,
      "a newest snapshot without _SUCCESS must not restore")
    // the replay of batch 4 replaces the torn directory whole
    assert(restored.add(4L, Map(7L -> 1L)))
    assert(onePart(s"$dir/cms/upto=4"), entries(s"$dir/cms/upto=4"))
    val again = CmsStream.SketchStore.restore(spark, s"$dir/cms", 64, 3)
    assert(again.lastApplied == 4L && again.counters == restored.counters)
    assert(entries(s"$dir/cms") == Seq("upto=3", "upto=4"))

    // a failed driver write fails the batch with state and guard kept;
    // its redelivery applies it once
    val blocked = new java.io.File(dir, "blocked")
    assert(blocked.createNewFile())
    val failing = new CmsStream.SketchStore(64, 3, Some((spark, s"$blocked/cms")))
    intercept[java.io.IOException](failing.add(0L, Map(1L -> 1L)))
    assert(failing.lastApplied == -1L && failing.counters.isEmpty)
    assert(blocked.delete())
    assert(failing.add(0L, Map(1L -> 1L)) && failing.counters == Map(1L -> 1L))
    assert(CmsStream.SketchStore.restore(spark, s"$blocked/cms", 64, 3).counters == Map(1L -> 1L))
  }

  test("sketch acks: a durable CMS ack is one Spark job, an MG ack two, a redelivery none") {
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.ListenerDrain
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import graft.streaming.{CmsStream, HeavyHittersStream}
    import spark.implicits._
    val started = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet()
    }
    def jobs(body: => Unit): Int = {
      ListenerDrain(spark.sparkContext)
      started.set(0)
      body
      ListenerDrain(spark.sparkContext)
      started.get()
    }
    val dir = Files.createTempDirectory("sketchjobs").toString
    // three partitions and no exchange, as `foreachBatch` hands a batch over
    val batch = spark.sparkContext.parallelize(
      Seq((1L, "alpha beta alpha"), (2L, "gamma beta"), (3L, "delta")), 3).toDF("doc_id", "text")
    val cms = new CmsStream.SketchStore(2048, 4, Some((spark, s"$dir/cms")))
    val mg = new HeavyHittersStream.MgStore(64, Some((spark, s"$dir/mg")))
    spark.sparkContext.addSparkListener(listener)
    try withSQLConf("spark.sql.adaptive.enabled" -> "true") {
      assert(jobs(CmsStream.sink(cms)(batch, 0L)) == 1, "durable CMS ack")
      assert(jobs(HeavyHittersStream.sink(mg)(batch, 0L)) == 2, "durable MG ack")
      assert(jobs(CmsStream.sink(cms)(batch, 0L)) == 0, "redelivered CMS ack")
      assert(jobs(HeavyHittersStream.sink(mg)(batch, 0L)) == 0, "redelivered MG ack")
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(cms.lastApplied == 0L && mg.lastApplied == 0L)
    assert(CmsStream.SketchStore.restore(spark, s"$dir/cms", 2048, 4).counters == cms.counters)
    assert(HeavyHittersStream.MgStore.restore(spark, s"$dir/mg", 64).summary == mg.summary)
  }

  test("CMS dense fold equals the groupBy counter table") {
    import spark.implicits._
    // the distributed groupBy formulation the fold replaced: token ×
    // row → (j, b) cells, counted, keyed j·width + b
    def reference(docs: org.apache.spark.sql.DataFrame, width: Int, depth: Int): Map[Long, Long] =
      docs.select(explode(TextAnalysis.tokens(col("text"))).as("t"))
        .select(explode(array((0 until depth).map(j => struct(lit(j).as("j"),
          TextAnalysis.cmsBucket(j, col("t"), width).as("b"))): _*)).as("jb"))
        .groupBy(col("jb.j"), col("jb.b")).agg(count(lit(1)))
        .collect().map(r => (r.getInt(0).toLong * width + r.getLong(1)) -> r.getLong(2)).toMap
    val rows: Seq[(Long, String)] = Seq((1L, null), (2L, ""), (3L, "  "),
      (4L, "a a a A a"), (5L, "Zeta zeta ZETA"), (6L, "ü ü 日本 日本 x")) ++
      (7 to 400).map(i => (i.toLong, s"w${i % 13} w${i % 29} w${i % 13} common"))
    val local = rows.toDF("doc_id", "text")
    for (docs <- Seq(local, local.repartition(7), local.limit(0));
         (width, depth) <- Seq((37, 1), (1000, 3), (2, 4), (64, 1), (65537, 2))) {
      val got = TextAnalysis.cmsFold(docs, width, depth, "text")
      assert(got == reference(docs, width, depth), s"width $width, depth $depth")
      assert(got.valuesIterator.forall(_ > 0))
    }
    assert(TextAnalysis.cmsFold(local, 64, 3, "text").values.sum == 3L *
      local.select(explode(TextAnalysis.tokens(col("text")))).count())
  }

  test("CMS: a counter table over Int.MaxValue cells fails loudly, naming width and depth") {
    import spark.implicits._
    import graft.streaming.CmsStream
    val store = intercept[IllegalArgumentException](new CmsStream.SketchStore(Int.MaxValue, 2))
    assert(store.getMessage.contains(s"width ${Int.MaxValue}") && store.getMessage.contains("depth 2"),
      store.getMessage)
    val docs = Seq((1L, "a b")).toDF("doc_id", "text")
    val probes = Seq("a").toDF("token")
    val batch = intercept[IllegalArgumentException](
      TextAnalysis.cmsTokenEstimates(docs, probes, width = 1 << 30, depth = 3))
    assert(batch.getMessage.contains(s"width ${1 << 30}") && batch.getMessage.contains("depth 3"),
      batch.getMessage)
    // exactly Int.MaxValue counters is still a valid shape
    new CmsStream.SketchStore(Int.MaxValue, 1)
  }

  test("streaming heavy hitters: MG merge keeps the support guarantee across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val dir = Files.createTempDirectory("hhstream").toString
    // three batches whose UNION carries 'hot' far above the support line
    // among unique filler — the per-batch summaries individually disagree
    // about the tail, so only a sound merge keeps the bounds
    val b1 = (0 until 40).map(i => (i.toLong, s"hot u$i x$i"))
    val b2 = (40 until 80).map(i => (i.toLong, s"hot u$i y$i"))
    val b3 = (80 until 100).map(i => (i.toLong, s"u$i z$i hot hot"))
    val store = new graft.streaming.HeavyHittersStream.MgStore(k = 20)
    val in = MemoryStream[(Long, String)](spark)
    val q = graft.streaming.HeavyHittersStream.run(
      in.toDF().toDF("doc_id", "text"), store, s"$dir/ckpt")
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      in.addData(b3: _*); q.processAllAvailable()
    } finally q.stop()
    val all = (b1 ++ b2 ++ b3).flatMap(_._2.split(" "))
    val n = all.size.toLong
    val freq = all.groupMapReduce(identity)(_ => 1L)(_ + _)
    val s = store.summary
    assert(s.size <= 20)
    // the mergeable-summaries invariant over the WHOLE stream:
    // freq − N/(k+1) ≤ ĉ ≤ freq for every retained counter …
    s.foreach { case (t, c) =>
      assert(c <= freq(t), s"$t overcounts: $c > ${freq(t)}")
      assert(c >= freq(t) - n / 21, s"$t below error bound: $c vs ${freq(t)}")
    }
    // … and every token above the support line is guaranteed retained
    freq.filter { case (_, f) => f * 21 > n }.keys
      .foreach(t => assert(s.contains(t), s"heavy '$t' evicted"))
    // replay guard: a re-delivered batch id must not merge again —
    // including the EXACT last-applied id (the at-least-once case;
    // a `<` mutant survives the stale-id assert alone)
    val before = store.summary
    assert(!store.add(0L, Map("bogus" -> 100L)))
    assert(!store.add(2L, Map("bogus" -> 100L)),
      "exact last-applied id must drop")
    assert(store.summary == before)
    assert(store.add(1000L, Map("hot" -> 2L)))
  }

  test("streaming CDC compaction: batch-split-invariant, replay-idempotent, no guard") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    import graft.streaming.CdcStream
    val dir = Files.createTempDirectory("cdcstream").toString
    val keys = Seq("user_id", "event_type")
    val order = Seq("ts_us", "event_id")
    val payload = Seq("value")
    // batch 2 carries an OLDER change for (1, a) — it must not override
    val b1 = Seq((1L, "a", 100L, 7L, 1.0), (2L, "a", 50L, 1L, 4.0))
    val b2 = Seq((1L, "a", 90L, 9L, 9.0), (2L, "b", 60L, 2L, 5.0))
    val b3 = Seq((1L, "a", 200L, 3L, 2.0))
    def emptyInit = CdcStream.compact(
      Seq.empty[(Long, String, Long, Long, Double)]
        .toDF("user_id", "event_type", "ts_us", "event_id", "value"),
      keys, order, payload)
    val store = new CdcStream.CompactStore(spark, keys, emptyInit)
    val in = MemoryStream[(Long, String, Long, Long, Double)](spark)
    val q = CdcStream.run(
      in.toDF().toDF("user_id", "event_type", "ts_us", "event_id", "value"),
      store, s"$dir/ckpt", keys, order, payload)
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      in.addData(b3: _*); q.processAllAvailable()
    } finally q.stop()
    def flat(df: org.apache.spark.sql.DataFrame) = df
      .select(col("user_id"), col("event_type"), col("last.ts_us"),
        col("last.event_id"), col("last.value"))
      .collect().map(_.toSeq).toSet
    val streamed = flat(store.current)
    // batch-split invariance: the union compacted in one shot must match
    val batch = flat(CdcStream.compact(
      (b1 ++ b2 ++ b3).toDF("user_id", "event_type", "ts_us", "event_id", "value"),
      keys, order, payload))
    assert(streamed == batch, s"$streamed vs $batch")
    assert(streamed.contains(Seq(1L, "a", 200L, 3L, 2.0)), "latest wins")
    assert(streamed.contains(Seq(2L, "b", 60L, 2L, 5.0)))
    // replay idempotence WITHOUT any batch-id guard: re-merging an old
    // batch's compact is a no-op because max cannot move backwards
    store.merge(CdcStream.compact(
      b1.toDF("user_id", "event_type", "ts_us", "event_id", "value"),
      keys, order, payload))
    assert(flat(store.current) == streamed, "replay must not change the table")
  }

  test("streaming dedup: duplicates within the watermark window are dropped") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val t0 = 1700000000000L
    val in = MemoryStream[(Timestamp, String)](spark)
    val deduped = graft.streaming.DedupStream.dedupWithinWatermark(
      in.toDF().toDF("ts", "text"), "ts", "10 minutes")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_stream_out").start()
    try {
      in.addData(
        (new Timestamp(t0), "alpha"),
        (new Timestamp(t0 + 1000), "alpha"), // in-batch duplicate
        (new Timestamp(t0), "beta"))
      q.processAllAvailable()
      in.addData((new Timestamp(t0 + 2000), "alpha")) // cross-batch duplicate
      q.processAllAvailable()
      val texts = spark.table("dedup_stream_out")
        .select(col("text")).as[String].collect().sorted.toSeq
      assert(texts == Seq("alpha", "beta"), s"expected one alpha + one beta, got $texts")
    } finally q.stop()
  }

  // ------------------------------------------------------------ perceptron

  test("perceptron separates a separable corpus; margins are row-order independent") {
    import spark.implicits._
    // +1 docs speak 'good' vocabulary, -1 docs 'bad' — linearly separable
    // under hashed bag-of-words (planted noisy shared tokens don't break it)
    val corpus = ((1 to 20).map(i => (i.toLong, s"good fine great shared doc $i", 1L)) ++
      (21 to 40).map(i => (i.toLong, s"bad awful poor shared doc $i", -1L)))
      .toDF("doc_id", "text", "label_in")
    def run(df: org.apache.spark.sql.DataFrame) =
      TextAnalysis.perceptronQuality(df, labelCol = col("label_in"),
          dims = 32, epochs = 4)
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSeq
    val rows = run(corpus)
    assert(rows.forall(_._4), s"misclassified after training: ${rows.filterNot(_._4)}")
    // margins flip sign with the label: positive for +1 docs, negative for -1
    assert(rows.forall(r => r._2 * r._3 > 0))
    // batch summation ⇒ identical margins under any row order / partitioning
    val shuffled = run(corpus.orderBy(rand(42)).repartition(7))
    assert(rows == shuffled, "margins must not depend on row order or partitioning")
  }

  test("perceptron rejects labels outside {-1, +1} loudly") {
    import spark.implicits._
    val bad = Seq((1L, "some text here", 0L), (2L, "more text", 1L))
      .toDF("doc_id", "text", "label_in")
    val ex = intercept[Exception] {
      TextAnalysis.perceptronQuality(bad, labelCol = col("label_in"),
        dims = 8, epochs = 1).collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(ex).exists(t =>
      t.getMessage != null && t.getMessage.contains("label must be -1 or 1")),
      s"expected the label guard to fire, got: $ex")
  }

  // ------------------------------------------------------------ BM25

  test("vocabCoverage: per-source OOV rate and distinct drivers; mixture hiding exposed") {
    import spark.implicits._
    val docs = Seq(
      (1L, "srcA", "a b c a"), (2L, "srcA", "a b x"),
      (3L, "srcB", "x y y z")).toDF("doc_id", "source", "text")
    val vocab = Seq("a", "b", "c").toDF("term")
    val r = TextAnalysis.vocabCoverage(docs, vocab).collect()
      .map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3),
        x.getLong(4), x.getLong(5)))).toMap
    // srcA: 7 tokens, one OOV occurrence of one term → 142857 ppm;
    // srcB: fully out-of-vocab (x, y, z) → 10⁶ ppm — the 40%-source the
    // corpus-wide average would have hidden
    assert(r == Map(
      "srcA" -> ((2L, 7L, 1L, 1L, 142857L)),
      "srcB" -> ((1L, 4L, 4L, 3L, 1000000L))), r.toString)
  }

  test("retrievalEval: integer MRR/P@k/R@k; a query with unretrieved relevants surfaces") {
    import spark.implicits._
    val results = Seq((0L, 10L, 1L), (0L, 11L, 2L), (0L, 12L, 3L),
      (1L, 20L, 1L), (1L, 21L, 2L)).toDF("query_id", "doc_id", "rnk")
    val qrels = Seq((0L, 11L), (0L, 12L), (0L, 99L), (1L, 55L), (2L, 7L))
      .toDF("query_id", "doc_id")
    val r = TextAnalysis.retrievalEval(results, qrels, k = 2).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2),
        Option(x.get(3)).map(_.asInstanceOf[Long]),
        Option(x.get(4)).map(_.asInstanceOf[Long]),
        x.getLong(5), x.getLong(6),
        Option(x.get(7)).map(_.asInstanceOf[Long])))).toMap
    // q0: first relevant at rank 2 (mrr 500000); only doc 11 makes the
    // k=2 cut (doc 12 sits at rank 3) → P@2 = 1/2, R@2 = 1/3 truncated
    assert(r(0L) == ((3L, 3L, Some(2L), Some(500000L), 1L, 500000L, Some(333333L))), r(0L).toString)
    // q1: relevant doc never retrieved → recall 0, MRR NULL — not absent
    assert(r(1L) == ((2L, 1L, None, None, 0L, 0L, Some(0L))), r(1L).toString)
    // q2: NO results at all but a relevance row exists — the failure the
    // full-outer spine exists to surface (n_results 0, recall 0)
    assert(r(2L) == ((0L, 1L, None, None, 0L, 0L, Some(0L))), r(2L).toString)
  }

  test("bm25: identical docs tie-break on doc_id, OOV query matches nothing, k > candidates") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "apple banana"), (2L, "apple banana"), // identical ⇒ tied scores
      (3L, "apple cherry date egg fig"),          // longer ⇒ lower BM25 for 'apple'
      (4L, "melon kiwi")).toDF("doc_id", "text")
    val qs = Seq((0L, "apple"), (1L, "zzzoov"), (2L, "banana fig"))
      .toDF("query_id", "q_text")
    val got = TextAnalysis.bm25TopK(corpus, qs, k = 10) // k > any candidate count
      .orderBy(col("query_id"), col("score").desc, col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val q0 = got.filter(_._1 == 0L)
    assert(q0.map(_._2).toSeq == Seq(1L, 2L, 3L),
      s"expected short docs first, doc_id tie-break for the twins: ${q0.toSeq}")
    assert(q0(0)._3 == q0(1)._3 && q0(0)._3 > q0(2)._3)
    // out-of-vocabulary query: no candidates, no rows — and never an error
    assert(!got.exists(_._1 == 1L), s"OOV query must match nothing: ${got.toSeq}")
    // multi-term query: both matching docs surface even with k > candidates
    assert(got.filter(_._1 == 2L).map(_._2).toSet == Set(1L, 2L, 3L))
  }

  // ------------------------------------------------------------ substring dedup

  test("substring spans: planted repeated passage found at any offset, merged maximal") {
    import spark.implicits._
    val passage = "alpha beta gamma delta epsilon zeta"  // 6 tokens
    val corpus = Seq(
      (1L, s"unique one two $passage tail1 tail2"),          // passage at pos 4
      (2L, s"$passage other stuff here entirely"),           // same passage at pos 1
      (3L, "totally different words nothing shared here ok"),
      (4L, "self rep self rep self rep self rep end")        // within-doc repeat
    ).toDF("doc_id", "text")
    val spans = Dedup.substringSpans(corpus, k = 4)
      .orderBy("doc_id", "span_start").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // doc 1: passage tokens 4-9; doc 2: tokens 1-6; doc 3 absent;
    // doc 4: "self rep" x4 — every 4-window inside 1..8 repeats → span 1-8
    assert(spans == Seq((1L, 4L, 9L, 6L), (2L, 1L, 6L, 6L), (4L, 1L, 8L, 8L)),
      s"got $spans")
  }

  test("substring scrub: canonical occurrence keeps its tokens, later ones lose exactly them") {
    import spark.implicits._
    val passage = "alpha beta gamma delta epsilon zeta"
    val corpus = Seq(
      (1L, s"unique one two $passage tail1 tail2"),
      (2L, s"$passage other stuff here entirely"),
      (3L, "short doc")  // < k tokens: untouched
    ).toDF("doc_id", "text")
    val got = Dedup.substringScrub(corpus, k = 4)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == Seq(
      // doc 1 holds the canonical (corpus-first) occurrence — fully kept
      (1L, s"unique one two $passage tail1 tail2", 11L, 0L),
      // doc 2's copy is scrubbed; its unique tail survives
      (2L, "other stuff here entirely", 10L, 6L),
      (3L, "short doc", 2L, 0L)), s"got $got")
  }

  test("line scrub: cross-doc boilerplate removed everywhere, blanks and rare lines kept") {
    import spark.implicits._
    val footer = "Subscribe to our newsletter"
    // footer appears in 5 distinct docs (= minDocs) -> boilerplate; the
    // blank line also appears in 5 docs but is structure, never removed;
    // "shared twice" repeats across only 2 docs -> kept
    val corpus = Seq(
      (1L, s"unique alpha\n\n$footer\nunique beta"),
      (2L, s"$footer\n\ncontent two"),
      (3L, s"content three\n\n$footer"),
      (4L, s"middle\n\n$footer\nend"),
      (5L, footer), // fully-boilerplate doc -> empty string
      (6L, "rare line\n\nshared twice"),
      (7L, "shared twice\nother")
    ).toDF("doc_id", "text")
    val fl = footer.length.toLong
    val got = Dedup.lineScrub(corpus, minDocs = 5)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == Seq(
      (1L, "unique alpha\n\nunique beta", 4L, 1L, fl),
      (2L, "\ncontent two", 3L, 1L, fl),
      (3L, "content three\n", 3L, 1L, fl),
      (4L, "middle\n\nend", 4L, 1L, fl),
      (5L, "", 1L, 1L, fl),
      (6L, "rare line\n\nshared twice", 3L, 0L, 0L),
      (7L, "shared twice\nother", 2L, 0L, 0L)), s"got $got")
  }

  // ------------------------------------------------------------ hygiene

  test("url canonicalization: case/port/www/tracking/fragment/slash variants collapse") {
    import spark.implicits._
    val urls = Seq(
      "https://example.com/articles/7",
      "HTTPS://WWW.EXAMPLE.COM/articles/7/",
      "https://example.com:443/articles/7?utm_source=a&utm_medium=b",
      "https://example.com/articles/7?utm_campaign=x#frag",
      "http://example.com:80/articles/7",           // http default port
      "https://example.com/articles/7?id=3&utm_campaign=x",  // real param kept
      // tracked param FIRST, real param after: the r2 scrub step must
      // hand the '?' to the survivor (r19 hygiene mutation exercise —
      // a mutant dropping the '?' survived every test and both oracles
      // because no input exercised this ordering; this pin closes it)
      "https://example.com/articles/7?utm_source=a&id=3",
      "not a url at all").toDF("url")
    val got = urls.select(Hygiene.canonicalizeUrl(col("url")).as("c"))
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq(
      "https://example.com/articles/7",
      "https://example.com/articles/7",
      "https://example.com/articles/7",
      "https://example.com/articles/7",
      "http://example.com/articles/7",   // scheme differs → distinct
      "https://example.com/articles/7?id=3",
      "https://example.com/articles/7?id=3",
      "not a url at all"), s"got $got")
  }

  test("url dedup groups canonical variants; domain filter blocks subdomains too") {
    import spark.implicits._
    val rows = Seq(
      (1L, "https://example.com/a"),
      (2L, "HTTPS://WWW.EXAMPLE.COM/a/"),
      (3L, "https://example.com/b?utm_source=x"),
      (4L, "http://tracker.ads.net/z"),       // registered domain ads.net
      (5L, "https://ads.net/z2")).toDF("doc_id", "url")
    val dd = Hygiene.urlDedup(rows).orderBy("canonical_url").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(dd == Seq(
      ("http://tracker.ads.net/z", 4L, 1L),
      ("https://ads.net/z2", 5L, 1L),
      ("https://example.com/a", 1L, 2L),
      ("https://example.com/b", 3L, 1L)), s"got $dd")
    val blocked = Seq("ads.net").toDF("domain")
    val kept = Hygiene.domainFilter(rows, blocked).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(kept == Seq(
      (1L, "https://example.com/a", "example.com"),
      (2L, "https://example.com/a", "example.com"),
      (3L, "https://example.com/b", "example.com")), s"got $kept")
    // 100 TB contract: canonicalize+filter rides the scan — the blocklist
    // anti-join broadcasts, the corpus side never exchanges
    val plan = Hygiene.domainFilter(rows, blocked)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"domain filter must not shuffle the corpus:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"blocklist must broadcast:\n$plan")
  }

  test("samplePerStratum: sharded merge ≡ shards=1 ≡ window form; exact per-stratum sizes") {
    val base = docs.select(col("doc_id"), col("lang"))
    def sampled(shards: Int) =
      Splits.samplePerStratum(base, "doc_id", "lang", k = 7, shards = shards, seed = 3)
        .select("doc_id", "lang", "sample_key")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val one = sampled(1)
    assert(sampled(4) == one, "two-level shard merge must be bit-identical to direct top-k")
    assert(sampled(16) == one)
    // reference: the declarative window form the oracle uses
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
      .orderBy(col("sample_key"), col("doc_id"))
    val ref = base
      .withColumn("sample_key", md5(concat_ws(":", col("doc_id"), lit(3))))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 7)
      .select("doc_id", "lang", "sample_key")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(one == ref, "bounded-heap operator must equal the window form")
    // exactly min(k, |stratum|) rows per stratum
    val sizes = one.groupBy(_._2).view.mapValues(_.size).toMap
    val pops = base.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    pops.foreach { case (lang, n) =>
      assert(sizes.getOrElse(lang, 0) == math.min(7L, n), s"stratum $lang")
    }
    // re-seeding re-draws: a different seed must not pick the same set
    // (astronomically unlikely to collide on this fixture)
    val reseeded = Splits.samplePerStratum(base, "doc_id", "lang", k = 7, seed = 4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(reseeded != one.map(_._1), "seed must re-draw the sample")
  }

  test("int8Quantize: code bounds, saturation, zero-dim guard, half-step error bound") {
    import spark.implicits._
    val rows = Seq(
      (1L, Array(1.0f, -0.5f, 0.0f, 0.25f)),
      (2L, Array(-1.0f, 0.5f, 0.0f, -0.125f)),
      (3L, Array(0.5f, 0.25f, 0.0f, 0.5f)), // dim 2 all-zero -> scale 0
      (4L, Array(0.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val got = Similarity.int8Quantize(rows).orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    // scales: dim0 = 1.0, dim1 = 0.5, dim2 = 0 (all-zero), dim3 = 0.5
    // vec 1 codes: 127, -127, 0, 64 (0.25/0.5*127 = 63.5 -> half-away 64)
    assert(got(0).copy(_6 = 0.0) == ((1L, 4L, 64L, 318L, 2L, 0.0)))
    assert(math.abs(got(0)._6 - math.abs(0.25 - 64.0 * 0.5 / 127)) < 1e-6)
    // vec 2: -127, 127, 0, -32 (0.125/0.5*127 = 31.75 -> 32)
    assert(got(1)._3 == -32L && got(1)._5 == 2L)
    // vec 4: all-zero vector -> all-zero codes, zero error
    assert(got(3) == ((4L, 4L, 0L, 0L, 0L, 0.0)))
    // error never exceeds half a quantization step of the widest dim
    val maxScale = 1.0
    got.foreach { g =>
      assert(g._6 <= maxScale / 254 + 1e-12, s"err bound violated: $g")
    }
    // corpus-level invariant on the fixture: n_dims constant, errors bounded
    // by each vector's own worst step (cheap sanity over real data)
    val fx = Similarity.int8Quantize(emb)
    assert(fx.select(countDistinct(col("n_dims"))).head.getLong(0) == 1L)
    assert(fx.filter(col("max_abs_err") < 0.0).isEmpty)
  }

  test("clusterStats: partition of the corpus, bounded coherence, spread ordering") {
    val stats = Similarity.clusterStats(emb, k = 4, iters = 2).collect()
    val n = emb.count()
    assert(stats.map(_.getLong(1)).sum == n, "cells must partition the corpus")
    assert(stats.nonEmpty && stats.length <= 4)
    stats.foreach { r =>
      val (nv, sum4, lo, hi) =
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))
      assert(lo <= hi && lo >= -1.0 && hi <= 1.0, s"cosine spread broken: $r")
      assert(sum4 >= math.round(lo * 10000) * nv && sum4 <= math.round(hi * 10000) * nv,
        s"integer cosine mass outside [min,max]·n: $r")
    }
  }

  test("hardNegatives: labels always differ, banded candidates agree with brute scores") {
    val queries = emb.filter(col("vec_id") < 10)
    val brute = Similarity.hardNegatives(emb, queries, k = 5).collect()
    assert(brute.nonEmpty)
    val labels = emb.select(col("vec_id"), col("label").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    brute.foreach { r =>
      assert(labels(r.getLong(0)) != r.getLong(2),
        s"same-label vector mined as negative: $r")
      assert(r.getLong(2) == labels(r.getLong(1)), s"neg_label must be the neighbor's")
    }
    // per-query: ranks dense from 1, scores non-increasing
    brute.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getLong(4))
      assert(sorted.map(_.getLong(4)).toSeq == (1L to sorted.length).toSeq)
      assert(sorted.sliding(2).forall(p =>
        p.length < 2 || p(0).getDouble(3) >= p(1).getDouble(3)))
    }
    // banded path: every mined pair must carry the identical brute score
    // (banding prunes candidates, never changes scoring), labels differ
    val planes = Similarity.prepared(emb.filter(col("vec_id") < 4), "vec_id", "embedding")
      .select(col("id").as("plane_id"), col("v").as("pv"))
    val banded = Similarity.hardNegatives(emb, queries, k = 5,
      planes = Some(planes), bands = 2).collect()
    val bruteAll = Similarity.hardNegatives(emb, queries, k = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    banded.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      assert(bruteAll.contains(key), s"banded pair outside the label-filtered universe: $r")
      assert(bruteAll(key) == r.getDouble(3), s"banded score differs from brute: $r")
    }
  }

  test("exactNormalized: NFC/case/whitespace variants collapse, NFKC does not, codegen'd") {
    import spark.implicits._
    val rows = Seq(
      (10L, "Café au lait"),        // precomposed
      (11L, "café   au\tlait "),   // decomposed + ws runs + trail
      (12L, "CAFÉ AU LAIT"),        // case
      (13L, "ﬁne print"),           // fi-ligature: NFKC-only, must NOT
      (14L, "fine print"),               //   collapse with the spelled form
      (15L, "unrelated")).toDF("doc_id", "text")
    val prevFallback = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false") // NfcNormalize must codegen
    try {
      val got = Dedup.exactNormalized(rows).orderBy("keep_id").collect()
        .map(r => (r.getLong(1), r.getLong(2))).toSeq
      assert(got == Seq((10L, 3L), (13L, 1L), (14L, 1L), (15L, 1L)), s"got $got")
    } finally spark.conf.set("spark.sql.codegen.fallback", prevFallback)
    // byte-level exact dedup sees 6 distinct docs — the operator's reason to exist
    assert(Dedup.exact(rows).count() == 6L)
    // plan shape: same single hash-agg exchange as exact (key rides the scan)
    val plan = Dedup.exactNormalized(rows).queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
  }

  test("containmentPairs: quoted-inside eval fires containment but not jaccard") {
    import spark.implicits._
    val evalDoc = "alpha beta gamma delta epsilon zeta" // 4 trigrams
    val filler = (1 to 40).map(i => s"w$i").mkString(" ")
    val train = Seq(
      (1L, s"$filler $evalDoc"),  // eval quoted inside a much larger doc
      (3L, filler)).toDF("doc_id", "text")
    val eval_ = Seq((2L, evalDoc)).toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(train, eval_, tau = 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(cont == Seq((1L, 2L, 1.0)), s"got $cont")
    Dedup.uncacheAll()
    // symmetric Jaccard over the same pair is diluted far below any
    // sensible tau — the screen this operator exists to complement
    val j = Dedup.crossJaccardPairs(train, eval_, tau = 0.0).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(j.exists { case (a, b, jac) => a == 1L && b == 2L && jac < 0.15 }, s"got $j")
    Dedup.uncacheAll()
  }

  test("knnGraph: canonical mutual edges, ranks k-bounded, scores match brute force") {
    val planes = Similarity.prepared(emb.filter(col("vec_id") < 4), "vec_id", "embedding")
      .select(col("id").as("plane_id"), col("v").as("pv"))
    val k = 4
    val edges = Similarity.knnGraph(emb, planes, bands = 2, k = k).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getLong(4)))
    assert(edges.nonEmpty)
    edges.foreach { case (a, b, _, rab, rba) =>
      assert(a < b, "edges must be canonical")
      assert(rab >= 1 && rab <= k && rba >= 1 && rba <= k, "mutuality is k-bounded")
    }
    assert(edges.map(e => (e._1, e._2)).distinct.length == edges.length)
    // every emitted cosine equals the exact rounded brute-force cosine
    val ids = edges.flatMap(e => Seq(e._1, e._2)).distinct.toSet
    val p = Similarity.prepared(emb, "vec_id", "embedding")
      .filter(col("id").isin(ids.toSeq: _*))
      .collect().map(r => r.getLong(0) ->
        ((r.getSeq[Double](1).toArray, r.getDouble(2)))).toMap
    edges.foreach { case (a, b, cos, _, _) =>
      val (va, na) = p(a); val (vb, nb) = p(b)
      val dot = va.zip(vb).foldLeft(0.0)((acc, t) => acc + t._1 * t._2)
      val want = BigDecimal(dot / (na * nb))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(cos == want, s"edge ($a,$b): $cos != $want")
    }
  }

  test("meanPool: exact per-dimension means, 1-based dims, singleton identity") {
    import spark.implicits._
    val e = Seq(
      (1L, Array(1f, 2f, 3f)), (1L, Array(3f, 2f, 1f)),
      (2L, Array(0.5f, 0.25f, -1f))).toDF("doc_id", "embedding")
    val r = Similarity.meanPool(e, "doc_id").collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> x.getDouble(2)).toMap
    assert(r == Map(
      (1L, 1L) -> 2.0, (1L, 2L) -> 2.0, (1L, 3L) -> 2.0,
      (2L, 1L) -> 0.5, (2L, 2L) -> 0.25, (2L, 3L) -> -1.0), r.toString)
  }

  test("labelNoise: majority-disagreement flags the planted mislabel only") {
    import spark.implicits._
    // cluster A (label 1) along axis 0, cluster B (label 2) along axis 1,
    // one planted mislabel (id 10: sits in B, labeled 1). All-positive
    // planes collapse every vector into one bucket per band, so the
    // banded candidates ARE the brute pairs and the vote is exact.
    val vecs =
      (1 to 5).map(i => (i.toLong, Array(100f, i.toFloat, 0f, 0f), 1)) ++
      (6 to 9).map(j => (j.toLong, Array(j.toFloat, 100f, 0f, 0f), 2)) ++
      Seq((10L, Array(5f, 100f, 0f, 0f), 1))
    val embDf = vecs.toDF("vec_id", "embedding", "label")
    val planes = Seq.tabulate(4)(i => (i.toLong, Array(1.0, 1.0, 1.0, 1.0)))
      .toDF("plane_id", "pv")
    val r = Similarity.labelNoise(embDf, planes, bands = 2, k = 4).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3),
        x.getLong(4), x.getLong(5), x.getBoolean(6)))).toMap
    assert(r.size == 10)
    // the planted mislabel: all 4 neighbors are B → unanimous suspect
    assert(r(10L) == ((1L, 4L, 4L, 2L, 4L, true)), r(10L).toString)
    // a true B member sees the mislabel in its top-4 but keeps a clean
    // 3-of-4 plurality of its own label → disagreement without suspicion
    assert(r(6L) == ((2L, 4L, 1L, 2L, 3L, false)), r(6L).toString)
    // cluster A is untouched: zero disagreement
    (1L to 5L).foreach(i => assert(r(i) == ((1L, 4L, 0L, 1L, 4L, false)), s"$i: ${r(i)}"))
    Dedup.uncacheAll()
  }

  test("streaming per-stratum sample: multi-batch equals batch operator; replay is a no-op") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    import graft.streaming.SampleStream
    val dir = Files.createTempDirectory("samplestream").toString
    val k = 3
    val store = new SampleStream.SampleStore(
      spark, SampleStream.emptySample(spark, "lang", "doc_id"), "lang", "doc_id", k)
    val in = MemoryStream[(String, Long)](spark)
    val q = SampleStream.run(in.toDF().toDF("lang", "doc_id"), store, s"$dir/ckpt")
    def sample = store.current.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    val batch1 = Seq.tabulate(20)(i => ("en", i.toLong)) ++ Seq(("de", 100L))
    val batch2 = Seq.tabulate(20)(i => ("en", (50 + i).toLong)) ++
      Seq(("de", 101L), ("fr", 200L))
    try {
      in.addData(batch1: _*)
      q.processAllAvailable()
      in.addData(batch2: _*)
      q.processAllAvailable()
      val expected = Splits.samplePerStratum(
          (batch1 ++ batch2).toDF("lang", "doc_id"), "doc_id", "lang", k)
        .select("lang", "doc_id", "sample_key").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
      assert(sample == expected, s"streamed $sample vs batch operator $expected")
      assert(sample.count(_._1 == "en") == k && sample.count(_._1 == "de") == 2)
    } finally q.stop()
    // idempotence + monotone guard: a re-delivered batch changes nothing
    val before = sample
    SampleStream.sink(store)(batch1.toDF("lang", "doc_id"), 0L)
    assert(sample == before, "replayed batch must not change the sample")
    // an empty batch keeps the very same table (no swap)
    val tbl = store.current
    SampleStream.sink(store)(Seq.empty[(String, Long)].toDF("lang", "doc_id"), 999L)
    assert(store.current eq tbl, "empty batch must keep the same table")
  }

  test("weightedSamplePerStratum: shard-invariant, per-stratum sizes, weight advantage") {
    import spark.implicits._
    val base = docs.select(col("doc_id"), col("lang"),
      (lit(1L) + col("n_chars") % 8).as("w"))
    def sampled(shards: Int) =
      Splits.weightedSamplePerStratum(base, "doc_id", "lang", col("w"),
          k = 5, maxWeight = 8, shards = shards)
        .select("doc_id", "lang", "weight", "sample_key")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
    val one = sampled(1)
    assert(sampled(8).toSet == one.toSet, "two-level merge must be bit-identical")
    val pops = base.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val sizes = one.groupBy(_._2).view.mapValues(_.size).toMap
    pops.foreach { case (lang, n) =>
      assert(sizes.getOrElse(lang, 0) == math.min(5L, n), s"stratum $lang")
    }
    // weight monotonicity IN DISTRIBUTION: weight-8 rows must be
    // over-represented vs their base rate within each selected stratum
    // sample on aggregate (same fixture property PropertySpec pins for
    // the global form); here assert the deterministic selection draws a
    // mean weight above the corpus mean
    val meanSel = one.map(_._3).sum.toDouble / one.length
    val meanAll = base.agg(avg(col("w"))).head.getDouble(0)
    assert(meanSel > meanAll, s"selected mean $meanSel <= corpus mean $meanAll")
    // out-of-range weight fails loudly
    val boom = intercept[Exception] {
      Splits.weightedSamplePerStratum(
        Seq((1L, "en", 9L)).toDF("doc_id", "lang", "w"),
        "doc_id", "lang", col("w"), k = 1, maxWeight = 8).collect()
    }
    assert(boom.getMessage != null)
  }

  test("entropyStats: uniform ceiling, zero floor without -0.0, stuffing scores lower") {
    import spark.implicits._
    val rows = Seq(
      (1L, "a b c d"),                    // uniform over 4 -> ln 4
      (2L, "spam spam spam spam"),        // single token -> 0.0
      (3L, "buy buy buy buy buy buy now"),// stuffed, same-ish length as 4
      (4L, "one two three four five six seven")).toDF("doc_id", "text")
    val got = TextAnalysis.entropyStats(rows).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(math.abs(got(0)._4 - math.log(4.0)) < 2e-6, s"got ${got(0)}")
    val zero = got(1)
    assert(zero == ((2L, 4L, 1L, 0.0)))
    assert(!(1.0 / zero._4).isNegInfinity, "zero entropy must not be -0.0")
    assert(got(2)._4 < got(3)._4, "keyword stuffing must score below diverse prose")
    assert(got(3)._4 > math.log(7.0) - 0.01, "distinct-token doc near its ceiling")
  }

  test("streaming ANN serving: streamed batches equal the batch operator; replay dropped") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    import graft.streaming.AnnServeStream
    val dir = Files.createTempDirectory("annserve").toString
    val index = AnnServeStream.buildIndex(emb, kCentroids = 4, iters = 2, k = 3, nprobe = 2)
    val store = new AnnServeStream.AnswerStore(spark, AnnServeStream.emptyAnswers(spark))
    val queryRows = emb.filter(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val in = MemoryStream[(Long, Seq[Float])](spark)
    val q = AnnServeStream.run(
      in.toDF().toDF("vec_id", "embedding"), store, index, s"$dir/ckpt")
    def answers = store.current.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    try {
      in.addData(queryRows.take(4).toSeq: _*)
      q.processAllAvailable()
      in.addData(queryRows.drop(4).toSeq: _*)
      q.processAllAvailable()
      val expected = Similarity.ivfTopK(
          emb, emb.filter(col("vec_id") < 10), index.centroids, k = 3, nprobe = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
      assert(answers == expected, s"streamed ${answers.size} vs batch ${expected.size}")
      assert(answers.map(_._1) == queryRows.map(_._1).toSet, "every query answered")
    } finally q.stop()
    // replay guard: re-delivering an old batch id must not append again
    val before = answers
    AnnServeStream.sink(store, index)(queryRows.take(4).toSeq.toDF("vec_id", "embedding"), 0L)
    assert(answers == before, "replayed batch must not duplicate answers")
    // an empty batch keeps the very same table
    val tbl = store.current
    AnnServeStream.sink(store, index)(
      Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding"), 999L)
    assert(store.current eq tbl, "empty batch must keep the same table")
  }

  test("stratifiedSampleByRates: equals the literal-map form; missing strata drop; rate 1 keeps all") {
    import spark.implicits._
    val base = docs.select(col("doc_id"), col("lang"))
    val langs = base.select("lang").distinct().collect().map(_.getString(0)).toSeq
    val fracs = langs.zipWithIndex.map { case (l, i) =>
      l -> Seq(0.25, 0.5, 1.0)(i % 3) }.toMap
    val rates = fracs.toSeq.toDF("lang", "sample_rate")
    val byRates = Splits.stratifiedSampleByRates(base, "doc_id", "lang", rates)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val byMap = Splits.stratifiedSample(base, "doc_id", "lang", fracs, defaultFraction = 0.0)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(byRates == byMap, "numeric 256-bucket test must equal the hex-threshold form")
    // rate-1.0 strata keep every row
    val full = langs.filter(l => fracs(l) == 1.0).toSet
    val pops = base.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    full.foreach { l =>
      assert(byRates.count(_._2 == l).toLong == pops(l), s"rate-1.0 stratum $l truncated")
    }
    // a stratum absent from the rates frame is dropped entirely
    val partial = Splits.stratifiedSampleByRates(
      base, "doc_id", "lang", rates.filter(col("lang") === langs.head))
    assert(partial.select("lang").distinct().collect().map(_.getString(0)).toSeq ==
      Seq(langs.head))
    // the corpus side must not exchange: broadcast join + row-local filter
    val plan = Splits.stratifiedSampleByRates(base, "doc_id", "lang", rates)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"rates must broadcast:\n$plan")
  }

  test("plan pins: int8 audit is exchange-free after the scale decision; entropy has no window") {
    // int8Quantize's returned frame is the CODING pass only — the scale
    // aggregation already ran eagerly (bounded global decision) and came
    // back as one literal array, so the audited plan must be a pure
    // narrow scan+project: zero Exchange of any kind
    val int8Plan = Similarity.int8Quantize(emb).queryExecution.executedPlan.toString
    assert(!int8Plan.contains("Exchange"),
      s"int8 coding pass must be narrow:\n$int8Plan")
    // entropyStats: deliberately NO window and no token-keyed join-back —
    // its exchanges are the (doc, token) and doc aggregations plus the
    // doc-keyed join only (the gramNovelty skew lesson applied at design
    // time); a Window node would mean a hot token's rows serialize
    val entPlan = TextAnalysis.entropyStats(docs).queryExecution.executedPlan.toString
    assert(!entPlan.toLowerCase.contains("window"),
      s"entropy must not window:\n$entPlan")
    assert(entPlan.contains("partial_count") || entPlan.contains("partial_sum"),
      s"entropy aggregations must combine map-side:\n$entPlan")
  }

  test("samplePerStratum plan: two TopKPerKey levels, exchanges keyed shard-then-stratum") {
    val base = docs.select(col("doc_id"), col("lang"))
    val plan = Splits.samplePerStratum(base, "doc_id", "lang", k = 5, shards = 16)
      .queryExecution.executedPlan.toString
    assert("TopKPerKey \\[".r.findAllIn(plan).size == 2,
      s"expected two bounded-heap levels:\n$plan")
    // level 1 clusters by (stratum, shard) — the hot-stratum split; level 2
    // by stratum alone over the ≤ shards·k survivors
    assert("Exchange hashpartitioning\\(lang[^)]*sample_shard".r.findFirstIn(plan).isDefined,
      s"level-1 exchange must key on (stratum, shard):\n$plan")
    assert(!plan.toLowerCase.contains("window"),
      s"no per-stratum window sort may appear:\n$plan")
  }

  test("radiusJoinBlocked: 3x3 stencil equals the all-pairs brute force; cell guard") {
    import spark.implicits._
    val rng = new scala.util.Random(21)
    val pts = (1L to 400L).map(_ =>
      (rng.nextLong().abs % 100000, rng.nextInt(1000).toLong, rng.nextInt(1000).toLong))
      .distinct.map { case (i, x, y) => (i, x, y) }.toDF("id", "x", "y")
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val blocked = pairs(Joins.radiusJoinBlocked(pts, radius = 50, cell = 64))
    // brute force: every pair, exact integer distance — the guarantee's
    // ground truth (cell >= radius makes the stencil exhaustive)
    val a = pts.select(col("id").as("id_a"), col("x").as("xa"), col("y").as("ya"))
    val brute = pairs(a.crossJoin(
        pts.select(col("id").as("id_b"), col("x").as("xb"), col("y").as("yb")))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        ((col("xa") - col("xb")) * (col("xa") - col("xb")) +
          (col("ya") - col("yb")) * (col("ya") - col("yb"))).as("dist2"))
      .filter(col("dist2") <= 2500L))
    assert(brute.nonEmpty, "fixture must exercise real pairs")
    assert(blocked == brute, s"blocked must equal brute: ${blocked.size} vs ${brute.size}")
    // boundary: dist2 == radius² is INSIDE the closed ball
    assert(pairs(Joins.radiusJoinBlocked(
      Seq((1L, 0L, 0L), (2L, 3L, 4L)).toDF("id", "x", "y"),
      radius = 5, cell = 8)) == Set((1L, 2L, 25L)))
    // cell < radius voids the stencil guarantee — refused loudly
    intercept[IllegalArgumentException](
      Joins.radiusJoinBlocked(pts, radius = 100, cell = 64))
    // NEGATIVE coordinates: floor snapping keeps the guarantee across
    // the axes (truncating div would fold cells −1 and 0 together and
    // a straddling pair could still be found, but a pair entirely in
    // the negative quadrant at cell distance would be missed — this
    // fixture puts pairs across zero and deep in the negative quadrant)
    val neg = Seq((1L, -3L, -4L), (2L, 3L, 4L), (3L, -200L, -200L),
      (4L, -205L, -195L), (5L, -90L, -90L)).toDF("id", "x", "y")
    assert(pairs(Joins.radiusJoinBlocked(neg, radius = 10, cell = 16)) ==
      Set((1L, 2L, 100L), (3L, 4L, 50L)))
    // PLAN PIN: the stencil is an EQUI-join on the grid cell — a θ-join
    // plan (BNLJ/cartesian) would mean the blocking never reached the key
    val plan = Joins.radiusJoinBlocked(pts, radius = 50, cell = 64)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), s"radius join must key on the cell:\n$plan")
  }

  test("radiusJoin2: cross-frame stencil equals brute force; negative quadrant; no self pairs lost") {
    import spark.implicits._
    val rng = new scala.util.Random(43)
    // points and sites both span all four quadrants
    val pts = (1L to 300L).map(i =>
      (i, rng.nextInt(1000).toLong - 500, rng.nextInt(1000).toLong - 500))
      .toDF("id", "x", "y")
    val sites = (1L to 40L).map(i =>
      (i, rng.nextInt(1000).toLong - 500, rng.nextInt(1000).toLong - 500))
      .toDF("id", "x", "y")
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val blocked = pairs(Joins.radiusJoin2(pts, sites, radius = 60, cell = 64))
    val brute = pairs(
      pts.select(col("id").as("point_id"), col("x").as("xa"), col("y").as("ya"))
        .crossJoin(sites.select(col("id").as("site_id"),
          col("x").as("xb"), col("y").as("yb")))
        .select(col("point_id"), col("site_id"),
          ((col("xa") - col("xb")) * (col("xa") - col("xb")) +
            (col("ya") - col("yb")) * (col("ya") - col("yb"))).as("dist2"))
        .filter(col("dist2") <= 3600L))
    assert(brute.nonEmpty, "fixture must exercise real pairs")
    assert(blocked == brute, s"cross-frame blocked must equal brute: ${blocked.size} vs ${brute.size}")
    // unlike the self-join, SAME id on both frames is a legitimate pair
    // (they are different entities), and coincident coordinates emit
    // with dist2 = 0 — no id_a < id_b canonicalization may drop them
    val p1 = Seq((7L, -10L, -10L)).toDF("id", "x", "y")
    val s1 = Seq((7L, -10L, -10L), (3L, -13L, -14L)).toDF("id", "x", "y")
    assert(pairs(Joins.radiusJoin2(p1, s1, radius = 5, cell = 8)) ==
      Set((7L, 7L, 0L), (7L, 3L, 25L)))
    // deep-negative-quadrant pair at cell distance: floor snap keeps it
    val pn = Seq((1L, -200L, -200L)).toDF("id", "x", "y")
    val sn = Seq((2L, -205L, -195L), (3L, 180L, 180L)).toDF("id", "x", "y")
    assert(pairs(Joins.radiusJoin2(pn, sn, radius = 10, cell = 16)) ==
      Set((1L, 2L, 50L)))
    intercept[IllegalArgumentException](
      Joins.radiusJoin2(pts, sites, radius = 100, cell = 64))
    val plan = Joins.radiusJoin2(pts, sites, radius = 60, cell = 64)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), s"cross-frame radius join must key on the cell:\n$plan")
  }

  test("entity resolution composition: transitive closure merges a Levenshtein chain") {
    import spark.implicits._
    // a dist-1 chain whose ENDS are dist 4 apart — only the closure
    // makes them one entity; a same-name row in another block must NOT
    // merge (blocking is the contract), and singletons survive
    val df = Seq(
      (1L, "blk1", "aaaa"), (2L, "blk1", "aaab"), (3L, "blk1", "aabb"),
      (4L, "blk1", "abbb"), (5L, "blk1", "bbbb"),
      (6L, "blk2", "aaaa"), (7L, "blk2", "zzzz")).toDF("id", "blk", "name")
    val pairs = Joins.blockedFuzzyJoin(df, Seq("blk"), "id", "name", maxDist = 1)
      .select(col("u_key").as("doc_a"), col("v_key").as("doc_b"))
    val comp = Dedup.components(pairs).withColumnRenamed("doc_id", "id")
    val ent = df.select(col("id")).join(comp, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("entity"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 5L).map(ent).toSet == Set(1L), ent.toString)
    assert(ent(6L) == 6L && ent(7L) == 7L, ent.toString)
    Dedup.uncacheAll()
  }

  test("pairRules: NULL-basket rows never pair (the self-join's null-rejecting semantics)") {
    import spark.implicits._
    import graft.operators.{Assoc, Dedup}
    // the row-local array form must not collapse NULL-basket rows into
    // one pseudo-basket: only basket 1 pairs; the NULL rows still count
    // into n_item (the old join's exact behavior)
    val bi = Seq(
      (Some(1L), "x"), (Some(1L), "y"),
      (None, "x"), (None, "y"), (None, "z")
    ).toDF("basket", "item")
    val out = Assoc.pairRules(bi).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.toSeq == Seq(("x", "y", 1L, 2L, 2L)),
      s"NULL baskets must not pair; n_item must still count them: ${out.toSeq}")
    Dedup.uncacheAll()
  }

  test("pairRules: closed-form support/confidence/lift; incidence dedup; prune") {
    import spark.implicits._
    // 4 baskets: {a,b}, {a,b}, {a,c}, {b} (with a duplicated incidence
    // row that must dedup) — n_a=3, n_b=3, n_c=1, pair ab=2, ac=1
    val bi = Seq((1L, "a"), (1L, "b"), (1L, "a"), (2L, "a"), (2L, "b"),
      (3L, "a"), (3L, "c"), (4L, "b")).toDF("basket", "item")
    val r = Assoc.pairRules(bi).collect()
      .map(x => (x.getString(0), x.getString(1)) ->
        ((x.getLong(2), x.getLong(3), x.getLong(4), x.getLong(5),
          x.getLong(6), x.getLong(7), x.getLong(8)))).toMap
    // ab: support 2/4, conf a→b 2/3, conf b→a 2/3, lift 2·4/(3·3)
    assert(r(("a", "b")) ==
      ((2L, 3L, 3L, 500000L, 666666L, 666666L, 888888L)), r(("a", "b")).toString)
    // ac: support 1/4, conf a→c 1/3, conf c→a 1/1, lift 1·4/(3·1)
    assert(r(("a", "c")) ==
      ((1L, 3L, 1L, 250000L, 333333L, 1000000L, 1333333L)), r(("a", "c")).toString)
    assert(r.size == 2, s"bc never co-occurs: $r")
    Dedup.uncacheAll()
    // the A-priori prune drops the singleton pair before scoring
    val pruned = Assoc.pairRules(bi, minPairN = 2).collect()
    assert(pruned.length == 1 && pruned.head.getString(0) == "a"
      && pruned.head.getString(1) == "b")
    // PLAN PIN: the pair expansion is an EQUI-join on the basket id —
    // the ONLY nested-loop allowed is the deliberate 1-row n_baskets
    // scalar cross (the broadcast-bounded-global pattern)
    val plan = Assoc.pairRules(bi).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"no cartesian:\n$plan")
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).size <= 1,
      s"only the 1-row scalar cross may nested-loop:\n$plan")
    Dedup.uncacheAll()
  }

  test("pairRules: viral-basket guard excludes oversized baskets from pairing only") {
    import spark.implicits._
    import graft.operators.{Assoc, Dedup}
    // basket 1 is "hot" (5 items > cap 3) — it must pair NOTHING, but its
    // items still count into n_item and it still counts into n_baskets
    // (the NULL-basket treatment); baskets 2 and 3 pair normally
    val bi = Seq(
      (1L, "a"), (1L, "b"), (1L, "c"), (1L, "d"), (1L, "e"),
      (2L, "a"), (2L, "b"), (3L, "a"), (3L, "b")).toDF("basket", "item")
    val capped = Assoc.pairRules(bi, maxBasketItems = 3).collect()
      .map(x => (x.getString(0), x.getString(1)) ->
        ((x.getLong(2), x.getLong(3), x.getLong(4), x.getLong(5)))).toMap
    // only ab survives: n_pair 2 (baskets 2,3 — NOT basket 1), n_a 3,
    // n_b 3 (basket 1's incidence still counted), support 2/3 baskets
    assert(capped.keySet == Set(("a", "b")), capped.toString)
    assert(capped(("a", "b")) == ((2L, 3L, 3L, 666666L)), capped.toString)
    // the audit companion names exactly the excluded basket and its size
    val audit = Assoc.oversizedBaskets(bi, maxBasketItems = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(audit.toSeq == Seq((1L, 5L)), audit.toSeq.toString)
    // a generous cap is a no-op: identical pair set to the unguarded form
    assert(Assoc.oversizedBaskets(bi, maxBasketItems = 5).count() == 0L)
    val loose = Assoc.pairRules(bi, maxBasketItems = 5).collect().length
    assert(loose == 10, s"cap 5 must pair all C(5,2) of basket 1: $loose")
    Dedup.uncacheAll()
    // loud mode: the oversized basket raises a descriptive plan-side error
    val e = intercept[Exception] {
      Assoc.pairRules(bi, maxBasketItems = 3, failOnOversized = true).collect()
    }
    val msg = Option(e.getMessage).getOrElse("") +
      Option(e.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
    assert(msg.contains("maxBasketItems=3") && msg.contains("5 items"),
      s"error must name the cap and the size: $msg")
    Dedup.uncacheAll()
  }

  test("jackknifeVariance: replicate means match the hand fold; 1-row groups vanish") {
    import spark.implicits._
    val rows = (1L to 40L).map(i => ("a", i, i * 1000L)) :+ (("solo", 99L, 5L))
    val df = rows.toDF("k", "id", "v")
    val r = Hygiene.jackknifeVariance(df, "k", "v", "id", buckets = 4, scale = 10L)
      .collect().map(x => x.getString(0) ->
        ((x.getLong(1), x.getLong(2), x.getLong(3),
          if (x.isNullAt(4)) -1L else x.getLong(4)))).toMap
    // recompute the folds from the contract hash and fold by hand
    val bkt = df.filter(col("k") === "a")
      .select(col("id"),
        expr("CAST(conv(substring(md5(CAST(id AS STRING)),1,1),16,10) AS BIGINT) % 4"))
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val vs = (1L to 40L).map(i => (bkt(i), i * 1000L))
    val (t, n) = (vs.map(_._2).sum, 40L)
    val ms = (0L to 3L).flatMap { b =>
      val (tb, nb) = (vs.filter(_._1 == b).map(_._2).sum, vs.count(_._1 == b).toLong)
      if (n > nb) Some(10L * (t - tb) / (n - nb)) else None
    }
    val (bN, sm, smm) = (ms.size.toLong, ms.sum, ms.map(m => m * m).sum)
    val mbar = sm / bN
    val wantVar = (bN - 1) * (smm - 2 * mbar * sm + bN * mbar * mbar) / bN
    assert(r("a") == ((n, 10L * t / n, bN, wantVar)), s"${r("a")} vs var $wantVar")
    assert(bN == 4L, "fixture must populate all folds")
    // the 1-row group has no valid leave-one-out replicate: absent by contract
    assert(!r.contains("solo"), r.toString)
  }

  test("quantileNormalize: per-source percentiles, shared ties, 1-row source pins 0") {
    import spark.implicits._
    // source A: scores 10,20,20,40 — ranks 1,2,2,4 over n=4 → pct 0,
    // 333333, 333333, 1000000; source B: single row → 0
    val df = Seq((1L, "A", 10L), (2L, "A", 20L), (3L, "A", 20L),
      (4L, "A", 40L), (5L, "B", 99L)).toDF("doc_id", "source", "score")
    val r = Hygiene.quantileNormalize(df, "source", "score", Seq("doc_id"))
      .collect().map(x => x.getLong(0) -> ((x.getLong(3), x.getLong(4)))).toMap
    assert(r == Map(
      1L -> ((0L, 0L)), 2L -> ((333333L, 3L)), 3L -> ((333333L, 3L)),
      4L -> ((1000000L, 9L)), 5L -> ((0L, 0L))), r.toString)
  }

  test("quantileNormalizeHist: decile = boundaries <= score; no window in the plan") {
    import spark.implicits._
    // source A: 1..10 — boundaries at q=0.1..0.9 are ranks ⌊q·9⌋ →
    // values 1,2,3,4,5,6,7,8,9 (0-based); score s counts boundaries ≤ s
    val df = (1L to 10L).map(i => (i, "A", i.toLong)).toDF("doc_id", "source", "score")
    val op = Hygiene.quantileNormalizeHist(df, "source", "score", Seq("doc_id"))
    // join on the group key moves it first: (source, doc_id, score, decile)
    val r = op.collect().map(x => x.getLong(1) -> x.getLong(3)).toMap
    assert(r == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L, 5L -> 5L,
      6L -> 6L, 7L -> 7L, 8L -> 8L, 9L -> 9L, 10L -> 9L), r.toString)
    // ties still calibrate identically (pure function of the score)
    val t2 = Seq((1L, "B", 5L), (2L, "B", 5L), (3L, "B", 9L), (4L, "B", 1L))
      .toDF("doc_id", "source", "score")
    val rt = Hygiene.quantileNormalizeHist(t2, "source", "score", Seq("doc_id"))
      .collect().map(x => x.getLong(1) -> x.getLong(3)).toMap
    assert(rt(1L) == rt(2L), rt.toString)
    // PLAN PIN: the scale claim — no per-ROW rank/percent window over
    // the corpus frame (the rank form's signature). groupedSelectRanks'
    // internal cumulative over its ≤4096 histogram BINS is allowed:
    // that window moves bounded bin rows, never the group's rows.
    val plan = op.queryExecution.executedPlan.toString
    assert(!plan.contains("rank(") && !plan.contains("row_number("),
      s"hist form must not rank rows:\n$plan")
    Dedup.uncacheAll()
  }

  test("sampledAggHt: HT inflation is exactly 1/p over the deterministic md5 sample") {
    import spark.implicits._
    val df = (1L to 400L).map(i => (i, if (i % 2 == 0) "even" else "odd", i * 10))
      .toDF("rid", "grp", "v")
    val r = Splits.sampledAggHt(df, "rid", Seq("grp"), "v", num = 32).collect()
      .map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3),
        x.getLong(4), x.getLong(5), x.getLong(6)))).toMap
    // recompute the membership from the same contract predicate and fold
    // the expected estimates by hand
    val inSample = df.filter(expr("substring(md5(CAST(rid AS STRING)),1,2) < '20'"))
      .select("rid").collect().map(_.getLong(0)).toSet
    assert(inSample.nonEmpty && inSample.size < 400, s"fixture must sample strictly: ${inSample.size}")
    Seq("even", "odd").foreach { g =>
      val all = (1L to 400L).filter(i => (i % 2 == 0) == (g == "even"))
      val s = all.filter(inSample)
      val (ne, se) = (all.size.toLong, all.map(_ * 10).sum)
      val (ns, ss) = (s.size.toLong, s.map(_ * 10).sum)
      val (estN, estSum) = (ns * 256 / 32, ss * 256 / 32)
      val err = 1000000 * math.abs(estSum - se) / se
      assert(r(g) == ((ne, se, ns, estN, estSum, err)), s"$g: ${r(g)}")
    }
    // determinism: a second run reproduces the identical estimates
    val r2 = Splits.sampledAggHt(df, "rid", Seq("grp"), "v", num = 32).collect()
      .map(x => x.getString(0) -> x.getLong(4)).toMap
    assert(Seq("even", "odd").forall(g => r2(g) == r(g)._4))
    // NEGATIVE sums: the sign·abs form truncates toward zero exactly
    // like Scala integer division — a bare DIV/floor split would differ
    val neg = (1L to 400L).map(i => (i, "all", -i * 10)).toDF("rid", "grp", "v")
    val rn = Splits.sampledAggHt(neg, "rid", Seq("grp"), "v", num = 32)
      .collect().map(x => x.getString(0) -> x.getLong(5)).toMap
    val ss = (1L to 400L).filter(inSample).map(-_ * 10L).sum
    assert(rn("all") == ss * 256 / 32, s"${rn("all")} vs ${ss * 256 / 32}")
    // num=256 is p=1 (sample everything): estimates must equal the exact
    // side with zero error. Guards the lexicographic trap where the
    // threshold f"$num%02x" would yield "100" < "ff" and silently sample
    // only buckets 00..0f while inflating by 1 — clamped to "zz".
    val rf = Splits.sampledAggHt(df, "rid", Seq("grp"), "v", num = 256).collect()
    rf.foreach { x =>
      assert(x.getLong(3) == x.getLong(1), s"p=1 must sample all rows: $x")
      assert(x.getLong(4) == x.getLong(1) && x.getLong(5) == x.getLong(2),
        s"p=1 estimates must be exact: $x")
      assert(x.getLong(6) == 0L, s"p=1 err_ppm must be 0: $x")
    }
  }

  test("tClosenessAudit: pure groups hit EMD 1/2, balanced group 0, zeros via dense grid") {
    import spark.implicits._
    // global is 50/50 over levels {0,1}; A and B are pure (EMD = 1/2 →
    // 500000 ppm, each via a level ABSENT from its cells — the dense-grid
    // zero), C mirrors the global mix (EMD 0)
    val rows = Seq.fill(4)(("A", 0L)) ++ Seq.fill(4)(("B", 1L)) ++
      Seq(("C", 0L), ("C", 0L), ("C", 1L), ("C", 1L))
    val r = Hygiene.tClosenessAudit(
        rows.toDF("g", "lvl"), Seq("g"), "lvl", tPpm = 400000)
      .collect().map(x => x.getString(0) ->
        ((x.getLong(1), x.getLong(2), x.getBoolean(3)))).toMap
    assert(r == Map(
      "A" -> ((4L, 500000L, true)),
      "B" -> ((4L, 500000L, true)),
      "C" -> ((4L, 0L, false))), r.toString)
    Dedup.uncacheAll()
  }

  test("tClosenessAudit: a non-integral sensitive column fails loudly, not EMD 0") {
    import spark.implicits._
    def chain(t: Throwable): String =
      if (t == null) "" else s"${t.getMessage}|${chain(t.getCause)}"
    // the common mistake: a CATEGORICAL sensitive attribute passed raw.
    // A silent cast-to-NULL would collapse every level into one bucket
    // and report EMD 0 — a PASSING privacy audit on garbage input.
    val bad = Seq(("g1", "cancer"), ("g1", "flu"), ("g2", "flu"))
      .toDF("g", "diag")
    val ex = intercept[Exception] {
      Hygiene.tClosenessAudit(bad, Seq("g"), "diag", tPpm = 0).collect()
    }
    assert(chain(ex).contains("not integral"), chain(ex))
    Dedup.uncacheAll()
    // integral-encoded strings still cast per the contract; genuine NULLs
    // keep their own level group as before
    val ok = Seq(("g1", "0"), ("g1", "1"), ("g2", null)).toDF("g", "lvl")
    assert(Hygiene.tClosenessAudit(ok, Seq("g"), "lvl", tPpm = 0)
      .count() == 2L)
    Dedup.uncacheAll()
  }

  test("forecastBaselines: seasonal pattern beats persistence; support is both-defined") {
    import spark.implicits._
    // a clean period-3 pattern (10,20,30 repeating): the seasonal-naive
    // is perfect (MAE 0 → ratio NULL guard exercised by... no: sae_s=0
    // so mase is NULL); persistence errs |10|,|10|,|20| per cycle
    val s = (1L to 12L).map(i => (i, Seq(10L, 20L, 30L)((i % 3).toInt)))
      .toDF("bucket", "v")
    val r = Temporal.forecastBaselines(s, season = 3).collect().head
    // eval support = buckets 4..12 (9 rows — the first `season` drop)
    assert(r.getLong(0) == 9L, r.toString)
    // persistence diffs per step on this pattern: 10,10,20 repeating → 120/9
    assert(r.getLong(1) == 13L && r.getLong(2) == 0L, r.toString)
    assert(r.isNullAt(3), "perfect seasonal fit must NULL the ratio, not div0")
    // a trend series flips it: persistence wins, ratio < 1e6
    val t = (1L to 12L).map(i => (i, i * 10L)).toDF("bucket", "v")
    val rt = Temporal.forecastBaselines(t, season = 3).collect().head
    assert(rt.getLong(1) == 10L && rt.getLong(2) == 30L, rt.toString)
    assert(rt.getLong(3) == 333333L, rt.toString)
  }

  test("cusumChangepoints: level shift peaks at the last pre-shift bucket; ties flag once") {
    import spark.implicits._
    // 10,10,10 → 50,50,50: T = 180, n = 6; n·S_i = −120,−240,−360,−240,
    // −120,0 — |peak| at bucket 3, the last pre-shift point
    val s = Seq((1L, 10L), (2L, 10L), (3L, 10L),
      (4L, 50L), (5L, 50L), (6L, 50L)).toDF("bucket", "v")
    val r = Temporal.cusumChangepoints(s).collect()
      .map(x => x.getLong(0) -> ((x.getLong(2), x.getBoolean(3)))).toMap
    assert(r.map { case (b, (c, _)) => b -> c } ==
      Map(1L -> -120L, 2L -> -240L, 3L -> -360L, 4L -> -240L, 5L -> -120L, 6L -> 0L),
      r.toString)
    assert(r.filter(_._2._2).keySet == Set(3L), r.toString)
    Dedup.uncacheAll()
    // a constant series has S ≡ 0 everywhere: the tie flags only the
    // smallest bucket, never many
    val flat = Seq((1L, 7L), (2L, 7L), (3L, 7L)).toDF("bucket", "v")
    val rf = Temporal.cusumChangepoints(flat).collect()
      .map(x => (x.getLong(0), x.getLong(2), x.getBoolean(3)))
    assert(rf.forall(_._2 == 0L) && rf.filter(_._3).map(_._1).toSeq == Seq(1L), rf.mkString(","))
    Dedup.uncacheAll()
  }

  test("seasonalDecompose: exact trend/seasonal/residual recovery; honest NULL edges") {
    import spark.implicits._
    // v = 3b + p(b mod 3) with p = (0, 30, 60): the centered 3-window MA
    // is exactly 3b + 30, the detrended series is exactly p − 30, so the
    // decomposition recovers everything with ZERO residual — any
    // truncation slip shows up as a nonzero residual integer
    val s = (1L to 9L).map(b => (b, 3 * b + Seq(0L, 30L, 60L)((b % 3).toInt)))
      .toDF("bucket", "v")
    val r = Temporal.seasonalDecompose(s, season = 3).collect()
      .map(x => x.getLong(0) -> ((Option(x.get(3)).map(_.asInstanceOf[Long]),
        Option(x.get(4)).map(_.asInstanceOf[Long]),
        Option(x.get(5)).map(_.asInstanceOf[Long])))).toMap
    (2L to 8L).foreach { b =>
      val exp = ((3 * b + 30) * 1000000L,
        (Seq(0L, 30L, 60L)((b % 3).toInt) - 30L) * 1000000L)
      assert(r(b) == ((Some(exp._1), Some(exp._2), Some(0L))), s"b=$b: ${r(b)}")
    }
    // edge buckets: no full centered window → trend and residual NULL,
    // the phase's seasonal index still attaches
    assert(r(1L) == ((None, Some(0L), None)), r(1L).toString)
    assert(r(9L) == ((None, Some(-30000000L), None)), r(9L).toString)
  }

  test("seasonalAnomalies: a spike flags; a clean seasonal series flags nothing") {
    import spark.implicits._
    def series(spike: Boolean) = (1L to 18L).map { b =>
      val base = Seq(0L, 30L, 60L)((b % 3).toInt)
      (b, if (spike && b == 9L) base + 3000L else base)
    }.toDF("bucket", "v")
    // clean periodic series: every residual is exactly 0 → dmed2 = 0 and
    // the strict > means NOTHING flags (a zero-MAD series is not "all
    // anomalous")
    val clean = Temporal.seasonalAnomalies(series(spike = false), season = 3)
      .collect()
    assert(clean.nonEmpty && clean.forall(!_.getBoolean(5)), clean.mkString(","))
    Dedup.uncacheAll()
    // spiked series: the operator must equal the hand-computed Hampel
    // algebra over its own decomposition's residuals (percentile(0.5)
    // interpolation replicated exactly), and the spike bucket must flag
    val dec = Temporal.seasonalDecompose(series(spike = true), season = 3)
      .filter(col("residual_e6").isNotNull)
      .collect().map(x => x.getLong(0) -> x.getLong(5)).toMap
    def med2Of(xs: Seq[Long]): Long = {
      val s = xs.sorted
      if (s.size % 2 == 1) 2 * s(s.size / 2)
      else s(s.size / 2 - 1) + s(s.size / 2)
    }
    val med2 = med2Of(dec.values.toSeq)
    val devs = dec.map { case (b, r) => b -> math.abs(2 * r - med2) }
    val dmed2 = med2Of(devs.values.toSeq)
    val expect = devs.map { case (b, d) => b -> (d * 2 > dmed2 * 3) }
    val got = Temporal.seasonalAnomalies(series(spike = true), season = 3)
      .collect().map(x => x.getLong(0) -> x.getBoolean(5)).toMap
    assert(got == expect, s"$got vs $expect")
    assert(got(9L), "the spiked bucket must flag")
    Dedup.uncacheAll()
  }

  test("scoreAuc: exact Mann–Whitney with ties; perfect separation; one-class NULL") {
    import spark.implicits._
    // pos {10, 20}, neg {5, 10}: U = 3.5 of 4 pairs (one tie at 10)
    val df = Seq((10L, 1L), (20L, 1L), (5L, 0L), (10L, 0L)).toDF("s", "y")
    val r = Hygiene.scoreAuc(df, "s", "y").head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((2L, 2L, 7L, 875000L)), r.toString)
    // perfect separation → exactly 10⁶
    val p = Hygiene.scoreAuc(
      Seq((10L, 1L), (20L, 1L), (1L, 0L), (2L, 0L)).toDF("s", "y"), "s", "y").head
    assert(p.getLong(3) == 1000000L, p.toString)
    // a single class has no ranking question: NULL, not div0
    val o = Hygiene.scoreAuc(Seq((10L, 1L), (20L, 1L)).toDF("s", "y"), "s", "y").head
    assert(o.isNullAt(3), o.toString)
  }

  test("kaplanMeier: exact stepwise-floored survival; last day hits zero") {
    import spark.implicits._
    // churn days from last activity: u1,u2 → day 1; u3 → day 2; u4 →
    // day 4 (u1's day-0 event is not churn — last day wins).
    // S(1) = ⌊10⁶·2/4⌋ = 500000; S(2) = ⌊500000·1/2⌋ = 250000;
    // S(4) = ⌊250000·0/1⌋ = 0 — everyone eventually churns in the
    // uncensored model
    val ev = Seq((1L, 0L), (1L, 1L), (2L, 1L), (3L, 2L), (4L, 4L))
      .toDF("user_id", "day")
    val r = Temporal.kaplanMeier(ev, "user_id", "day").collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3))))
      .toMap
    assert(r == Map(
      1L -> ((4L, 2L, 500000L)),
      2L -> ((2L, 1L, 250000L)),
      4L -> ((1L, 1L, 0L))), r.toString)
    // a single churn day: the curve is one step from 10⁶·0
    val one = Temporal.kaplanMeier(
      Seq((1L, 5L), (2L, 5L)).toDF("user_id", "day"), "user_id", "day")
      .collect()
    assert(one.map(x => (x.getLong(0), x.getLong(3))).toSeq == Seq((5L, 0L)))
  }

  test("scoreAucByKey: each key equals the global operator on its slice") {
    import spark.implicits._
    // key A: the tie fixture (AUC 0.875); key B: perfect separation;
    // key C: one class (NULL) — three answers from one frame
    val df = (Seq((10L, 1L), (20L, 1L), (5L, 0L), (10L, 0L)).map(("A", _)) ++
      Seq((10L, 1L), (20L, 1L), (1L, 0L), (2L, 0L)).map(("B", _)) ++
      Seq((10L, 1L), (20L, 1L)).map(("C", _)))
      .map { case (k, (s, y)) => (k, s, y) }.toDF("k", "s", "y")
    val r = Hygiene.scoreAucByKey(df, "k", "s", "y").collect()
      .map(x => x.getString(0) -> Option(x.get(4)).map(_.asInstanceOf[Long]))
      .toMap
    assert(r == Map("A" -> Some(875000L), "B" -> Some(1000000L), "C" -> None),
      r.toString)
    Seq("A", "B", "C").foreach { k =>
      val solo = Hygiene.scoreAuc(
        df.filter(col("k") === k).select("s", "y"), "s", "y").head
      val mine = Hygiene.scoreAucByKey(df, "k", "s", "y")
        .filter(col("key") === k).head
      assert(mine.toSeq.drop(1) == solo.toSeq, s"key $k: $mine vs $solo")
    }
  }

  test("cusumSegments: two planted shifts recovered at depth 2; flat never splits") {
    import spark.implicits._
    // 10×4 → 50×4 → 10×4: level 1 splits once at a shift, level 2 finds
    // the other inside a child — three final segments, means 10/50/10
    val s = ((1L to 4L).map((_, 10L)) ++ (5L to 8L).map((_, 50L)) ++
      (9L to 12L).map((_, 10L))).toDF("bucket", "v")
    val r = Temporal.cusumSegments(s, depth = 2).collect()
      .map(x => x.getLong(0) ->
        ((x.getLong(2), x.getLong(3), x.getLong(4), x.getBoolean(5))))
      .toMap
    val segs = r.values.map(_._1).toSet
    assert(r.keySet == (1L to 12L).toSet)
    assert(segs.size == 3, s"expected 3 segments: $r")
    // segment membership follows the planted levels exactly
    assert((1L to 4L).map(r(_)._1).toSet.size == 1)
    assert((5L to 8L).map(r(_)._1).toSet.size == 1)
    assert((9L to 12L).map(r(_)._1).toSet.size == 1)
    assert(r(1L)._1 != r(5L)._1 && r(5L)._1 != r(9L)._1 && r(1L)._1 != r(9L)._1)
    // per-segment stats: 4 rows each, sums 40/200/40; one boundary per segment
    assert(Seq(1L, 5L, 9L).map(b => (r(b)._2, r(b)._3)) ==
      Seq((4L, 40L), (4L, 200L), (4L, 40L)), r.toString)
    assert(r.count(_._2._4) == 3)
    // a flat series never splits: one segment at any depth
    val flat = (1L to 6L).map((_, 7L)).toDF("bucket", "v")
    val rf = Temporal.cusumSegments(flat, depth = 3).collect()
    assert(rf.map(_.getLong(2)).toSet.size == 1 &&
      rf.forall(x => x.getLong(3) == 6L && x.getLong(4) == 42L))
    // depth 1 ≡ the single-peak operator's split: exactly 2 segments
    val one = Temporal.cusumSegments(s, depth = 1).collect()
      .map(x => x.getLong(0) -> x.getLong(2)).toMap
    assert(one.values.toSet.size == 2)
    Dedup.uncacheAll()
  }

  test("cusumSegmentsByKey: each key segments exactly as the global operator would") {
    import spark.implicits._
    // key A: the two-shift series (3 segments at depth 2); key B: one
    // shift (2 segments); key C: flat (never splits)
    val sA = (1L to 4L).map((_, 10L)) ++ (5L to 8L).map((_, 50L)) ++
      (9L to 12L).map((_, 10L))
    val sB = Seq((1L, 100L), (2L, 100L), (3L, 20L), (4L, 20L))
    val sC = (1L to 5L).map((_, 7L))
    val all = (sA.map { case (b, v) => ("A", b, v) } ++
      sB.map { case (b, v) => ("B", b, v) } ++
      sC.map { case (b, v) => ("C", b, v) }).toDF("key", "bucket", "v")
    val r = Temporal.cusumSegmentsByKey(all, depth = 2).collect()
      .map(x => (x.getString(0), x.getLong(1)) ->
        ((x.getLong(3), x.getLong(4), x.getLong(5), x.getBoolean(6)))).toMap
    Seq("A" -> sA, "B" -> sB.toSeq, "C" -> sC).foreach { case (k, s) =>
      val solo = Temporal.cusumSegments(s.toDF("bucket", "v"), depth = 2)
        .collect().map(x => x.getLong(0) ->
          ((x.getLong(2), x.getLong(3), x.getLong(4), x.getBoolean(5)))).toMap
      val mine = r.collect { case ((`k`, b), t) => b -> t }.toMap
      assert(mine == solo, s"key $k: $mine vs $solo")
    }
    // the composite: 3 + 2 + 1 = 6 segments over the whole frame
    assert(r.toSeq.map { case ((k, _), (seg, _, _, _)) => (k, seg) }
      .toSet.size == 6)
  }

  test("cusumChangepointsByKey: per-key shifts flag independently; equals global per key") {
    import spark.implicits._
    // key A shifts after bucket 3 (10→50), key B after bucket 2 (100→20),
    // key C is flat — three different answers from one frame
    val s = (Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 50L), (5L, 50L), (6L, 50L))
        .map { case (b, v) => ("A", b, v) } ++
      Seq((1L, 100L), (2L, 100L), (3L, 20L), (4L, 20L))
        .map { case (b, v) => ("B", b, v) } ++
      Seq((1L, 7L), (2L, 7L), (3L, 7L)).map { case (b, v) => ("C", b, v) })
      .toDF("key", "bucket", "v")
    val r = Temporal.cusumChangepointsByKey(s).collect()
      .map(x => (x.getString(0), x.getLong(1)) -> ((x.getLong(3), x.getBoolean(4))))
      .toMap
    // each key's statistic and flag must equal the GLOBAL operator run on
    // that key's series alone — the contract the scaladoc states
    Seq("A", "B", "C").foreach { k =>
      val solo = Temporal.cusumChangepoints(
          s.filter(col("key") === k).select("bucket", "v")).collect()
        .map(x => x.getLong(0) -> ((x.getLong(2), x.getBoolean(3)))).toMap
      Dedup.uncacheAll()
      val mine = r.collect { case ((`k`, b), cv) => b -> cv }.toMap
      assert(mine == solo, s"key $k: $mine vs $solo")
    }
    // spot values: B's peak is bucket 2 (last pre-shift), C ties to bucket 1
    assert(r(("B", 2L))._2 && !r(("B", 3L))._2)
    assert(r(("C", 1L)) == ((0L, true)))
    // the whole thing is ONE exchange: a single hash-partitioning on key
    val plan = Temporal.cusumChangepointsByKey(s).queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      s"per-key cusum must reuse one keyed exchange:\n$plan")
  }

  test("coalesceIntervals: overlap merges, touch merges, gaps split, nested absorbed") {
    import spark.implicits._
    val iv = Seq(
      (1L, 0L, 10L), (1L, 5L, 12L), // overlap → one span
      (1L, 12L, 15L),               // touches the running end → merges (closed intervals)
      (1L, 16L, 20L),               // strict gap → new span
      (2L, 0L, 2L),                 // other key isolated
      (1L, 1L, 3L)                  // nested inside the first span
    ).toDF("k", "s", "e")
    val plan = Temporal.coalesceIntervals(iv, "k", "s", "e")
    val got = plan.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(got == Set(
      (1L, 1L, 0L, 15L, 4L), (1L, 2L, 16L, 20L, 1L), (2L, 1L, 0L, 2L, 1L)), got)
    // the flag window and its cumsum share one (key) exchange + sort; the
    // span aggregation adds at most one more — never a third
    val p = plan.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2, s"extra exchange:\n$p")
  }

  test("funnel: order and strictness enforced; retention triangle exact") {
    import spark.implicits._
    val ev = Seq(
      // u1 converts fully in order
      (1L, "view", 100L), (1L, "click", 200L), (1L, "purchase", 300L),
      // u2's click precedes its first view → stops at step 1
      (2L, "click", 50L), (2L, "view", 100L),
      // u3's click ties the view timestamp → strictly-after excludes it
      (3L, "view", 100L), (3L, "click", 100L),
      // u4 re-views then converts late: the greedy earliest chain still
      // catches the later click
      (4L, "view", 10L), (4L, "view", 500L), (4L, "click", 600L))
      .toDF("user_id", "event_type", "ts_us")
    val f = Temporal.funnel(ev, Seq("view", "click", "purchase"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(f == Map(1L -> 4L, 2L -> 2L, 3L -> 1L), f.toString)
    // retention: two cohorts, one returning user
    val wk = 7L * 86400L * 1000000L
    val re = Seq(
      (1L, 0L), (1L, wk), (1L, 2 * wk), // cohort 0, ages 0,1,2
      (2L, wk), (2L, 2 * wk),           // cohort 1, ages 0,1
      (3L, 0L))                         // cohort 0, age 0 only
      .toDF("user_id", "ts_us")
    val r = Temporal.retentionCohorts(re).collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> x.getLong(2)).toMap
    assert(r == Map((0L, 0L) -> 2L, (0L, 1L) -> 1L, (0L, 2L) -> 1L,
      (1L, 0L) -> 1L, (1L, 1L) -> 1L), r.toString)
  }

  test("attribution: purchases credit their session's first touch only") {
    import spark.implicits._
    // u1 session 1: ad → purchase (credits 'ad'); after a gap, session 2:
    // search → purchase (credits 'search'); u2: purchase with no prior
    // event credits itself
    val ev = Seq(
      (1L, "ad", 100L, 1L, 10.0), (1L, "purchase", 200L, 2L, 50.0),
      (1L, "search", 10000L, 3L, 0.0), (1L, "purchase", 10100L, 4L, 70.0),
      (2L, "purchase", 500L, 5L, 30.0))
      .toDF("user_id", "event_type", "ts_us", "event_id", "value")
    val sess = Temporal.withSessionIds(ev, "user_id", "ts_us", "event_id",
      gapMicros = 1000L)
    val first = sess.groupBy(col("user_id"), col("session_idx"))
      .agg(min(struct(col("ts_us"), col("event_id"), col("event_type"))).as("f"))
      .select(col("user_id"), col("session_idx"),
        col("f.event_type").as("first_touch"))
    val att = sess.filter(col("event_type") === "purchase")
      .join(first, Seq("user_id", "session_idx"))
      .groupBy(col("first_touch")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(att == Map("ad" -> 1L, "search" -> 1L, "purchase" -> 1L), att.toString)
  }

  test("readability: hand Flesch; sentence floor guards fragments") {
    import spark.implicits._
    // "see spot run." → 3 words, 1 sentence, 3 syllable groups ("ee",
    // "o", "u"): 206835 − 1015·3 − 84600·3/3 = 119190
    val docs = Seq((1L, "see spot run."), (2L, "no terminal punctuation"))
      .toDF("doc_id", "text")
    val r = TextAnalysis.readability(docs).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3),
        x.getLong(4)))).toMap
    assert(r(1L) == ((3L, 1L, 3L, 119190L)), r.toString)
    // sentence floor of 1: no [.!?] must not divide by zero
    assert(r(2L)._2 == 1L, r.toString)
  }

  test("label propagation: two cliques bridge-separated; tie-break deterministic") {
    import spark.implicits._
    // two triangles {1,2,3} and {7,8,9} joined by one bridge 3—7: LPA
    // must settle each triangle on its own min label without bleeding
    // across the bridge
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (7L, 8L), (8L, 9L), (7L, 9L),
      (3L, 7L)).toDF("a", "b")
    val l = Graph.labelPropagation(g, rounds = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(l(1L) == l(2L) && l(2L) == l(3L), l.toString)
    assert(l(7L) == l(8L) && l(8L) == l(9L), l.toString)
    assert(l(1L) != l(7L), s"bridge must not merge the cliques: $l")
  }

  test("personalized pagerank: restart mass makes ranks seed-asymmetric") {
    import spark.implicits._
    // path 1—2—3 with seed 1: globally the graph is symmetric in 1 and 3,
    // but the restart pins probability near the seed — node 1 must
    // strictly outrank its mirror node 3
    val path = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val r = Graph.personalizedPageRank(path, seed = 1L, iters = 3)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r(1L) > r(3L), r.toString)
    assert(math.abs(r(1L) - 0.2041875) < 1e-9, r.toString) // hand-computed
    assert(r.values.sum <= 1.0 + 1e-9, r.toString)         // walk mass bound
  }

  test("mmr rerank: second pick crosses to the other cluster") {
    import spark.implicits._
    // cluster A hugs [1,0] (ids 1-4), cluster B hugs [0,1] (ids 5-6);
    // the query leans A — pure relevance would fill the list with A
    // variants, MMR's second pick must cross to B
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.999f, 0.02f)),
      (3L, Seq(0.998f, 0.03f)), (4L, Seq(0.997f, 0.04f)),
      (5L, Seq(0.0f, 1.0f)), (6L, Seq(0.02f, 0.999f)),
      (100L, Seq(1.0f, 0.3f)))
      .toDF("vec_id", "embedding")
    val picks = Similarity.mmrRerank(vecs,
        vecs.filter(col("vec_id") === 100L), shortlist = 6, k = 3)
      .orderBy(col("mmr_step")).collect()
      .map(r => (r.getLong(2), r.getLong(1)))
    assert(Set(1L, 2L, 3L, 4L).contains(picks(0)._2), picks.mkString(","))
    assert(Set(5L, 6L).contains(picks(1)._2),
      s"second pick must diversify: ${picks.mkString(",")}")
    // third pick returns to A (B is now covered)
    assert(Set(1L, 2L, 3L, 4L).contains(picks(2)._2), picks.mkString(","))
  }

  test("mmr rerank fed candidates: no theta-join in the plan; brute-fed equals brute") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.999f, 0.02f)),
      (3L, Seq(0.998f, 0.03f)), (4L, Seq(0.997f, 0.04f)),
      (5L, Seq(0.0f, 1.0f)), (6L, Seq(0.02f, 0.999f)),
      (100L, Seq(1.0f, 0.3f)))
      .toDF("vec_id", "embedding")
    val q = vecs.filter(col("vec_id") === 100L)
    // feeding the brute top-k back through the candidate port must
    // reproduce the brute picks exactly (same rel units, same trim)
    val bruteShort = Similarity.bruteForceTopK(vecs, q, k = 6)
      .select(col("query_id"), col("neighbor_id"),
        round(col("score") * 10000, 0).cast("long").as("rel"))
    val fed = Similarity.mmrRerank(vecs, q, shortlist = 6, k = 3,
        candidates = Some(bruteShort))
      .orderBy(col("mmr_step")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val brute = Similarity.mmrRerank(vecs, q, shortlist = 6, k = 3)
      .orderBy(col("mmr_step")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(fed.toSeq == brute.toSeq, s"fed=${fed.toSeq} brute=${brute.toSeq}")
    // THE SCALE PIN: with an ANN-fed candidate frame, NOTHING in either
    // distributed stage's lineage may plan a BroadcastNestedLoopJoin —
    // the LSH shortlist is band-bucket equi-joins, the trim is a rank
    // window, and the pair sims are an equi-join on qid. (Feeding the
    // brute top-k would smuggle its θ-join into the lineage — the pin
    // must ride a chain that is equi-join end to end.)
    val planes = Similarity.prepared(vecs.filter(col("vec_id") < 3),
        "vec_id", "embedding")
      .select(col("id").as("plane_id"), col("v").as("pv"))
    val lshShort = Similarity.lshTopKBanded(vecs, q, planes, bands = 2, k = 6)
      .select(col("query_id"), col("neighbor_id"),
        round(col("score") * 10000, 0).cast("long").as("rel"))
    val (fc, fp) = Similarity.mmrFrames(vecs, q, 6, "vec_id", "embedding",
      Some(lshShort))
    assert(!fc.queryExecution.executedPlan.toString
      .contains("BroadcastNestedLoopJoin"), "fed cand plans a θ-join")
    assert(!fp.queryExecution.executedPlan.toString
      .contains("BroadcastNestedLoopJoin"), "fed pairs plan a θ-join")
    val (bc, _) = Similarity.mmrFrames(vecs, q, 6, "vec_id", "embedding", None)
    assert(bc.queryExecution.executedPlan.toString
      .contains("BroadcastNestedLoopJoin"),
      "brute baseline should be the θ-join (pin the contrast)")
    // ORPHAN candidates (an id absent from emb — a stale/grown artifact
    // serving against a newer corpus) must be dropped before ranking,
    // not crash the greedy's similarity lookup mid-loop
    val stale = bruteShort.unionByName(
      Seq((100L, 999L, 9000L)).toDF("query_id", "neighbor_id", "rel"))
    val fedStale = Similarity.mmrRerank(vecs, q, shortlist = 6, k = 3,
        candidates = Some(stale))
      .orderBy(col("mmr_step")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(fedStale.toSeq == brute.toSeq,
      s"orphan candidate must drop cleanly: ${fedStale.toSeq}")
  }

  test("time-weighted avg: bursts don't over-weight; plain avg disagrees") {
    import spark.implicits._
    // value 100 held for 9 s, then a 1 s burst of ten 0-valued samples:
    // TWA = (100·9000 + 0·1000)/10000 ms = 90 — plain AVG of rows ~8
    val ev = ((Seq((1L, 0L, 0L, 100.0)) ++
      (0 until 10).map(i => (1L, 9000000L + i * 100000L, 1L + i, 0.0))) :+
      (1L, 10000000L, 100L, 0.0))
      .toDF("user_id", "ts_us", "event_id", "value")
    val r = Temporal.timeWeightedAvg(ev).collect().head
    assert(r.getLong(2) == 9000L, r.toString) // 90.00 in centi-units
    val plainAvg = ev.agg(avg(col("value"))).collect().head.getDouble(0)
    assert(plainAvg < 10.0, s"plain avg $plainAvg should under-report")
  }

  test("table profile: nulls, ndv, native-order min/max in one pass") {
    import spark.implicits._
    val df = Seq((Some(9L), "b"), (Some(10L), "a"), (None, "a"))
      .toDF("num", "s")
    val p = Hygiene.tableProfile(df, Seq("num", "s")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getString(5)))).toMap
    // min/max computed on the NATIVE type: 9 < 10 numerically even
    // though "10" < "9" as strings; nulls excluded from min/max and ndv
    assert(p("num") == ((3L, 1L, 2L, "9", "10")), p.toString)
    assert(p("s") == ((3L, 0L, 2L, "a", "b")), p.toString)
  }

  test("table profile: empty table pins zeros; approx lane matches exact on small NDV") {
    import spark.implicits._
    // empty input: n_rows/n_nulls must be 0 (COUNT(*) semantics), not
    // null-over-zero-groups — the DuckDB-oracle parity edge
    val empty = Seq.empty[(Option[Long], String)].toDF("num", "s")
    val ep = Hygiene.tableProfile(empty, Seq("num", "s")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(ep == Map("num" -> ((0L, 0L, 0L)), "s" -> ((0L, 0L, 0L))),
      ep.toString)
    // approx lane: single-row HLL agg instead of a table-sized exchange
    // on a near-unique column; at tiny NDV the HLL estimate is exact, so
    // the full row matches the exact lane
    val df = Seq((Some(9L), "b"), (Some(10L), "a"), (None, "a"))
      .toDF("num", "s")
    val ap = Hygiene.tableProfile(df, Seq("num", "s"), approxCols = Set("num"))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getString(5)))).toMap
    assert(ap("num") == ((3L, 1L, 2L, "9", "10")), ap.toString)
    assert(ap("s") == ((3L, 0L, 2L, "a", "b")), ap.toString)
    intercept[IllegalArgumentException] {
      Hygiene.tableProfile(df, Seq("num"), approxCols = Set("nope"))
    }
  }

  test("drift report: identical dumps read zero; disjoint dumps read full TVD; empty side safe") {
    import spark.implicits._
    val a = Seq(("x", 1L), ("x", 2L), ("y", 3L)).toDF("cat", "id")
    def row(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    // same dump twice: every share identical → TVD exactly 0
    val same = row(Hygiene.driftReport(a, a, Seq("cat")))
    assert(same("cat") == ((3L, 3L, 2L, 0L)), same.toString)
    // disjoint value sets: floor-share TVD reads ~full drift
    // (999999 not 10⁶: floor(2/3·10⁶) + floor(1/3·10⁶) = 999999 —
    // the documented floor-share semantics, deterministic over exact)
    val b = Seq(("z", 9L)).toDF("cat", "id")
    val disj = row(Hygiene.driftReport(a, b, Seq("cat")))
    assert(disj("cat") == ((3L, 1L, 3L, 999999L)), disj.toString)
    // an EMPTY dump must produce a row, not a crash or nulls
    val empty = Seq.empty[(String, Long)].toDF("cat", "id")
    val e = row(Hygiene.driftReport(a, empty, Seq("cat")))
    assert(e("cat") == ((3L, 0L, 2L, 499999L)), e.toString)
    // NULL is a real category: identical half-null dumps must read ZERO
    // drift (a raw null join key never matches itself — the null-safe
    // (value, is-null) key is what makes this hold), and null must not
    // collapse into the empty string
    val withNulls = Seq((Some("x"), 1L), (None, 2L), (None, 3L),
      (Some(""), 4L)).toDF("cat", "id")
    val nn = row(Hygiene.driftReport(withNulls, withNulls, Seq("cat")))
    assert(nn("cat") == ((4L, 4L, 3L, 0L)), nn.toString)
  }

  test("drift stream: folded counts serve the batch operator's exact drift, any split", SlowTest) {
    import spark.implicits._
    import graft.streaming.DriftStream
    // null categories included on BOTH sides — the stream must match
    // them across reference and feed exactly like the batch operator
    val ref = Seq((Some("x"), 1L), (Some("x"), 2L), (Some("y"), 3L),
      (Some("z"), 4L), (None, 5L))
      .map { case (c, g) => (c.orNull, g) }.toDF("cat", "grp")
    val all = Seq((Some("x"), 10L), (Some("y"), 11L), (Some("y"), 12L),
      (Some("w"), 13L), (None, 14L), (Some("x"), 15L))
      .map { case (c, g) => (c.orNull, g) }
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    val expect = key(graft.operators.Hygiene.driftReport(
      ref, all.toDF("cat", "grp"), Seq("cat", "grp")))
    // PSI serve off the SAME folded counts must equal the batch psiDrift
    def psiKey(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))).toMap
    val expectPsi = psiKey(graft.operators.Hygiene.psiDrift(
      ref, all.toDF("cat", "grp"), Seq("cat", "grp")))
    for (nBatches <- Seq(1, 3)) {
      val store = new DriftStream.DriftStore(spark, Seq("cat", "grp"), ref)
      val per = math.ceil(all.size.toDouble / nBatches).toInt
      all.grouped(per).zipWithIndex.foreach { case (chunk, i) =>
        store.merge(chunk.toDF("cat", "grp"), i.toLong)
      }
      // the served drift row must equal the BATCH operator over the
      // union of all delivered rows — same floor-share integer algebra
      assert(key(store.current) == expect,
        s"nBatches=$nBatches: ${key(store.current)} vs $expect")
      assert(psiKey(store.currentPsi) == expectPsi,
        s"nBatches=$nBatches psi: ${psiKey(store.currentPsi)} vs $expectPsi")
      // replay guard: re-delivering a folded batch must not move counts
      assert(!store.merge(all.toDF("cat", "grp"), 0L))
      assert(key(store.current) == expect)
      assert(psiKey(store.currentPsi) == expectPsi)
    }
  }

  test("benford audit: string-form first digits, floor-share ppm") {
    import spark.implicits._
    // digits: 123.45→1, 0.00234→2, 987→9, 0.19→1, 2.00→2; -5, 0 and
    // null are filtered. total 5 → d1: 2/5 = 400000 ppm, d2: 400000,
    // d9: 200000, the other six digits 0 with their full negative dev
    val rows = Seq(Some(BigDecimal("123.45")), Some(BigDecimal("0.00234")),
      Some(BigDecimal("987")), Some(BigDecimal("0.19")),
      Some(BigDecimal("2.00")), Some(BigDecimal("-5")),
      Some(BigDecimal("0")), Option.empty[BigDecimal]).toDF("v")
    val out = Hygiene.benfordAudit(rows, "v").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    assert(out.size == 9)
    assert(out(1L) == ((2L, 400000L, 301030L, 98970L)), out.toString)
    assert(out(2L) == ((2L, 400000L, 176091L, 223909L)))
    assert(out(9L) == ((1L, 200000L, 45757L, 154243L)))
    assert(out(5L) == ((0L, 0L, 79181L, -79181L)))
    // the nine expected constants partition exactly one million
    assert(out.values.map(_._3).sum == 1000000L)
  }

  test("bootstrap CI: constant column collapses, interval brackets the mean") {
    import spark.implicits._
    // constant value ⇒ EVERY replica mean is exactly c·10⁶ (weights
    // cancel), so the interval must collapse onto the point
    val const = (1L to 200L).map(i => (i, 7L)).toDF("id", "x")
    val c = Splits.bootstrapCiMean(const, "id", "x", b = 8).collect().head
    assert((c.getLong(0), c.getLong(1), c.getLong(2), c.getLong(3),
      c.getLong(4)) == ((8L, 200L, 7000000L, 7000000L, 7000000L)), c.toString)
    // mixed values: deterministic (md5-keyed) ⇒ rerun-identical, ranks
    // ordered, and with n=500/B=40 the percentile interval brackets the
    // sample mean (deterministic once green — no RNG to flake)
    val mixed = (1L to 500L).map(i => (i, (i % 97) * 1000L)).toDF("id", "x")
    val r1 = Splits.bootstrapCiMean(mixed, "id", "x", b = 40).collect().head
    val r2 = Splits.bootstrapCiMean(mixed, "id", "x", b = 40).collect().head
    assert(r1 == r2)
    assert(r1.getLong(3) <= r1.getLong(4), r1.toString)
    assert(r1.getLong(3) <= r1.getLong(2) && r1.getLong(2) <= r1.getLong(4),
      r1.toString)
    // keyed form: per-key constants collapse per key independently
    val kc = (1L to 100L).map(i =>
      (i, if (i % 2 == 0) "a" else "b", if (i % 2 == 0) 3L else 9L))
      .toDF("id", "k", "x")
    val byK = Splits.bootstrapCiMeanByKey(kc, "id", "k", "x", b = 8)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(byK == Map(
      "a" -> ((8L, 50L, 3000000L, 3000000L, 3000000L)),
      "b" -> ((8L, 50L, 9000000L, 9000000L, 9000000L))), byK.toString)
  }

  test("spearman: monotone ±1, tie-averaged ranks closed form") {
    import spark.implicits._
    def rho(rows: Seq[(Long, Long)]): (Long, Option[Double]) = {
      val r = Hygiene.spearmanCorr(rows.toDF("x", "y"), "x", "y")
        .collect().head
      (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Double]))
    }
    // any monotone transform scores exactly ±1
    assert(rho((1L to 5L).map(i => (i, i * i))) == ((5L, Some(1.0))))
    assert(rho((1L to 5L).map(i => (i, -i))) == ((5L, Some(-1.0))))
    // tie on x: avg-rank algebra by hand — x ranks (1.5, 1.5, 3), y
    // ranks (1, 2, 3) → ρ = 18/√(18·24) = 0.8660254 → 0.866025
    assert(rho(Seq((1L, 3L), (1L, 4L), (2L, 5L))) == ((3L, Some(0.866025))))
    // constant column: zero variance → NULL, not NaN across the gate
    assert(rho(Seq((7L, 1L), (7L, 2L), (7L, 3L))) == ((3L, None)))
  }

  test("cramers v matrix: perfect pair reads 1e6, degenerate pair NULL") {
    import spark.implicits._
    // x≡y (perfect association → V²=1 exactly in the integer fold); z
    // constant (min cardinality 1 → V² undefined → NULL, not div-zero)
    val rows = Seq(("A", 1L, "k"), ("A", 1L, "k"), ("B", 2L, "k"),
      ("B", 2L, "k")).toDF("x", "y", "z")
    val out = Hygiene.cramersVMatrix(rows, Seq("x", "y", "z")).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4),
          Option(r.get(6)).map(_.asInstanceOf[Long])))).toMap
    assert(out.size == 3)
    assert(out(("x", "y")) == ((4L, 2L, 2L, Some(1000000L))), out.toString)
    assert(out(("x", "z")) == ((4L, 2L, 1L, None)))
    assert(out(("y", "z")) == ((4L, 2L, 1L, None)))
  }

  test("vocab growth: nested prefixes, full-corpus point, unique-token beta=1e6") {
    import spark.implicits._
    // every token globally unique → V(N) ≡ N on every nested prefix →
    // the log-log points sit exactly on y = x → β is exactly 10⁶ (the
    // fit is integer arithmetic, so EXACT, not approximately 1)
    val docs = (1L to 50L).map(i => (i, s"t${i}a t${i}b t${i}c"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.vocabGrowth(docs).orderBy("k_num").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.map(_._1).toSeq == Seq(2L, 4L, 8L, 16L, 32L, 64L, 128L, 256L))
    // nested prefixes → both curves monotone non-decreasing
    assert(out.sliding(2).forall(p => p(0)._2 <= p(1)._2 && p(0)._3 <= p(1)._3))
    // the k=256 prefix is the whole corpus: 150 tokens, 150 distinct
    assert(out.last._2 == 150L && out.last._3 == 150L)
    assert(out.forall(_._4 == 1000000L), out.mkString(","))
  }

  test("gini index: hand cases — even 0, skewed 2/3, tie blocks exact") {
    import spark.implicits._
    def g(xs: Seq[Long]): (Long, Long, Option[Long]) = {
      val r = Hygiene.giniIndex(xs.toDF("v"), "v").collect().head
      (r.getLong(0), r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Long]))
    }
    // [0,0,10]: ranks 1,2,3 → (2·30 − 4·10)/(3·10) = 2/3 → 666666 ppm;
    // the v=0 tie block exercises the c·C + c(c+1)/2 rank-mass fold
    assert(g(Seq(0L, 0L, 10L)) == ((3L, 10L, Some(666666L))))
    // perfectly even and singleton both read exactly 0
    assert(g(Seq(5L, 5L, 5L)) == ((3L, 15L, Some(0L))))
    assert(g(Seq(7L)) == ((1L, 7L, Some(0L))))
    // all-zero total → NULL (undefined), not a div-by-zero
    assert(g(Seq(0L, 0L)) == ((2L, 0L, None)))
    // negatives excluded by contract
    assert(g(Seq(-3L, 4L, 4L)) == ((2L, 8L, Some(0L))))
    // keyed form: each key's fold independent — a's [0,0,10] reads the
    // same 2/3 as the unkeyed case, b's evens read exactly 0
    val byK = Hygiene.giniByKey(
      (Seq(("a", 0L), ("a", 0L), ("a", 10L)) ++ Seq(("b", 5L), ("b", 5L)))
        .toDF("src", "v"), "src", "v")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long])))).toMap
    assert(byK == Map("a" -> ((3L, 10L, Some(666666L))),
      "b" -> ((2L, 10L, Some(0L)))), byK.toString)
  }

  test("bootstrap stream: additive partials serve the batch CI, any split") {
    import spark.implicits._
    import graft.streaming.BootstrapStream
    val all = (1L to 300L).map(i => (i, (i % 83) * 500L))
    val expect = Splits.bootstrapCiMean(all.toDF("id", "x"), "id", "x",
      b = 16).collect().head.toSeq
    for (nBatches <- Seq(1, 4)) {
      val store = new BootstrapStream.BootstrapStore(spark, "id", "x", b = 16)
      val per = math.ceil(all.size.toDouble / nBatches).toInt
      all.grouped(per).zipWithIndex.foreach { case (chunk, i) =>
        store.merge(chunk.toDF("id", "x"), i.toLong)
      }
      // the served row must equal the BATCH operator over the union of
      // all delivered rows — shared partials + shared CI fold
      assert(store.current.collect().head.toSeq == expect,
        s"nBatches=$nBatches: ${store.current.collect().head} vs $expect")
      // replay guard: re-delivering a folded batch must not move sums
      assert(!store.merge(all.toDF("id", "x"), 0L))
      assert(store.current.collect().head.toSeq == expect)
    }
  }

  test("theil-sen: hand slopes, outlier-proof median, single-day NULL") {
    import spark.implicits._
    val day = 86400L * 1000000L
    // key A dailies y = [0, 10, 5, 30] on days 0..3 → 6 pair slopes
    // (·10⁶): [10, 2.5, 10, −5, 10, 25]e6 sorted → even median = 10e6;
    // MK S = +4. The −5e6 dip and the 25e6 spike both lose to the
    // median. Key B has one day → NULL trend columns.
    val ev = Seq(
      (1L, 0L * day, 0L), (1L, 1L * day, 10L), (1L, 2L * day, 5L),
      (1L, 3L * day, 30L), (2L, 0L * day, 7L))
      .toDF("user_id", "ts_us", "value")
    val out = Temporal.theilSenTrend(ev).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]),
        Option(r.get(4)).map(_.asInstanceOf[Long])))).toMap
    assert(out(1L) == ((4L, 6L, Some(4L), Some(10000000L))), out.toString)
    assert(out(2L) == ((1L, 0L, None, None)))
    // odd-count median and the negative-slope sign-safety: y=[9,5,1] →
    // slopes [−4, −4, −4]e6 → median −4000000, S = −3
    val down = Seq((3L, 0L * day, 9L), (3L, 1L * day, 5L), (3L, 2L * day, 1L))
      .toDF("user_id", "ts_us", "value")
    val d3 = Temporal.theilSenTrend(down).collect().head
    assert((d3.getLong(2), d3.getLong(3), d3.getLong(4)) ==
      ((3L, -3L, -4000000L)), d3.toString)
  }

  test("trimmed/winsorized mean: interval algebra hand cases") {
    import spark.implicits._
    def tm(xs: Seq[Long], trim: Long): (Long, Long, Long, Long) = {
      val r = Hygiene.trimmedMean(xs.toDF("v"), "v", trimPpm = trim)
        .collect().head
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    }
    // [1,2,3,100,1000] k=1: trim → mean(2,3,100)=35e6; winsorize →
    // (2+2+3+100+100)/5 = 41.4e6 — the outlier owns neither number
    assert(tm(Seq(100L, 1L, 2L, 3L, 1000L), 200000L) ==
      ((5L, 1L, 35000000L, 41400000L)))
    // tie cells straddling the cut: [1,1,2,2,9] k=1 → keep (1,2,2):
    // 5/3 floor; winsor v_lo=rank2=1, v_hi=rank4=2 → 8/5
    assert(tm(Seq(1L, 1L, 2L, 2L, 9L), 200000L) ==
      ((5L, 1L, 1666666L, 1600000L)))
    // k=0 degenerates to the plain mean, sign-safe on negatives
    assert(tm(Seq(-10L, -10L, -10L), 0L) ==
      ((3L, 0L, -10000000L, -10000000L)))
  }

  test("acf by key: hand moments, alternating-series seasonality read") {
    import spark.implicits._
    def acf(rows: Seq[(String, Long, Long)], lags: Int) =
      Temporal.acfByKey(rows.toDF("key", "bucket", "v"), maxLag = lags)
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3),
            Option(r.get(4)).map(_.asInstanceOf[Long])))).toMap
    // linear ramp x=[1,2,3,4]: d=4x−10=[−6,−2,2,6], den=80 →
    // lag1 20/80, lag2 −24/80, lag3 −36/80 (exact ppm floors)
    val ramp = Seq(("a", 0L, 1L), ("a", 1L, 2L), ("a", 2L, 3L), ("a", 3L, 4L))
    val r = acf(ramp, 3)
    assert(r(("a", 1L)) == ((4L, 3L, Some(250000L))), r.toString)
    assert(r(("a", 2L)) == ((4L, 2L, Some(-300000L))))
    assert(r(("a", 3L)) == ((4L, 1L, Some(-450000L))))
    // alternating [1,3,1,3]: strong negative echo at lag 1, positive at
    // lag 2 — the period-2 seasonality signature; constant key NULL
    val mix = Seq(("p", 0L, 1L), ("p", 1L, 3L), ("p", 2L, 1L), ("p", 3L, 3L),
      ("c", 0L, 5L), ("c", 1L, 5L), ("c", 2L, 5L))
    val m = acf(mix, 2)
    assert(m(("p", 1L)) == ((4L, 3L, Some(-750000L))), m.toString)
    assert(m(("p", 2L)) == ((4L, 2L, Some(500000L))))
    assert(m(("c", 1L)) == ((3L, 2L, None)))
    // Ljung–Box over the ramp's two lags: terms 250000²//3 + 300000²//2,
    // Q = 4·6·s // 10⁶ = 1579999 (≈1.58 — small n, mild structure);
    // the constant key must null out, not report a partial Q
    val lb = Temporal.ljungBoxByKey(
      (ramp ++ Seq(("c", 0L, 5L), ("c", 1L, 5L), ("c", 2L, 5L)))
        .toDF("key", "bucket", "v"), maxLag = 2)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long])))).toMap
    assert(lb("a") == ((4L, 2L, Some(1579999L))), lb.toString)
    assert(lb("c") == ((3L, 2L, None)))
  }

  test("column entropy: uniform/constant/null-category closed forms") {
    import spark.implicits._
    // 4 uniform values: H = ln 4 through the 6-dp fence chain =
    // 1.386296 (round(ln)·p rounds to .346574 per cell), norm ≈ 1;
    // constant: exactly 0.0 with NULL norm; the NULL category is a real
    // level (2 levels in c3, not 1)
    val rows = Seq(("a", "k", Some("x")), ("b", "k", Some("x")),
      ("c", "k", None), ("d", "k", None)).toDF("c1", "c2", "c3")
    val out = Hygiene.columnEntropy(rows, Seq("c1", "c2", "c3")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3), Option(r.get(4)).map(_.asInstanceOf[Double])))).toMap
    assert(out("c1") == ((4L, 4L, 1.386296, Some(1.000001))), out.toString)
    assert(out("c2") == ((4L, 1L, 0.0, None)))
    assert(out("c3") == ((4L, 2L, 0.693148, Some(1.000001))))
  }

  test("mutual info matrix: perfect pair NMI 1, independent pair 0") {
    import spark.implicits._
    // x≡y uniform 2×2: MI = H = 0.693148 through the 6-dp chain, NMI
    // exactly 1.0; z constant: MI 0.0, NMI NULL (zero entropy)
    val rows = Seq(("A", 1L, "k"), ("A", 1L, "k"), ("B", 2L, "k"),
      ("B", 2L, "k")).toDF("x", "y", "z")
    val out = Hygiene.mutualInfoMatrix(rows, Seq("x", "y", "z")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2),
        r.getDouble(3), Option(r.get(4)).map(_.asInstanceOf[Double])))).toMap
    assert(out(("x", "y")) == ((4L, 0.693148, Some(1.0))), out.toString)
    assert(out(("x", "z")) == ((4L, 0.0, None)))
    assert(out(("y", "z")) == ((4L, 0.0, None)))
  }

  test("mutual info matrix: NULL is a real category, not a dropped cell") {
    import spark.implicits._
    // x = [A, A, NULL, NULL] determines y = [1, 1, 2, 2]: the NULL level
    // is half the mass, so MI = H = ln 2 and NMI = 1. Raw-value joins
    // would drop the (NULL, 2) joint cell from the MI sum (NULL never
    // equi-joins to itself) while n_rows and the margin entropies still
    // count those rows — reading MI = 0.346574 and NMI ≈ 0.5 on a
    // perfectly dependent pair.
    val rows = Seq((Option("A"), 1L), (Option("A"), 1L),
      (Option.empty[String], 2L), (Option.empty[String], 2L)).toDF("x", "y")
    val out = Hygiene.mutualInfoMatrix(rows, Seq("x", "y")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2),
        r.getDouble(3), Option(r.get(4)).map(_.asInstanceOf[Double])))).toMap
    assert(out(("x", "y")) == ((4L, 0.693148, Some(1.0))), out.toString)
  }

  test("ljung-box: a gap-violating lag nulls the key loudly") {
    import spark.implicits._
    // buckets {0, 7} with maxLag 7: a lag-7 pair exists while
    // n_buckets = 2, so the n−ℓ divisor is −5 — Spark truncates toward
    // zero where DuckDB floors, so the term must be gated out and the
    // key's Q reported NULL (contract violation: gapFill first), never a
    // silently-divergent number. A contiguous key on the same frame
    // still computes.
    val rows = Seq(("gap", 0L, 1L), ("gap", 7L, 2L),
      ("ok", 0L, 1L), ("ok", 1L, 2L), ("ok", 2L, 3L), ("ok", 3L, 4L))
      .toDF("key", "bucket", "v")
    val lb = Temporal.ljungBoxByKey(rows, maxLag = 7)
      .collect().map(r => r.getString(0) -> ((r.getLong(1),
        Option(r.get(3)).map(_.asInstanceOf[Long])))).toMap
    assert(lb("gap")._2.isEmpty, lb.toString)
    assert(lb("ok")._2.nonEmpty, lb.toString)
  }

  test("churn labels leak-free split; loo encoding excludes own row") {
    import spark.implicits._
    // max ts 900, horizon 200 → cutoff 700. u1 active after, u2
    // churned, u3 appears ONLY after the cutoff (no feature row at all)
    val ev = Seq((1L, 100L, 5.0), (1L, 900L, 5.0), (2L, 650L, 5.0),
      (3L, 800L, 5.0))
      .toDF("user_id", "ts_us", "value")
    val ch = Temporal.churnLabels(ev, horizonUs = 200L).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    assert(ch == Map(1L -> ((1L, 0L, false)), 2L -> ((1L, 0L, true))),
      ch.toString)

    // category A targets [2, 4, 6]: each row's loo is the mean of the
    // OTHER two; singleton B is NULL (no peers — not zero, not itself)
    val rows = Seq((1L, "A", 2.0), (2L, "A", 4.0), (3L, "A", 6.0),
      (4L, "B", 9.0)).toDF("id", "cat", "y")
    val loo = Splits.looTargetEncode(rows, "cat", "y", "id").collect()
      .map(r => r.getLong(0) -> Option(r.get(4)).map(_.asInstanceOf[Long]))
      .toMap
    assert(loo == Map(1L -> Some(5000000L), 2L -> Some(4000000L),
      3L -> Some(3000000L), 4L -> None), loo.toString)
  }

  test("event transitions, k-anon audit, blocked fuzzy join: hand cases") {
    import spark.implicits._
    // u1: A B A B, u2: A A → A→B:2, A→A:1 (from-A mass 3), B→A:1
    val ev = Seq((1L, "A", 10L, 1L), (1L, "B", 20L, 2L), (1L, "A", 30L, 3L),
      (1L, "B", 40L, 4L), (2L, "A", 10L, 5L), (2L, "A", 20L, 6L))
      .toDF("user_id", "event_type", "ts_us", "event_id")
    val tr = Temporal.eventTransitions(ev).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    assert(tr == Map(
      ("A", "B") -> ((2L, 666666L)), ("A", "A") -> ((1L, 333333L)),
      ("B", "A") -> ((1L, 1000000L))), tr.toString)

    // QI groups of sizes 3, 1, 2 at k=2: one violating group, one
    // suppressed row
    val qi = Seq(("x", 1L), ("x", 1L), ("x", 1L), ("y", 1L),
      ("z", 1L), ("z", 1L)).toDF("qa", "qb")
    val a = Hygiene.kAnonAudit(qi, Seq("qa", "qb"), k = 2).collect().head
    assert((a.getLong(0), a.getLong(1), a.getLong(2), a.getLong(3),
      a.getLong(4)) == ((3L, 6L, 1L, 1L, 1L)), a.toString)

    // blocking: near-identical names pair only INSIDE a block
    val ents = Seq((1L, 10L, "abc"), (2L, 10L, "abd"), (3L, 10L, "xyz"),
      (4L, 20L, "abc")).toDF("id", "blk", "name")
    val fz = Joins.blockedFuzzyJoin(ents, Seq("blk"), "id", "name", maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4)))
    assert(fz.toSeq == Seq((1L, 2L, 1L)), fz.mkString(","))
  }

  test("ewma stream: tail-carry makes any ordered split equal the batch fold", SlowTest) {
    import spark.implicits._
    import graft.streaming.EwmaStream
    val rnd = new scala.util.Random(31)
    val all = (1L to 4L).flatMap { k =>
      (0 until 20).map(i => (k, 1000L * (i + 1), k * 100 + i,
        rnd.nextDouble() * 100))
    }
    val expect = Temporal.ewmaSmooth(
        all.toDF("user_id", "ts_us", "event_id", "value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) ->
        ((r.getLong(3), r.getLong(4)))).toMap
    for (nBatches <- Seq(1, 3, 5)) {
      val store = new EwmaStream.SmoothStore(spark, "user_id", "ts_us",
        "event_id", "value")
      val sorted = all.sortBy(e => (e._2, e._3))
      val per = math.ceil(sorted.size.toDouble / nBatches).toInt
      sorted.grouped(per).zipWithIndex.foreach { case (chunk, i) =>
        store.merge(chunk.toDF("user_id", "ts_us", "event_id", "value"),
          i.toLong)
      }
      val got = store.scored.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) ->
          ((r.getLong(3), r.getLong(4)))).toMap
      assert(got == expect, s"nBatches=$nBatches: " +
        s"diff=${(expect.toSet -- got.toSet).take(3)} / ${(got.toSet -- expect.toSet).take(3)}")
      assert(!store.merge(all.toDF("user_id", "ts_us", "event_id", "value"), 0L))
    }
  }

  test("transitions stream: any ordered batch split equals the batch operator") {
    import spark.implicits._
    import graft.streaming.TransitionsStream
    val rnd = new scala.util.Random(7)
    val types = Array("view", "click", "buy")
    val all = (1L to 6L).flatMap { k =>
      (0 until 10).map(i => (k, types(rnd.nextInt(3)), 100L * (i + 1), k * 1000 + i))
    }
    val expect = Temporal.eventTransitions(
        all.toDF("user_id", "event_type", "ts_us", "event_id"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    for (nBatches <- Seq(1, 4)) {
      val store = new TransitionsStream.TransitionStore(
        spark, "user_id", "event_type", "ts_us", "event_id")
      val sorted = all.sortBy(e => (e._3, e._4))
      val per = math.ceil(sorted.size.toDouble / nBatches).toInt
      sorted.grouped(per).zipWithIndex.foreach { case (chunk, i) =>
        store.merge(chunk.toDF("user_id", "event_type", "ts_us", "event_id"),
          i.toLong)
      }
      val got = store.current.collect()
        .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3))))
        .toMap
      // boundary pairs recovered → counts AND ppm identical to batch
      assert(got == expect, s"nBatches=$nBatches: got=$got exp=$expect")
      assert(!store.merge(all.toDF("user_id", "event_type", "ts_us", "event_id"), 0L))
    }
  }

  test("keyed cusum stream: any split equals both batch reads; durable restore; replays drop") {
    import spark.implicits._
    import graft.streaming.CusumByKeyStream
    val rnd = new scala.util.Random(29)
    val all = (1 to 150).map(_ => (s"u${rnd.nextInt(4)}",
      rnd.nextInt(12).toLong + 1L, rnd.nextInt(100).toLong - 20L))
    val folded = all.toDF("key", "bucket", "v")
      .groupBy(col("key"), col("bucket")).agg(sum(col("v")).as("v"))
    val expectPeaks = Temporal.cusumChangepointsByKey(folded).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4))).toSet
    val expectSegs = Temporal.cusumSegmentsByKey(folded, depth = 2).collect()
      .map(_.toSeq).toSet
    Dedup.uncacheAll()
    val dir = Files.createTempDirectory("cusumbykey").toString
    val store = new CusumByKeyStream.KeyedCusumStore(spark, Some(dir))
    // unsorted 4-way split: addition has no order
    val per = math.ceil(all.size / 4.0).toInt
    all.grouped(per).zipWithIndex.foreach { case (chunk, i) =>
      store.merge(chunk.toDF("key", "bucket", "v"), i.toLong)
    }
    assert(store.current.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4))).toSet == expectPeaks)
    assert(store.segments(2).collect().map(_.toSeq).toSet == expectSegs)
    // replay drops; a restarted process restores the identical fold
    assert(!store.merge(all.take(5).toDF("key", "bucket", "v"), 0L))
    val s2 = CusumByKeyStream.KeyedCusumStore.restore(spark, dir)
    assert(s2.current.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4))).toSet == expectPeaks)
    assert(!s2.merge(all.take(5).toDF("key", "bucket", "v"), 3L))
    Dedup.uncacheAll()
  }

  test("cusum stream: any batch split (even out-of-order) equals the batch operator") {
    import spark.implicits._
    import graft.streaming.CusumStream
    val rnd = new scala.util.Random(13)
    // raw events: (bucket, v) with repeats — the store folds sums
    val all = (1 to 120).map(_ => (rnd.nextInt(20).toLong + 1L,
      rnd.nextInt(100).toLong - 20L))
    val expect = Temporal.cusumChangepoints(
        all.toDF("bucket", "v").groupBy(col("bucket"))
          .agg(sum(col("v")).as("v")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).toSet
    Dedup.uncacheAll()
    for (nBatches <- Seq(1, 5)) {
      val store = new CusumStream.CusumStore(spark)
      // deliberately UNSORTED split: addition has no order, so even
      // out-of-order arrival must fold to the identical statistic
      val per = math.ceil(all.size.toDouble / nBatches).toInt
      all.grouped(per).zipWithIndex.foreach { case (chunk, i) =>
        store.merge(chunk.toDF("bucket", "v"), i.toLong)
      }
      val got = store.current.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getBoolean(3))).toSet
      assert(got == expect, s"nBatches=$nBatches")
      Dedup.uncacheAll()
      // replay of a delivered batch id is a no-op
      assert(!store.merge(all.toDF("bucket", "v"), 0L))
    }
  }

  test("block-skew stream: any batch split equals the batch audit; replays drop") {
    import spark.implicits._
    import graft.streaming.BlockSkewStream
    // duplicated texts make the top keys non-trivial (shared fingerprints
    // collide in all 28 blocks); distinct texts fill the tail
    val all = (0L until 30L).map { i =>
      val text =
        if (i % 3 == 0) "the quick brown fox jumps over the lazy dog again"
        else s"unique document number $i with some distinct words ${i * 7} here"
      (i, text)
    }
    val expect = Dedup.blockSkew(all.toDF("doc_id", "text"), topN = 20)
      .collect().map(_.toSeq).toSeq
    Dedup.uncacheAll()
    for (nBatches <- Seq(1, 4)) {
      val store = new BlockSkewStream.SkewStore(spark)
      val per = math.ceil(all.size.toDouble / nBatches).toInt
      all.grouped(per).zipWithIndex.foreach { case (chunk, i) =>
        store.merge(chunk.toDF("doc_id", "text"), i.toLong)
      }
      val got = store.current(topN = 20).collect().map(_.toSeq).toSeq
      assert(got == expect, s"nBatches=$nBatches")
      // replay of a delivered batch id is a no-op
      assert(!store.merge(all.take(3).toDF("doc_id", "text"), 0L))
    }
  }

  test("skew store merge releases only its own caches, not a co-resident pipeline's") {
    import spark.implicits._
    import graft.streaming.BlockSkewStream
    import org.apache.spark.storage.StorageLevel
    // a neighbor pipeline's cache registered in the session pool (the
    // DedupIndex-ingest shape the store's scaladoc names as companion)
    val neighbor = Dedup.cached(Seq((99L, "neighbor pipeline artifact")).toDF("doc_id", "text"))
    neighbor.count()
    val store = new BlockSkewStream.SkewStore(spark)
    val before = spark.sparkContext.getPersistentRDDs.size
    assert(store.merge(
      Seq((1L, "alpha beta gamma delta epsilon zeta eta theta")).toDF("doc_id", "text"), 0L))
    // the neighbor's cache must survive the per-batch fold...
    assert(neighbor.storageLevel != StorageLevel.NONE,
      "merge purged a co-resident pipeline's cache")
    // ...while the fold's own scratch caches (the shingle index the
    // fingerprint stage registers) are gone: the new fold replaced the
    // old one-for-one, so the persistent-RDD census is unchanged
    assert(spark.sparkContext.getPersistentRDDs.size == before,
      "merge leaked its per-batch scratch caches")
    // the neighbor still sits in the global pool: an explicit between-
    // rounds uncacheAll (the documented contract) is what releases it
    Dedup.uncacheAll()
    assert(neighbor.storageLevel == StorageLevel.NONE)
  }

  test("block-skew stream durability: restore rebuilds the folded counts; replays drop") {
    import spark.implicits._
    import graft.streaming.BlockSkewStream
    val dir = Files.createTempDirectory("skewstream").toString
    val s1 = new BlockSkewStream.SkewStore(spark, durable = Some(dir))
    s1.merge(Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text"), 0L)
    s1.merge(Seq((3L, "totally different words in this one here")).toDF("doc_id", "text"), 1L)
    val want = s1.current().collect().map(_.toSeq).toSeq
    // the identical pair must co-occupy its keys with count 2
    assert(want.nonEmpty && want.head(2) == 2L, s"dup pair not folded: ${want.take(2)}")
    // a fresh process restores the exact folded state from the snapshot
    val s2 = BlockSkewStream.SkewStore.restore(spark, dir)
    assert(s2.current().collect().map(_.toSeq).toSeq == want)
    // checkpoint-replayed batches at or below the restored id drop
    assert(!s2.merge(Seq((9L, "late replayed doc")).toDF("doc_id", "text"), 1L))
    assert(s2.current().collect().map(_.toSeq).toSeq == want)
    // a cold dir restores an empty store
    assert(BlockSkewStream.SkewStore.restore(spark, s"$dir-cold").counts.count() == 0)
    Dedup.uncacheAll()
  }

  test("cusum stream durability: restore rebuilds the folded sums; replays drop") {
    import spark.implicits._
    import graft.streaming.CusumStream
    val dir = Files.createTempDirectory("cusumstream").toString
    val s1 = new CusumStream.CusumStore(spark, durable = Some(dir))
    s1.merge(Seq((1L, 10L), (2L, 5L)).toDF("bucket", "v"), 0L)
    s1.merge(Seq((2L, 5L), (3L, 30L)).toDF("bucket", "v"), 1L)
    val want = s1.current.collect().map(_.toSeq).toSet
    // a fresh process restores the exact folded state from the snapshot
    val s2 = CusumStream.CusumStore.restore(spark, dir)
    assert(s2.current.collect().map(_.toSeq).toSet == want)
    // checkpoint-replayed batches at or below the restored id drop
    assert(!s2.merge(Seq((9L, 99L)).toDF("bucket", "v"), 1L))
    assert(s2.current.collect().map(_.toSeq).toSet == want)
    // a cold dir restores an empty store
    assert(CusumStream.CusumStore.restore(spark, s"$dir-cold").sums.count() == 0)
    Dedup.uncacheAll()
  }

  test("scd2 stream: any ordered batch split equals the batch operator; late rows dropped", SlowTest) {
    import spark.implicits._
    import graft.streaming.Scd2Stream
    val rnd = new scala.util.Random(42)
    val attrs = Array("A", "B", "C")
    val all = (1L to 5L).flatMap { k =>
      (0 until 12).map(i => (k, attrs(rnd.nextInt(3)), 1000L * (i + 1), k * 100 + i))
    }
    val allDf = all.toDF("user_id", "event_type", "ts_us", "event_id")
    val expect = Temporal.scd2History(allDf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        Option(r.get(4)), r.getBoolean(5))).toSet
    for (nBatches <- Seq(1, 3, 4)) {
      val store = new Scd2Stream.Scd2Store(spark, "user_id", "event_type",
        "ts_us", "event_id")
      // split by event index — per-key ts order preserved across batches
      val sorted = all.sortBy(e => (e._3, e._4))
      val per = math.ceil(sorted.size.toDouble / nBatches).toInt
      sorted.grouped(per).zipWithIndex.foreach { case (chunk, i) =>
        store.merge(chunk.toDF("user_id", "event_type", "ts_us", "event_id"), i.toLong)
      }
      val got = store.history.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
          Option(r.get(4)), r.getBoolean(5))).toSet
      assert(got == expect,
        s"nBatches=$nBatches:\n missing=${(expect -- got).mkString("\n")}\n extra=${(got -- expect).mkString("\n")}")
      // replay of a delivered batch id is a no-op
      assert(!store.merge(allDf, 0L))
      // a stale row (ts before its key's open interval) is counted+dropped
      val before = store.history.count()
      store.merge(Seq((1L, "Z", 1L, 999L)).toDF("user_id", "event_type",
        "ts_us", "event_id"), 100L)
      assert(store.lateDropped >= 1L)
      assert(store.history.count() == before)
    }
  }

  test("scd2 stream: a row between a compressed interval's start and the last folded event is late", SlowTest) {
    import spark.implicits._
    import graft.streaming.Scd2Stream
    // fold A@100 then A@900 (same attr — the open interval compresses to
    // valid_from=100); B@500 is BEFORE the last folded event and must be
    // dropped as late, not close the open interval at 500 and rewrite
    // shipped history (the open-interval-start guard alone lets it slip)
    val store = new Scd2Stream.Scd2Store(spark, "user_id", "event_type",
      "ts_us", "event_id")
    store.merge(Seq((1L, "A", 100L, 1L), (1L, "A", 900L, 2L))
      .toDF("user_id", "event_type", "ts_us", "event_id"), 0L)
    val before = store.history.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        Option(r.get(4)), r.getBoolean(5))).toSet
    assert(before == Set((1L, 1L, "A", 100L, None, true)), before.toString)
    store.merge(Seq((1L, "B", 500L, 3L))
      .toDF("user_id", "event_type", "ts_us", "event_id"), 1L)
    val after = store.history.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        Option(r.get(4)), r.getBoolean(5))).toSet
    assert(after == before, s"history rewritten: $after")
    assert(store.lateDropped == 1L)
    // a genuinely in-order B@950 still closes the interval normally
    store.merge(Seq((1L, "B", 950L, 4L))
      .toDF("user_id", "event_type", "ts_us", "event_id"), 2L)
    val closed = store.history.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        Option(r.get(4)), r.getBoolean(5))).toSet
    assert(closed == Set(
      (1L, 1L, "A", 100L, Some(950L), false),
      (1L, 2L, "B", 950L, None, true)), closed.toString)
  }

  test("scd2 stream: a rebuilt durable store resumes history, versions, and the late guard", SlowTest) {
    import spark.implicits._
    import graft.streaming.Scd2Stream
    val dir = Files.createTempDirectory("scd2dur").toString
    def hist(s: Scd2Stream.Scd2Store) = s.history.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        Option(r.get(4)), r.getBoolean(5))).toSet
    val store = new Scd2Stream.Scd2Store(spark, "user_id", "event_type",
      "ts_us", "event_id", Some(dir))
    store.merge(Seq((1L, "A", 100L, 1L), (1L, "A", 900L, 2L))
      .toDF("user_id", "event_type", "ts_us", "event_id"), 0L)
    store.merge(Seq((1L, "B", 500L, 3L))
      .toDF("user_id", "event_type", "ts_us", "event_id"), 1L) // late → drop
    val expect = hist(store)
    // driver restart: history, the open interval, the per-key late-guard
    // high-water mark, AND the dropped counter all restore
    val store2 = new Scd2Stream.Scd2Store(spark, "user_id", "event_type",
      "ts_us", "event_id", Some(dir))
    assert(hist(store2) == expect, "restored history must equal pre-restart state")
    assert(store2.lateDropped == 1L, "dropped-late counter must survive the restart")
    // checkpoint re-delivery of batch 1 drops on the restored guard —
    // the late row must not be double-counted
    assert(!store2.merge(Seq((1L, "B", 500L, 3L))
      .toDF("user_id", "event_type", "ts_us", "event_id"), 1L))
    assert(store2.lateDropped == 1L)
    // the late guard itself restored: B@500 as a NEW batch still drops
    // (last folded event is A@900 — without the restored high-water mark
    // it would close the open interval at 500 and rewrite shipped history)
    assert(store2.merge(Seq((1L, "B", 500L, 4L))
      .toDF("user_id", "event_type", "ts_us", "event_id"), 2L))
    assert(hist(store2) == expect && store2.lateDropped == 2L)
    // versions chain across the restart exactly as uninterrupted
    store2.merge(Seq((1L, "B", 950L, 5L))
      .toDF("user_id", "event_type", "ts_us", "event_id"), 3L)
    assert(hist(store2) == Set(
      (1L, 1L, "A", 100L, Some(950L), false),
      (1L, 2L, "B", 950L, None, true)), hist(store2).toString)
  }

  test("ewma stream: a redelivered event triple is dropped, not re-scored") {
    import spark.implicits._
    import graft.streaming.EwmaStream
    val store = new EwmaStream.SmoothStore(spark, "user_id", "ts_us",
      "event_id", "value", span = 4)
    val b0 = Seq((1L, 100L, 1L, 10.0), (1L, 200L, 2L, 20.0))
    store.merge(b0.toDF("user_id", "ts_us", "event_id", "value"), 0L)
    // batch 1 redelivers (1,200,2) — already held in the tail — plus one
    // new event; the duplicate must neither re-emit nor fan out the
    // is_tail re-attach join
    store.merge(Seq((1L, 200L, 2L, 20.0), (1L, 300L, 3L, 30.0))
      .toDF("user_id", "ts_us", "event_id", "value"), 1L)
    val got = store.scored.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) ->
        ((r.getLong(3), r.getLong(4)))).toMap
    val expect = Temporal.ewmaSmooth(
        (b0 :+ ((1L, 300L, 3L, 30.0)))
          .toDF("user_id", "ts_us", "event_id", "value"), "user_id",
        "ts_us", "event_id", "value", span = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) ->
        ((r.getLong(3), r.getLong(4)))).toMap
    assert(store.scored.count() == 3L)
    assert(got == expect, s"got=$got expect=$expect")
  }

  test("neighbor jaccard: wedge counts exact; hub cap drops only hub-routed pairs") {
    import spark.implicits._
    // 4-cycle 1-2-3-4-1: opposite corners share BOTH neighbors → J = 1
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("a", "b")
    val j = Graph.neighborJaccard(cyc).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    assert(j == Map((1L, 3L) -> ((2L, 1000000L)), (2L, 4L) -> ((2L, 1000000L))),
      j.toString)
    // star 0—{1..5} plus edge 1—2: (3,4) is connected ONLY through the
    // hub 0 (deg 5) — a center cap of 3 drops every hub-routed pair but
    // keeps the (0,*) pairs routed through the degree-2 leaves 1 and 2
    val star = (1L to 5L).map(i => (0L, i)) :+ ((1L, 2L))
    val sdf = star.toDF("a", "b")
    val exact = Graph.neighborJaccard(sdf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Graph.neighborJaccard(sdf, maxCenterDeg = Some(3L)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.contains((3L, 4L)) && !capped.contains((3L, 4L)),
      s"exact=$exact capped=$capped")
    // leaf-routed pairs survive the cap: 0 and 2 share neighbor 1 (deg 2)
    assert(capped.contains((0L, 2L)), capped.toString)
  }

  test("zipf fit: uniform corpus is flat, 1/rank corpus slopes to -1") {
    import spark.implicits._
    // uniform frequencies → ln(c) constant → slope exactly 0
    val uniform = Seq.tabulate(10)(i => s"tok$i " * 5).map(_.trim)
      .map(Tuple1(_)).toDF("text")
    val fu = TextAnalysis.zipfFit(uniform, topN = 10).collect().head
    assert(fu.getLong(0) == 10L, fu.toString)
    assert(fu.getDouble(1) == 0.0, fu.toString)
    // freq(rank) = 240/rank for ranks 1..5 (240 divisible by each) →
    // ln–ln relation is EXACTLY linear with slope −1
    val zipf = (1 to 5).map(r => (s"w$r " * (240 / r)).trim)
      .map(Tuple1(_)).toDF("text")
    val fz = TextAnalysis.zipfFit(zipf, topN = 5).collect().head
    assert(fz.getLong(0) == 5L, fz.toString)
    assert(math.abs(fz.getDouble(1) - (-1.0)) < 1e-4, fz.toString)
  }

  test("kcore: cascade peels to fixpoint; mad outliers integer-exact") {
    import spark.implicits._
    // triangle {1,2,3} + tail 3—4: k=2 drops the tail in round 1 and
    // nothing else ever (the triangle IS the 2-core, core_deg 2 each)
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("a", "b")
    val core = Graph.kCore(g, k = 2, rounds = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core == Map(1L -> 2L, 2L -> 2L, 3L -> 2L), core.toString)
    // path 1—2—3—4: k=2 CASCADES — endpoints drop in round 1, which
    // exposes the middle pair (now degree 1) for round 2 → empty core.
    // One round is NOT enough: synchronous peeling needs the cascade.
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    assert(Graph.kCore(path, k = 2, rounds = 1).count() == 2L)
    assert(Graph.kCore(path, k = 2, rounds = 2).count() == 0L)
    assert(Graph.kCore(path, k = 2, rounds = 3).count() == 0L) // fixpoint

    // Hampel screen: one wild value among tight ones; doubled-median
    // integer algebra (hand-computed: med2=2050000, dmed2=300000)
    val vals = Seq(("a", 1.0), ("a", 1.1), ("a", 0.9), ("a", 1.05),
      ("a", 0.95), ("a", 100.0), ("b", 5.0), ("b", 5.0), ("b", 5.0))
      .toDF("grp", "x")
    val m = Hygiene.madOutliers(vals, "grp", "x").collect()
      .map(r => r.getString(0) -> ((r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(m("a") == ((2050000L, 300000L, 1L)), m.toString)
    // constant group: MAD = 0 → nothing strictly exceeds 3·MAD
    assert(m("b") == ((10000000L, 0L, 0L)), m.toString)
  }

  test("scd2: runs compress, intervals tile, one exchange; ewma fixed-point fold") {
    import spark.implicits._
    val ev = Seq(
      // u1: A A B A → three intervals (the second A run starts a NEW
      // version — SCD2 compresses CONSECUTIVE equals only)
      (1L, "A", 100L, 1L), (1L, "A", 200L, 2L), (1L, "B", 300L, 3L),
      (1L, "A", 400L, 4L),
      // u2: timestamp tie broken by event_id → B is the later state
      (2L, "A", 100L, 10L), (2L, "B", 100L, 11L))
      .toDF("user_id", "event_type", "ts_us", "event_id")
    val h = Temporal.scd2History(ev)
    val rows = h.orderBy(col("user_id"), col("version")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        Option(r.get(4)).map(_.asInstanceOf[Long]), r.getBoolean(5)))
    assert(rows.toSeq == Seq(
      (1L, 1L, "A", 100L, Some(300L), false),
      (1L, 2L, "B", 300L, Some(400L), false),
      (1L, 3L, "A", 400L, None, true),
      (2L, 1L, "A", 100L, Some(100L), false),
      (2L, 2L, "B", 100L, None, true)), rows.mkString(", "))
    // intervals tile per key: every non-current valid_to equals the next
    // version's valid_from (asserted by the literal expectation above) and
    // the three window functions share ONE exchange + ONE sort
    val plan = h.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
    assert("(?m)^\\s*\\+?-? ?Sort ".r.findAllIn(plan).size <= 2, plan)

    // ewma: integer fold in micro-units — floor((3*acc+x)/4) seeded from
    // the frame's first element; span bounds the frame
    val vals = Seq.tabulate(10)(i => (1L, 100L + i, i.toLong, 4.0))
      .updated(1, (1L, 101L, 1L, 8.0))
      .toDF("user_id", "ts_us", "event_id", "value")
    val e = Temporal.ewmaSmooth(vals, span = 8)
      .orderBy(col("ts_us")).select(col("ewma_u6")).as[Long].collect()
    assert(e(0) == 4000000L, e.mkString(","))
    assert(e(1) == 5000000L, e.mkString(","))           // (3*4M + 8M)/4
    assert(e(2) == 4750000L, e.mkString(","))           // (3*5M + 4M)/4
    // row 9's frame (rows 2..9) holds only 4.0s → the 8.0 has aged out
    assert(e(9) == 4000000L, e.mkString(","))
    // but row 8's frame (rows 1..8) STARTS at the 8.0 seed
    assert(e(8) != 4000000L, e.mkString(","))
  }

  test("collocations: exclusive pairs beat promiscuous ones; window bounds pairs") {
    import spark.implicits._
    // 'san francisco' always adjacent and exclusive; 'the' co-occurs with
    // everything (promiscuous → low PMI); 'far apart' separated beyond
    // the window must yield NO pair at window 2
    val docs = (0 until 30).map { i =>
      (i.toLong, s"san francisco the w$i the far x y z q apart")
    }.toDF("doc_id", "text")
    val out = TextAnalysis.collocations(docs, window = 2, minCount = 10)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Double]("pmi")).toMap
    assert(out.contains(("francisco", "san")), out.keys.toString)
    assert(!out.keys.exists { case (a, b) => Set(a, b) == Set("far", "apart") },
      "beyond-window pair must not exist")
    // the exclusive pair's association dominates any pair involving 'the'
    val sf = out(("francisco", "san"))
    out.collect { case ((a, b), p) if a == "the" || b == "the" => p }
      .foreach(p => assert(sf > p, s"exclusive pair must out-score 'the' pairs"))
    // pair counting respects the window: exactly one (san, francisco) per
    // doc → c_ab = 30
    val row = TextAnalysis.collocations(docs, window = 2, minCount = 10)
      .filter(col("w_a") === "francisco" && col("w_b") === "san").collect().head
    assert(row.getAs[Long]("c_ab") == 30L)
  }

  test("pageRank: uniform on regular graphs, star center wins, mass conserved") {
    import spark.implicits._
    // a 2-regular cycle is PageRank's fixed point: every iteration maps
    // the uniform vector to itself, so ranks stay exactly 1/N
    val cycle = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("a", "b")
    val cr = Graph.pageRank(cycle, iters = 3).collect().map(_.getDouble(1))
    assert(cr.length == 4 && cr.distinct.length == 1 &&
      math.abs(cr.head - 0.25) < 1e-9, cr.mkString(","))
    // a star concentrates mass on the hub; leaves stay symmetric
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L), (0L, 5L)).toDF("a", "b")
    val sr = Graph.pageRank(star, iters = 3).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(sr(0L) > sr(1L), sr.toString)
    assert((1L to 5L).map(sr).distinct.size == 1, "leaves must tie")
    // undirected ⇒ no dangling mass: total rank holds 1 within the
    // 12-dp rounding fences
    assert(math.abs(sr.values.sum - 1.0) < 1e-6, sr.values.sum.toString)
  }

  test("hits: closed-form star, L1 mass 1 per side, pure sources score auth 0") {
    import spark.implicits._
    // directed star 1→10, 2→10, 1→11 after ONE iteration:
    //   a_raw = {10: 2, 11: 1}, tot 3 → auth = {2/3, 1/3}
    //   h_raw = {1: 2/3+1/3 = 1, 2: 2/3}, tot 5/3 → hub = {0.6, 0.4}
    val e = Seq((1L, 10L), (2L, 10L), (1L, 11L)).toDF("a", "b")
    val r1 = Graph.hits(e, iters = 1).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(math.abs(r1(10L)._2 - 2.0 / 3) < 1e-9 &&
      math.abs(r1(11L)._2 - 1.0 / 3) < 1e-9, r1.toString)
    assert(math.abs(r1(1L)._1 - 0.6) < 1e-9 &&
      math.abs(r1(2L)._1 - 0.4) < 1e-9, r1.toString)
    // bipartite: pure sources never receive, pure sinks never send
    assert(r1(1L)._2 == 0.0 && r1(2L)._2 == 0.0, "sources must score auth 0")
    assert(r1(10L)._1 == 0.0 && r1(11L)._1 == 0.0, "sinks must score hub 0")
    // both sides stay L1-normalized through further iterations
    val r3 = Graph.hits(e, iters = 3).collect()
      .map(r => (r.getDouble(1), r.getDouble(2)))
    assert(math.abs(r3.map(_._1).sum - 1.0) < 1e-6, "hub mass must be 1")
    assert(math.abs(r3.map(_._2).sum - 1.0) < 1e-6, "auth mass must be 1")
  }

  test("modularity: two clean triangles score 5/14, one-community labeling scores 0") {
    import spark.implicits._
    // two triangles bridged by one edge, labeled by triangle: m = 7,
    // intra = 6, d_c = 7 per side → Q = (4·7·6 − 98)/196 = 70/196
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L)).toDF("a", "b")
    val lab = Seq((1L, 1L), (2L, 1L), (3L, 1L),
      (4L, 2L), (5L, 2L), (6L, 2L)).toDF("n", "label")
    val r = Graph.modularity(e, lab).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((7L, 6L, 2L, 98L)), r.toString)
    assert(math.abs(r.getDouble(4) - 70.0 / 196) < 1e-6, r.toString)
    // degenerate labeling (everything one community): intra = m and
    // sum_dc2 = (2m)², so Q is exactly 0 — no structure credit
    val one = Seq(1L, 2L, 3L, 4L, 5L, 6L).map((_, 9L)).toDF("n", "label")
    assert(Graph.modularity(e, one).collect().head.getDouble(4) == 0.0)
  }

  test("clusteringCoefficient: K4 is 1, star center 0, leaves NULL") {
    import spark.implicits._
    // K4 + a pendant leaf off node 0: K4 members keep cc below 1 only
    // where the leaf dilutes the pair count
    val k4 = (for (i <- 0L to 3L; j <- i + 1 to 3L) yield (i, j)) :+ ((0L, 9L))
    val r = Graph.clusteringCoefficient(k4.toDF("a", "b")).collect()
      .map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(2), if (x.isNullAt(3)) -1L else x.getLong(3)))).toMap
    // node 0: deg 4, 3 triangles → 2·3/(4·3) = 1/2
    assert(r(0L) == ((4L, 3L, 500000L)), r(0L).toString)
    // nodes 1-3: deg 3, 3 triangles → 2·3/(3·2) = 1
    (1L to 3L).foreach(i => assert(r(i) == ((3L, 3L, 1000000L)), s"$i: ${r(i)}"))
    // the leaf: deg 1 → cc NULL (no neighbor pair exists to close)
    assert(r(9L) == ((1L, 0L, -1L)), r(9L).toString)
    Dedup.uncacheAll()
  }

  test("triangleCounts: exact on K4, zero on trees, canonicalizes dup/reversed edges") {
    import spark.implicits._
    val k4 = (for (i <- 0L to 3L; j <- i + 1 to 3L) yield (i, j)).toDF("a", "b")
    val r = Graph.triangleCounts(k4).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    // K4 has 4 triangles; every node sits in C(3,2) = 3 of them
    assert(r == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L), r.toString)
    assert(Graph.triangleCounts(
      Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")).count() == 0)
    // duplicate and reversed inputs must canonicalize, not double-count
    val messy = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (1L, 3L)).toDF("a", "b")
    val rm = Graph.triangleCounts(messy).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(rm == Map(1L -> 1L, 2L -> 1L, 3L -> 1L), rm.toString)
  }

  test("phraseTopK: overlapping occurrences counted, OOV empty, broadcast probe") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "a a a a b"),          // "a a" occurs 3× (overlapping grams)
      (2L, "x a a y a a z"),      // 2×
      (3L, "b c d"),              // phrase "b c d" once; no "a a"
      (4L, "a b a b a")).toDF("doc_id", "text")
    val qs = Seq(
      (0L, "a a"), (1L, "b c d"), (2L, "zz qq")).toDF("query_id", "q_text")
    val plan = TextAnalysis.phraseTopK(corpus, qs, k = 10)
    val got = plan.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map(
      (0L, 1L) -> 3L, (0L, 2L) -> 2L, (1L, 3L) -> 1L),
      s"wrong hits: $got") // query 2 (OOV phrase) emits nothing
    // the probe stays broadcast — the corpus gram stream must never
    // sort-merge against the query side
    val p = plan.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast probe:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus must not sort-merge:\n$p")
    // k cuts per query with the (count desc, doc asc) order
    val top1 = TextAnalysis.phraseTopK(corpus, qs, k = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(top1 == Map(0L -> 1L, 1L -> 3L), s"wrong top-1: $top1")
  }

  test("sniffContainer: real magic bytes on the binary lane, first-match order") {
    import spark.implicits._
    def b(bytes: Int*): Array[Byte] = bytes.map(_.toByte).toArray
    def a(s: String): Array[Byte] = s.getBytes("US-ASCII")
    // the branches the VARCHAR-lane fixture cannot express: png (0x89)
    // and jpeg (0xFF 0xD8 0xFF) really are invalid UTF-8, plus the size
    // bytes of a real ISO-BMFF box and RIFF header, truncated/empty edges
    val rows: Seq[(Long, Array[Byte])] = Seq(
      1L -> (b(0x89) ++ a("PNG\r\n")),
      2L -> b(0xFF, 0xD8, 0xFF, 0xE0, 0x00),
      3L -> (a("RIFF") ++ b(1, 2, 3, 4) ++ a("WAVE data")),
      4L -> (a("RIFF") ++ b(0, 0, 0, 0) ++ a("AVI LIST")),
      5L -> (a("RIFF") ++ b(0, 0, 0, 0) ++ a("XXXX")),
      6L -> (b(0, 0, 0, 0x20) ++ a("ftypisom")),
      7L -> a("plain text"),
      8L -> Array.empty[Byte],
      9L -> a("ID3")) // exactly the 3 magic bytes, nothing after
    val got = Multimodal.sniffContainer(rows.toDF("doc_id", "payload"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got(1L) == (("png", 6L)))
    assert(got(2L) == (("jpeg", 5L)))
    assert(got(3L) == (("riff_wave", 17L)))
    assert(got(4L) == (("riff_avi", 16L)))
    assert(got(5L) == (("riff_other", 12L)))
    assert(got(6L) == (("mp4", 12L)))
    assert(got(7L) == (("unknown", 10L)))
    assert(got(8L) == (("unknown", 0L)), "empty payload must sniff as unknown, not throw")
    assert(got(9L) == (("mp3_id3", 3L)), "a payload of exactly the magic still classifies")
  }

  test("degreeAssortativity: closed-form graphs — star -1, mixed -5/7, regular NULL") {
    import spark.implicits._
    def r(edges: Seq[(Long, Long)]) =
      Graph.degreeAssortativity(edges.toDF("a", "b")).collect().head
    // star K(1,3): every edge joins the hub (deg 3) to a leaf (deg 1) —
    // perfectly disassortative. Hand moments: m2=6, s1=12, s11=18, s2=30.
    val star = r(Seq((0L, 1L), (0L, 2L), (0L, 3L)))
    assert(star.getLong(0) == 6L && star.getLong(1) == 12L)
    assert(star.getLong(2) == 18L && star.getLong(3) == 30L)
    assert(star.getDouble(4) == -1.0, s"star must be -1: $star")
    // triangle + pendant: degrees (3,2,2,1) → r = -5/7 exactly
    val mixed = r(Seq((0L, 1L), (1L, 2L), (2L, 0L), (0L, 3L)))
    assert(mixed.getDouble(4) ==
      BigDecimal(-5.0 / 7.0).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
      s"triangle+pendant must be -5/7: $mixed")
    // degree-regular graph (cycle): zero degree variance — no mixing to
    // measure; the operator emits NULL (ANSI engines reject the raw 0/0)
    val cycle = r(Seq((0L, 1L), (1L, 2L), (2L, 0L)))
    assert(cycle.isNullAt(4), s"regular graph must be NULL: $cycle")
    Dedup.uncacheAll()
  }

  test("AnnIndex: build/load/serve equals in-memory ivfTopK; probe prunes partitions") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val dir = Files.createTempDirectory("annindex").toString
    graft.sources.AnnIndex.build(emb, k = 4, iters = 2, dir)
    val idx = graft.sources.AnnIndex.load(spark, dir)
    val q = emb.filter(col("vec_id") < 5)
    // identical trained quantizer (deterministic training) → identical serving
    val cents = Similarity.trainCentroids(emb, k = 4, iters = 2)
    val mem = Similarity.ivfTopK(emb, q, cents, k = 3, nprobe = 2)
      .select("query_id", "neighbor_id", "score", "rank")
      .collect().map(_.toSeq).toSet
    val served = graft.sources.AnnIndex.topK(idx, q, k = 3, nprobe = 2)
      .select("query_id", "neighbor_id", "score", "rank")
      .collect().map(_.toSeq).toSet
    assert(served == mem, "persisted-index serving must equal in-memory serving")
    // low-fan-out probe: restricting the read to the query's own cells
    // must land as PartitionFilters on the parquet scan (the IVF probe
    // AS partition pruning) and change nothing about the answer
    val q1 = emb.filter(col("vec_id") === 0)
    val qCells = Similarity.assignCellsLocal(
        Similarity.prepared(q1, "vec_id", "embedding"),
        Similarity.collectCentroids(idx.centroids), nprobe = 2)
      .select(col("cell")).collect().map(_.getLong(0)).toSeq
    val probed = graft.sources.AnnIndex.probe(idx, q1, k = 3, qCells)
    val plan = probed.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(plan).isDefined,
      s"probe must prune cell partitions at the scan:\n$plan")
    assert(probed.collect().map(_.toSeq).toSet ==
      graft.sources.AnnIndex.topK(idx, q1, k = 3, nprobe = 2)
        .collect().map(_.toSeq).toSet)
  }

  test("AnnIndex build: wide scans cluster the cell-partitioned write to one file per cell") {
    // force the r20 cellClustered guard's ENGAGED branch: shrink the scan
    // split size so the source stats say "more splits than the shuffle
    // width" — the un-clustered dynamic-partition write would then open
    // one file per (input partition × cell), the guide §6 small-files
    // trap; the clustered write must land exactly one file per cell dir
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val Seq(dir, again) = Seq("anncluster", "anncluster2").map(Files.createTempDirectory(_).toString)
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
      graft.sources.AnnIndex.build(emb, k = 4, iters = 2, dir)
      // the same corpus, stored in reverse: rows reach the clustering
      // exchange in another order, as shuffle fetch order varies between
      // runs on a cluster
      val reversed = Files.createTempDirectory("annreversed").toString + "/emb"
      emb.orderBy(desc("vec_id")).coalesce(1).write.parquet(reversed)
      graft.sources.AnnIndex.build(spark.read.parquet(reversed), k = 4, iters = 2, again)
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
    def cellFiles(root: String) = new java.io.File(s"$root/corpus").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
      .map(d => d.getName -> d.listFiles().filter(_.getName.endsWith(".parquet")).toSeq)
      .toMap
    val cellDirs = cellFiles(dir)
    assert(cellDirs.nonEmpty, s"expected cell= partition dirs under $dir/corpus")
    cellDirs.foreach { case (d, files) =>
      assert(files.size == 1,
        s"cell dir $d must hold ONE clustered file, got ${files.size}")
    }
    // the documented contract: same corpus + params → byte-identical
    // artifact content, also when the clustering exchange is engaged
    assert(cellFiles(again).keySet == cellDirs.keySet)
    val digests = (m: Map[String, Seq[java.io.File]]) => m.map { case (d, fs) =>
      d -> fs.map(f => java.util.HexFormat.of().formatHex(java.security.MessageDigest
        .getInstance("SHA-256").digest(Files.readAllBytes(f.toPath))))
    }
    assert(digests(cellFiles(again)) == digests(cellDirs),
      "two builds of the same corpus must write byte-identical cell files")
    // the layout decision never changes the answer: serving off the
    // clustered artifact equals the in-memory operator
    val idx = graft.sources.AnnIndex.load(spark, dir)
    val q = emb.filter(col("vec_id") < 3)
    val cents = Similarity.trainCentroids(emb, k = 4, iters = 2)
    assert(
      graft.sources.AnnIndex.topK(idx, q, k = 3, nprobe = 2)
        .select("query_id", "neighbor_id", "score", "rank")
        .collect().map(_.toSeq).toSet ==
      Similarity.ivfTopK(emb, q, cents, k = 3, nprobe = 2)
        .select("query_id", "neighbor_id", "score", "rank")
        .collect().map(_.toSeq).toSet,
      "cell-clustered artifact serving must equal in-memory serving")
  }

  test("AnnIndex filtered serve: metadata predicate pushes into the scan next to the cell filter") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val dir = Files.createTempDirectory("annfiltered").toString
    graft.sources.AnnIndex.build(emb, k = 4, iters = 2, dir,
      metaCols = Seq("label"))
    val idx = graft.sources.AnnIndex.load(spark, dir)
    val q = emb.filter(col("vec_id") < 5)
    val pred = col("label") === 1
    // artifact-served filtered top-k ≡ the in-memory filtered operator
    // under the same (deterministic) trained quantizer
    val cents = Similarity.trainCentroids(emb, k = 4, iters = 2)
    val mem = Similarity.filteredIvfTopK(emb, q, cents, k = 3, pred, nprobe = 2)
      .select("query_id", "neighbor_id", "score", "rank")
      .collect().map(_.toSeq).toSet
    val served = graft.sources.AnnIndex.topK(idx, q, k = 3, nprobe = 2,
        pred = Some(pred))
      .select("query_id", "neighbor_id", "score", "rank")
      .collect().map(_.toSeq).toSet
    assert(served == mem, "filtered artifact serving must equal the in-memory operator")
    // composed with probe: BOTH pruning layers land on one scan — cell
    // directories as PartitionFilters, the metadata predicate as
    // PushedFilters
    val q1 = emb.filter(col("vec_id") === 0)
    val qCells = Similarity.assignCellsLocal(
        Similarity.prepared(q1, "vec_id", "embedding"),
        Similarity.collectCentroids(idx.centroids), nprobe = 2)
      .select(col("cell")).collect().map(_.getLong(0)).toSeq
    val probed = graft.sources.AnnIndex.probe(idx, q1, k = 3, qCells,
      pred = Some(pred))
    val plan = probed.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(plan).isDefined,
      s"cell pruning lost:\n$plan")
    assert("PushedFilters: \\[[^\\]]*label".r.findFirstIn(plan).isDefined,
      s"metadata predicate must reach the parquet scan:\n$plan")
  }

  test("AnnIndex append: grown index serves identically to a union rebuild") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val base = emb.filter(col("vec_id") < 30)
    val delta = emb.filter(col("vec_id") >= 30)
    val dir = Files.createTempDirectory("annupsert").toString
    graft.sources.AnnIndex.build(base, k = 4, iters = 2, dir)
    graft.sources.AnnIndex.append(spark, dir, delta)
    val idx = graft.sources.AnnIndex.load(spark, dir)
    val q = emb.filter(col("vec_id") < 5)
    val served = graft.sources.AnnIndex.topK(idx, q, k = 3, nprobe = 2)
      .select("query_id", "neighbor_id", "score", "rank")
      .collect().map(_.toSeq).toSet
    // the reference semantics: full corpus under the SAME frozen quantizer
    val cents = Similarity.trainCentroids(base, k = 4, iters = 2)
    val mem = Similarity.ivfTopK(emb, q, cents, k = 3, nprobe = 2)
      .select("query_id", "neighbor_id", "score", "rank")
      .collect().map(_.toSeq).toSet
    assert(served == mem, "grown-index serving must equal a union rebuild")
    // the grown corpus holds every row exactly once
    assert(idx.corpus.count() == emb.count())
  }

  test("DedupIndex: probe equals batch cross pairs; append-grown index identical", SlowTest) {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val delta = docs.filter(col("doc_id") < 20)
    val dir = Files.createTempDirectory("dedupindex").toString
    graft.sources.DedupIndex.build(docs.filter(col("doc_id") >= 20), dir)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val probed = pairs(graft.sources.DedupIndex.probe(
      graft.sources.DedupIndex.load(spark, dir), delta))
    // the reference semantics: the full batch run's cross pairs
    val full = pairs(Dedup.minhashLshPairs(docs)
      .filter(col("doc_a") < 20 && col("doc_b") >= 20))
    assert(probed == full, s"probe must equal batch cross pairs: $probed vs $full")
    assert(full.nonEmpty, "fixture must exercise cross pairs")
    // growth path: base built in two installments probes identically
    val dir2 = Files.createTempDirectory("dedupindex2").toString
    graft.sources.DedupIndex.build(docs.filter(col("doc_id") >= 35), dir2)
    graft.sources.DedupIndex.append(spark, dir2,
      docs.filter(col("doc_id") >= 20 && col("doc_id") < 35))
    assert(pairs(graft.sources.DedupIndex.probe(
      graft.sources.DedupIndex.load(spark, dir2), delta)) == full,
      "append-grown index must probe identically to a one-shot build")
  }

  test("ingest dedup stream: accumulated pairs equal the batch run, any split", SlowTest) {
    import graft.streaming.IngestDedupStream
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val expect = pairsOf(Dedup.minhashLshPairs(docs))
    Dedup.uncacheAll()
    assert(expect.nonEmpty, "fixture must exercise pairs")
    // a neighbor pipeline's cache in the session pool: the per-batch
    // scoped release must leave it alone (same pin as the BlockSkew
    // store — merge used to drain the global pool every batch)
    import spark.implicits._
    val neighbor = Dedup.cached(Seq((7L, "ingest neighbor")).toDF("doc_id", "text"))
    neighbor.count()
    for (nBatches <- Seq(1, 3)) {
      val dir = Files.createTempDirectory("ingestdedup").toString
      val store = new IngestDedupStream.IngestStore(spark, dir)
      val step = math.ceil(500.0 / nBatches).toInt
      (0 until nBatches).foreach { i =>
        store.merge(docs.filter(
          col("doc_id") >= i * step && col("doc_id") < (i + 1) * step), i.toLong)
      }
      assert(neighbor.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
        "ingest merge purged a co-resident pipeline's cache")
      // intra-batch pairs come from the local pass, cross-batch pairs
      // from the probe — together exactly the batch operator's output
      assert(pairsOf(store.pairs) == expect,
        s"nBatches=$nBatches: ${pairsOf(store.pairs).size} vs ${expect.size}")
      // replay guard: re-delivering batch 0 must not double-append
      assert(!store.merge(docs.filter(col("doc_id") < step), 0L))
      assert(pairsOf(store.pairs) == expect)
    }
    Dedup.uncacheAll()
  }

  test("ingest dedup stream: a rebuilt store resumes instead of destroying the index", SlowTest) {
    import graft.streaming.IngestDedupStream
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val expectHalf = pairsOf(Dedup.minhashLshPairs(docs.filter(col("doc_id") < 300)))
    val expectFull = pairsOf(Dedup.minhashLshPairs(docs))
    Dedup.uncacheAll()
    assert(expectHalf.nonEmpty && expectFull.size > expectHalf.size,
      "fixture must exercise pairs on both sides of the restart")
    val dir = Files.createTempDirectory("ingestrestart").toString
    val store = new IngestDedupStream.IngestStore(spark, dir)
    store.merge(docs.filter(col("doc_id") < 150), 0L)
    store.merge(docs.filter(col("doc_id") >= 150 && col("doc_id") < 300), 1L)
    assert(pairsOf(store.pairs) == expectHalf)
    // driver restart: a NEW store on the same dir. Before the durable
    // restore, its in-memory indexed=false would make the next batch
    // DedupIndex.build(mode=overwrite) — destroying the accumulated
    // bands/sets — and its pairs table would cold-start empty while the
    // checkpoint marks batches 0..1 delivered.
    val store2 = new IngestDedupStream.IngestStore(spark, dir)
    assert(pairsOf(store2.pairs) == expectHalf,
      "restored pairs must equal the pre-restart state")
    // checkpoint re-delivery after restart drops on the restored guard
    assert(!store2.merge(docs.filter(col("doc_id") >= 150 && col("doc_id") < 300), 1L))
    assert(pairsOf(store2.pairs) == expectHalf)
    // a genuinely new batch probes the SURVIVING index: cross pairs
    // against docs 0..299 prove the artifact was appended, not rebuilt
    assert(store2.merge(docs.filter(col("doc_id") >= 300), 2L))
    assert(pairsOf(store2.pairs) == expectFull,
      "post-restart merge must see cross pairs against the pre-restart corpus")
    Dedup.uncacheAll()
  }

  test("AnnIndex PQ: artifact serving equals in-memory ivfPqTopK; codes beat vectors on bytes", SlowTest) {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val dir = Files.createTempDirectory("annindexpq").toString
    graft.sources.AnnIndex.buildPq(emb, dir, pqIters = 2, trainFrac = 0.5)
    val idx = graft.sources.AnnIndex.loadPq(spark, dir)
    val q = emb.filter(col("vec_id") < 5)
    // deterministic training → the artifact round-trip (centroids +
    // codebooks + codes through parquet) serves the IDENTICAL result the
    // in-memory chain computes with the same params
    val mem = Similarity.ivfPqTopK(emb, q, k = 3, pqIters = 2,
        trainFrac = 0.5)
      .select("query_id", "neighbor_id", "l2_dist", "rnk")
      .collect().map(_.toSeq).toSet
    val served = graft.sources.AnnIndex.topKPq(idx, q, k = 3)
      .select("query_id", "neighbor_id", "l2_dist", "rnk")
      .collect().map(_.toSeq).toSet
    assert(served == mem, "PQ artifact serving must equal in-memory IVF-PQ")
    // the artifact's economics: the ADC-scanned codes table must be a
    // small fraction of the raw-vector bytes (m ints vs dims doubles)
    def bytes(p: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.endsWith(".parquet")) f.length() else 0L
      walk(new java.io.File(p))
    }
    val (cb, vb) = (bytes(s"$dir/codes"), bytes(s"$dir/vectors"))
    assert(cb * 3 < vb, s"codes=$cb vectors=$vb — codes must be the small table")
    // low-fan-out probe: both artifact reads prune to the probed cells
    val q1 = emb.filter(col("vec_id") === 0)
    val qCells = Similarity.assignCellsLocal(
        Similarity.prepared(q1, "vec_id", "embedding"), idx.model.cents,
        nprobe = 2)
      .select(col("cell")).collect().map(_.getLong(0)).toSeq
    val probed = graft.sources.AnnIndex.probePq(idx, q1, k = 3, qCells)
    val plan = probed.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell".r.findAllIn(plan).size >= 2,
      s"probePq must prune cell partitions on BOTH scans:\n$plan")
    assert(probed.select("query_id", "neighbor_id", "l2_dist", "rnk")
      .collect().map(_.toSeq).toSet ==
      graft.sources.AnnIndex.topKPq(idx, q1, k = 3)
        .select("query_id", "neighbor_id", "l2_dist", "rnk")
        .collect().map(_.toSeq).toSet)
  }

  test("AnnIndex PQ append: a grown index serves like a full build with the frozen model", SlowTest) {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val first = emb.filter(col("vec_id") % 2 === 0)
    val rest = emb.filter(col("vec_id") % 2 =!= 0)
    val dir = Files.createTempDirectory("annindexpqapp").toString
    // build on HALF the corpus, append the other half with the frozen
    // model — the nightly-build / continuous-append lifecycle
    graft.sources.AnnIndex.buildPq(first, dir, pqIters = 2)
    graft.sources.AnnIndex.appendPq(spark, dir, rest)
    val grown = graft.sources.AnnIndex.loadPq(spark, dir)
    assert(grown.codes.count() == emb.count() &&
      grown.vectors.count() == emb.count())
    // reference: the same frozen model (trained on `first`) encoding and
    // serving the FULL corpus in memory
    val model = Similarity.trainPq(first, pqIters = 2)
    val q = emb.filter(col("vec_id") < 5)
    val mem = Similarity.pqServe(
        Similarity.encodePq(emb, model),
        Similarity.pqQueryTables(q, model, nprobe = 2),
        Similarity.prepared(emb, "vec_id", "embedding"), q,
        k = 3, rerank = 50, model)
      .select("query_id", "neighbor_id", "l2_dist", "rnk")
      .collect().map(_.toSeq).toSet
    val served = graft.sources.AnnIndex.topKPq(grown, q, k = 3)
      .select("query_id", "neighbor_id", "l2_dist", "rnk")
      .collect().map(_.toSeq).toSet
    assert(served == mem, "grown artifact must serve the frozen-model full-corpus answer")
  }

  test("Ingest: jsonl/csv round-trip losslessly; corrupt lines land in the lane") {
    import java.nio.file.{Files => JFiles, Paths}
    import scala.jdk.CollectionConverters._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"))
    val dir = Files.createTempDirectory("ingest").toString
    docs.write.mode("overwrite").json(s"$dir/jsonl")
    // plant two corrupt lines as an extra file in the directory (editing
    // a Spark-written part file in place trips its .crc sidecar)
    JFiles.write(Paths.get(s"$dir/jsonl/extra-corrupt.json"),
      "{\"doc_id\": 1, \"text\": truncated\nnot json at all\n".getBytes)
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long").add("text", "string").add("lang", "string")
    val in = graft.sources.Ingest.readJsonl(spark, s"$dir/jsonl", schema)
    val audit = graft.sources.Ingest.corruptAudit(in).collect().head
    val nDocs = docs.count()
    assert(audit.getLong(0) == nDocs + 2, audit.toString)
    assert(audit.getLong(1) == nDocs && audit.getLong(2) == 2L, audit.toString)
    // clean rows round-trip exactly (newline-bearing text included)
    val back = graft.sources.Ingest.clean(in)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val orig = docs.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(back == orig, s"missing=${(orig -- back).take(2)} extra=${(back -- orig).take(2)}")
    in.unpersist()

    // csv: a row with a non-numeric id lands in the lane, not in doc_id
    JFiles.write(Paths.get(s"$dir/bad.csv"),
      "doc_id,text,lang\n1,hello,en\nnotanumber,broken,xx\n".getBytes)
    val c = graft.sources.Ingest.readCsv(spark, s"$dir/bad.csv", schema)
    val ca = graft.sources.Ingest.corruptAudit(c).collect().head
    assert((ca.getLong(0), ca.getLong(1), ca.getLong(2)) == ((2L, 1L, 1L)), ca.toString)
    c.unpersist()
  }

  test("Ingest stream: drop-directory jsonl folds to the batch audit") {
    import java.nio.file.{Files => JFiles, Paths}
    val dir = Files.createTempDirectory("ingest-stream").toString
    JFiles.createDirectories(Paths.get(s"$dir/drop"))
    JFiles.write(Paths.get(s"$dir/drop/a.json"),
      "{\"doc_id\": 1, \"text\": \"hello\", \"lang\": \"en\"}\nbroken line\n".getBytes)
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long").add("text", "string").add("lang", "string")
    val nClean = new java.util.concurrent.atomic.AtomicLong()
    val nCorrupt = new java.util.concurrent.atomic.AtomicLong()
    val q = graft.sources.Ingest.streamJsonl(spark, s"$dir/drop", schema)
      .writeStream
      .option("checkpointLocation", s"$dir/ckpt")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val a = graft.sources.Ingest.corruptAudit(
          graft.operators.Dedup.cached(batch)).collect().head
        nClean.addAndGet(a.getLong(1)); nCorrupt.addAndGet(a.getLong(2)); ()
      }
      .start()
    try {
      q.processAllAvailable()
      assert((nClean.get(), nCorrupt.get()) == ((1L, 1L)), s"$nClean/$nCorrupt")
      // a late file lands in a later batch; totals fold like the batch read
      JFiles.write(Paths.get(s"$dir/drop/b.json"),
        "{\"doc_id\": 2, \"text\": \"world\", \"lang\": \"fr\"}\n".getBytes)
      q.processAllAvailable()
      assert((nClean.get(), nCorrupt.get()) == ((2L, 1L)), s"$nClean/$nCorrupt")
    } finally q.stop()
  }

  test("TextIndex: build/load/serve equals in-memory bm25TopK; buckets prune partitions") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val dir = Files.createTempDirectory("textindex").toString
    graft.sources.TextIndex.build(docs, dir, nBuckets = 16)
    val idx = graft.sources.TextIndex.load(spark, dir, nBuckets = 16)
    val qs = Seq((0L, "fast table scan"), (1L, "join query order"),
      (2L, "zebra hash")).toDF("query_id", "q_text")
    val mem = TextAnalysis.bm25TopK(docs, qs, k = 5)
      .select("query_id", "doc_id", "score")
      .collect().map(_.toSeq).toSet
    val served = graft.sources.TextIndex.bm25TopK(idx, qs, k = 5)
      .select("query_id", "doc_id", "score")
      .collect().map(_.toSeq).toSet
    assert(served == mem,
      s"index serving must equal in-memory BM25: missing=${mem -- served} extra=${served -- mem}")
    // the postings read must prune to the query terms' hash buckets at
    // the storage layer
    val plan = graft.sources.TextIndex.bm25TopK(idx, qs, k = 5)
      .queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*bucket".r.findFirstIn(plan).isDefined,
      s"serving must prune bucket partitions at the scan:\n$plan")
  }

  test("sceneCuts: planted level shift is the only cut; flat payloads are cut-free") {
    import spark.implicits._
    // doc 1: 128 bytes of 'a' (lvl 97000‰... per-mille of mean 97) then
    // 128 bytes of 'z' (mean 122): one level shift of 25000 per-mille
    // at the frame boundary; doc 2: flat content, zero cuts
    val docs = Seq(
      (1L, "a" * 128 + "z" * 128),
      (2L, "m" * 256)).toDF("doc_id", "text")
    val out = Multimodal.sceneCuts(docs, frameBytes = 64, jumpThreshold = 4000L)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(1L) == ((4L, 1L, 25000L)), out.toString) // one cut, jump = (122-97)*1000
    assert(out(2L) == ((4L, 0L, 0L)), out.toString)
    // a single-frame payload has no transitions and must not crash or cut
    val one = Multimodal.sceneCuts(Seq((3L, "abc")).toDF("doc_id", "text"),
      frameBytes = 64).collect().head
    assert(one.getLong(1) == 1L && one.getLong(2) == 0L && one.getLong(3) == 0L)
  }

  test("asof tolerance: stale matches null out; nothing else changes") {
    import spark.implicits._
    val clicks = Seq((1L, 10L, 1000L), (1L, 11L, 5000L), (2L, 12L, 100L))
      .toDF("k", "lid", "t")
    val quotes = Seq((1L, 900L, 7L), (1L, 4000L, 8L)).toDF("k", "t", "rid")
    val plain = Temporal.asofJoin(clicks, quotes, "k", "t", "lid", "rid")
      .collect().map(r => r.getLong(1) -> (Option(r.get(3)), Option(r.get(4)))).toMap
    // sanity: click 10 matches rid 7 at 900 (gap 100), click 11 matches
    // rid 8 at 4000 (gap 1000), click 12 has no right at all
    assert(plain(10L) == (Some(7L), Some(900L)))
    assert(plain(11L) == (Some(8L), Some(4000L)))
    assert(plain(12L) == (None, None))
    val tol = Temporal.asofJoin(clicks, quotes, "k", "t", "lid", "rid",
        toleranceMicros = Some(500L))
      .collect().map(r => r.getLong(1) -> (Option(r.get(3)), Option(r.get(4)))).toMap
    // gap 100 ≤ 500 survives; gap 1000 > 500 nulls BOTH asof columns;
    // the bare-miss row is untouched (null staleness → stays null)
    assert(tol(10L) == (Some(7L), Some(900L)))
    assert(tol(11L) == (None, None))
    assert(tol(12L) == (None, None))
    // forward direction mirrors: click 10 → next right at 4000, gap 3000
    val fwd = Temporal.asofJoin(clicks, quotes, "k", "t", "lid", "rid",
        direction = "forward", toleranceMicros = Some(3000L))
      .collect().map(r => r.getLong(1) -> Option(r.get(3))).toMap
    assert(fwd(10L) == Some(8L))   // gap 3000 ≤ 3000 kept
    assert(fwd(11L) == None)       // nothing at-or-after 5000
  }

  test("kfold: partition of the corpus, filter-only rotation, no shuffle") {
    import spark.implicits._
    val ids = (0L until 1000L).toDF("doc_id")
    val folded = Splits.kfold(ids, "doc_id", k = 5)
    val counts = folded.groupBy("fold").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts.keySet == (0L until 5L).toSet, s"all folds present: $counts")
    assert(counts.values.sum == 1000L, "folds partition the corpus")
    // md5-uniform balance: no fold degenerate at n=1000
    assert(counts.values.forall(n => n > 100 && n < 300), counts.toString)
    // fold rotation is a FILTER on a row-local column: the plan must not
    // exchange (the whole point of fold-as-pure-function-of-id)
    val plan = folded.filter(col("fold") =!= 3).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"kfold rotation must be narrow:\n$plan")
    // determinism across partitionings
    val a = folded.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = Splits.kfold(ids.repartition(7), "doc_id", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b)
  }

  test("cdc compaction: struct-argmax equals the window form; combines map-side") {
    import spark.implicits._
    // ties on ts within a key exercise the (ts, event_id) tiebreak
    val ev = Seq(
      (1L, "a", 100L, 7L, 1.0), (1L, "a", 200L, 3L, 2.0), (1L, "a", 200L, 9L, 3.0),
      (2L, "a", 50L, 1L, 4.0), (2L, "b", 60L, 2L, 5.0))
      .toDF("user_id", "event_type", "ts_us", "event_id", "value")
    val compact = ev.groupBy(col("user_id"), col("event_type"))
      .agg(max(struct(col("ts_us"), col("event_id"), col("value"))).as("last"))
      .select(col("user_id"), col("event_type"), col("last.ts_us"),
        col("last.event_id"), col("last.value"))
      .collect().map(_.toSeq).toSet
    import org.apache.spark.sql.expressions.Window
    val viaWindow = ev.withColumn("rn", row_number().over(
        Window.partitionBy(col("user_id"), col("event_type"))
          .orderBy(col("ts_us").desc, col("event_id").desc)))
      .filter(col("rn") === 1).drop("rn")
      .select("user_id", "event_type", "ts_us", "event_id", "value")
      .collect().map(_.toSeq).toSet
    assert(compact == viaWindow)
    assert(compact.contains(Seq(1L, "a", 200L, 9L, 3.0)), "tiebreak by event_id")
    // the scale claim: a partial (map-side) max must exist before the
    // exchange, and no Window node anywhere
    val plan = ev.groupBy(col("user_id"), col("event_type"))
      .agg(max(struct(col("ts_us"), col("event_id"), col("value"))).as("last"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_max") || plan.contains("partial_"), plan)
    assert(!plan.toLowerCase.contains("window"), plan)
  }

  test("gap fill: silent buckets appear as explicit zeros; span is closed") {
    import spark.implicits._
    val ev = Seq((0L, 1.0), (1L, 2.0), (4L, 3.0)).toDF("hour_idx", "value")
    val byHour = ev.groupBy(col("hour_idx"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
    val grid = byHour.agg(min("hour_idx").as("lo"), max("hour_idx").as("hi"))
      .select(explode(sequence(col("lo"), col("hi"))).as("hour_idx"))
    val filled = grid.join(byHour, Seq("hour_idx"), "left")
      .select(col("hour_idx"), coalesce(col("n_events"), lit(0L)).as("n"))
      .orderBy("hour_idx").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(filled.toSeq == Seq((0L, 1L), (1L, 1L), (2L, 0L), (3L, 0L), (4L, 1L)))
  }

  test("saltedEquiJoin: result identical to the plain join; exchange keyed (key, salt)") {
    import spark.implicits._
    // 3 hot keys, multiple rows per key on BOTH sides of the same key —
    // the replication-correctness trap (each large row must meet each
    // same-key small row exactly once, not `salts` times)
    val large = (0L until 300L).map(i => (i, s"k${i % 3}", i * 2)).toDF("rid", "key", "v")
    val small = Seq(("k0", 10L), ("k1", 20L), ("k2", 30L), ("k2", 31L)).toDF("key", "w")
    val plain = large.join(small, Seq("key"))
      .select("key", "rid", "v", "w").collect().map(_.toSeq).toSet
    val salted = Joins.saltedEquiJoin(large, small, "key", salts = 8, col("rid"))
      .select("key", "rid", "v", "w").collect().map(_.toSeq).toSet
    assert(salted == plain)
    val plan = Joins.saltedEquiJoin(large, small, "key", salts = 8, col("rid"))
      .queryExecution.executedPlan.toString
    // the de-skew evidence: the big side's exchange keys on (key, __salt),
    // so one hot key spreads over 8 partitions
    assert("Exchange hashpartitioning\\(key[^)]*__salt".r.findFirstIn(plan).isDefined,
      s"expected a (key, salt)-keyed exchange:\n$plan")
  }

  test("bucketed tables co-locate: the join plan has no Exchange at all") {
    val dir = Files.createTempDirectory("bucketed").toString
    val o = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val c = spark.read.parquet(s"$sf/customer.parquet")
      .select("c_custkey", "c_acctbal")
    try {
      // pre-partitioned layout: both sides bucketed AND sorted by the join
      // key — at 100 TB this is how a repeatedly-joined pair of tables
      // amortizes its shuffle to zero (pay one clustered write, join free
      // forever after)
      o.write.bucketBy(8, "o_custkey").sortBy("o_custkey")
        .option("path", s"$dir/o").saveAsTable("bkt_orders")
      c.write.bucketBy(8, "c_custkey").sortBy("c_custkey")
        .option("path", s"$dir/c").saveAsTable("bkt_customer")
      // merge hint: at fixture size the planner would broadcast the tiny
      // side (and rightly so); the pin is about the LARGE-large regime,
      // where the hinted sort-merge is what the planner picks unaided
      val joined = spark.table("bkt_orders").hint("merge")
        .join(spark.table("bkt_customer"),
          col("o_custkey") === col("c_custkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"),
        s"bucketed-by-join-key tables must join with zero shuffle:\n$plan")
      // and it still computes the right thing
      val expected = o.join(c, col("o_custkey") === col("c_custkey")).count()
      assert(joined.count() == expected)
    } finally {
      spark.sql("DROP TABLE IF EXISTS bkt_orders")
      spark.sql("DROP TABLE IF EXISTS bkt_customer")
    }
  }

  test("zOrderKey: Morton interleave matches a bit-twiddled reference; SQL form identical") {
    import spark.implicits._
    def mortonRef(x: Long, y: Long, bits: Int): Long =
      (0 until bits).foldLeft(0L) { (acc, i) =>
        acc | (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1)) }
    val pts = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L), (65535L, 65535L),
      (12345L, 54321L), (1L << 20, 7L)) // x beyond `bits` folds modularly
    val df = pts.toDF("x", "y")
      .withColumn("zk", Layout.zOrderKey(col("x"), col("y"), 16))
      .withColumn("zs", expr(Layout.zOrderSql("x", "y", 16)))
    df.collect().foreach { r =>
      val (x, y) = (r.getLong(0), r.getLong(1))
      assert(r.getLong(2) == mortonRef(x & 0xFFFF, y & 0xFFFF, 16),
        s"column fold wrong for ($x,$y)")
      assert(r.getLong(3) == r.getLong(2),
        s"zOrderSql must be value-identical to zOrderKey for ($x,$y)")
    }
  }

  test("zOrderStats buckets bound both columns; clusterByZ is one range exchange") {
    import spark.implicits._
    // a 64×64 grid: every z_bucket at shift 6 covers a 8×... rectangle —
    // assert each bucket's ranges are strictly tighter than the global
    val grid = (for (x <- 0L until 64L; y <- 0L until 64L) yield (x, y))
      .toDF("x", "y")
    val stats = Layout.zOrderStats(grid, "x", "y", bits = 6, bucketShift = 6)
      .collect()
    assert(stats.length == 64) // 4096 points / 2^6 per bucket
    stats.foreach { r =>
      // top 6 of 12 Morton bits fix 3 high bits of each coordinate →
      // every bucket is an exact 8×8 tile
      assert(r.getAs[Long]("x_max") - r.getAs[Long]("x_min") == 7L, r.toString)
      assert(r.getAs[Long]("y_max") - r.getAs[Long]("y_min") == 7L, r.toString)
      assert(r.getAs[Long]("n_rows") == 64L)
    }
    // the clustering write plan: exactly one RangePartitioning exchange
    // and a partition-local sort — the cost model of any clustered write
    val plan = Layout.clusterByZ(grid, "x", "y", bits = 6, numFiles = 4)
      .queryExecution.executedPlan.toString
    assert("Exchange rangepartitioning\\(zkey".r.findAllIn(plan).size == 1, plan)
    assert(plan.contains("Sort [zkey"), plan)
  }

  test("matryoshka prefix serving: full-width prefix reproduces exact top-k") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(emb, q, k = 3)
    // slicing to the FULL width must be a no-op end-to-end (prefix norms
    // and prefix dots degrade to the exact computation), so recall == 1
    // for every query — the self-consistency anchor of the audit row
    val w = emb.select(col("vec_id"), slice(col("embedding"), 1, 64).as("embedding"))
    val viaSlice = Similarity.bruteForceTopK(w, w.filter(col("vec_id") < 5), k = 3)
    val r = Similarity.recallAt(viaSlice, exact).collect()
    assert(r.length == 5)
    assert(r.forall(_.getAs[Double]("recall") == 1.0), r.mkString(","))
    // a strict prefix stays well-formed: k_exact intact, recall in [0,1]
    val t16 = emb.select(col("vec_id"), slice(col("embedding"), 1, 16).as("embedding"))
    val r16 = Similarity.recallAt(
      Similarity.bruteForceTopK(t16, t16.filter(col("vec_id") < 5), k = 3), exact).collect()
    assert(r16.forall(x => x.getAs[Long]("k_exact") == 3L &&
      x.getAs[Double]("recall") >= 0.0 && x.getAs[Double]("recall") <= 1.0))
  }

  test("rpProject: exact signed sums vs rpSign replay; projection never shuffles") {
    import spark.implicits._
    val vecs = Seq((1L, Seq(1.5, -2.0)), (2L, Seq(0.0, 4.0))).toDF("vec_id", "embedding")
    val got = Similarity.rpProject(vecs, outDims = 3, inDims = 2)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    // output dim j is exactly Σᵢ s(j,i)·vᵢ with the same md5-parity signs
    // the operator derives — replayed here independently through rpSign
    def proj(v: Seq[Double]) = (0 until 3).map(j =>
      (1 to 2).map(i => Similarity.rpSign(j, i) * v(i - 1)).sum)
    assert(got(0)._2 == proj(Seq(1.5, -2.0)) && got(1)._2 == proj(Seq(0.0, 4.0)))
    // signs are a pure two-valued function of the coordinate pair
    assert(Seq(Similarity.rpSign(0, 1), Similarity.rpSign(7, 63), Similarity.rpSign(47, 64))
      .forall(s => s == 1 || s == -1))
    // and at least one −1 exists in a 3×2 matrix drawn from md5 parity
    assert((0 until 3).exists(j => (1 to 2).exists(i => Similarity.rpSign(j, i) == -1)))
    // the projection is a narrow row-local map: literal planes, zero Exchange
    val plan = Similarity.rpProject(emb, outDims = 8, inDims = 64)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"rpProject must not shuffle:\n$plan")
  }

  test("dimStats: dead-dim detection, exact integer moments, single dim-keyed exchange") {
    import spark.implicits._
    // dim 1: ±0.5 → micro-units ±500000 (alive, sum 0); dim 2: |v| < 5e-7
    // rounds to 0 at micro-unit precision → counted dead
    val vecs = Seq((1L, Seq(0.5, 4e-7)), (2L, Seq(-0.5, -4e-7))).toDF("vec_id", "embedding")
    val got = Similarity.dimStats(vecs).orderBy("i").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(got.toSeq == Seq(
      (1L, 2L, 0L, 0L, 2L * 500000L * 500000L, -500000L, 500000L),
      (2L, 2L, 2L, 0L, 0L, 0L, 0L)))
    // one hash aggregation on the dim key: map-side combine collapses every
    // task to ≤ dims rows before the single exchange
    val plan = Similarity.dimStats(emb).queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning\\(i#".r.findAllIn(plan).size == 1, plan)
  }

  test("gram matrix agg: exact triangle sums, merge-order invariant, shape guard") {
    import spark.implicits._
    val vecs = Seq(Seq(1L, 2L, 3L), Seq(-1L, 0L, 2L), Seq(4L, -2L, 1L))
    val d = 3
    // expected upper triangle row-major: G[i][j] = Σ_rows v(i)·v(j)
    val exp = for { i <- 0 until d; j <- i until d }
      yield vecs.map(v => v(i) * v(j)).sum
    def run(parts: Int) = vecs.toDF("v").repartition(parts)
      .agg(graft.functions.GramMatrix(col("v"), d)).head.getSeq[Long](0)
    assert(run(1) == exp)
    // partial buffers merge by elementwise addition — partitioning-invariant
    assert(run(4) == exp)
    // a wrong-length vector throws (silent skip would desync the
    // homogeneous n from the caller's row count)
    intercept[org.apache.spark.SparkException] {
      Seq(Seq(1L, 2L)).toDF("v").agg(graft.functions.GramMatrix(col("v"), 3)).head
    }
  }

  test("dimCovariance: anti-correlated pair −1, zero-variance dim NULL corr, exact integers") {
    import spark.implicits._
    // dim2 = −dim1 (perfect anti-correlation); dim3 constant (variance 0)
    val vecs = Seq(
      (1L, Seq(0.1, -0.1, 0.2)),
      (2L, Seq(0.3, -0.3, 0.2)),
      (3L, Seq(0.5, -0.5, 0.2))).toDF("vec_id", "embedding")
    val got = Similarity.dimCovariance(vecs, dims = 3).orderBy("i", "j").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), if (r.isNullAt(5)) None else Some(r.getDouble(5))))
    // micro-units: dim1 = (1e5, 3e5, 5e5); Σv1v2 = −3.5e11,
    // cov12 = 3·(−3.5e11) − 9e5·(−9e5) = −2.4e11, var1 = var2 = 2.4e11
    // ⇒ corr exactly −1.0; dim3 pairs: cov 0 and var3 = 0 ⇒ NULL corr
    assert(got.toSeq == Seq(
      (1L, 2L, 3L, -350000000000L, -240000000000L, Some(-1.0)),
      (1L, 3L, 3L, 180000000000L, 0L, None),
      (2L, 3L, 3L, -180000000000L, 0L, None)))
  }

  test("trend stream: folded daily totals serve the batch operator's exact trend, any split", SlowTest) {
    import spark.implicits._
    import graft.streaming.TrendStream
    val day = 86400000000L
    // same (key, day) appears in DIFFERENT batches → the fold must add,
    // not overwrite; key 2 stays single-day (NULL slope) throughout
    val all = Seq(
      (1L, 0L * day + 5L, 4L), (1L, 1L * day + 1L, 20L),
      (1L, 0L * day + 9L, 6L), (1L, 2L * day + 1L, 30L),
      (2L, 0L * day + 1L, 7L), (2L, 0L * day + 2L, 8L),
      (3L, 0L * day + 1L, 30L), (3L, 1L * day + 1L, 20L))
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), if (r.isNullAt(5)) None else Some(r.getLong(5))))).toMap
    val expect = key(Temporal.linearTrend(all.toDF("user_id", "ts_us", "value")))
    for (nBatches <- Seq(1, 4)) {
      val store = new TrendStream.TrendStore(spark)
      val per = math.ceil(all.size.toDouble / nBatches).toInt
      all.grouped(per).zipWithIndex.foreach { case (chunk, i) =>
        store.merge(chunk.toDF("user_id", "ts_us", "value"), i.toLong)
      }
      assert(key(store.current) == expect,
        s"nBatches=$nBatches: ${key(store.current)} vs $expect")
      // the robust and seasonality serves ride the SAME state and must
      // equal their batch operators over the delivered union
      assert(store.currentRobust.collect().map(_.toSeq).toSet ==
        Temporal.theilSenTrend(all.toDF("user_id", "ts_us", "value"))
          .collect().map(_.toSeq).toSet, s"robust nBatches=$nBatches")
      assert(store.currentAcf(2).collect().map(_.toSeq).toSet ==
        Temporal.acfByKey(
          Temporal.dailyTotals(all.toDF("user_id", "ts_us", "value")),
          "user_id", "x", "y", 2).collect().map(_.toSeq).toSet,
        s"acf nBatches=$nBatches")
      // replay guard: re-delivering a folded batch must not move totals
      assert(!store.merge(all.toDF("user_id", "ts_us", "value"), 0L))
      assert(key(store.current) == expect)
    }
  }

  test("hilbertKey: grid bijection, consecutive positions adjacent, SQL chain identical") {
    import spark.implicits._
    // full 8×8 grid at bits=3: the key must be a bijection onto 0..63 and
    // consecutive curve positions must be GRID NEIGHBORS (|dx|+|dy| = 1) —
    // the locality property itself, convention-free
    val grid = (for { x <- 0 until 8; y <- 0 until 8 } yield (x.toLong, y.toLong))
      .toDF("x", "y")
    val keyed = grid.withColumn("hkey", Layout.hilbertKey(col("x"), col("y"), 3))
      .collect().map(r => (r.getLong(2), (r.getLong(0), r.getLong(1)))).sortBy(_._1)
    assert(keyed.map(_._1).toSeq == (0L until 64L), "hilbert key must biject onto 0..4^bits")
    keyed.sliding(2).foreach { case Array((_, (x1, y1)), (d, (x2, y2))) =>
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1,
        s"curve positions ${d - 1},$d map to non-adjacent cells ($x1,$y1)/($x2,$y2)")
    }
    // the generated SQL chain (the oracle's arithmetic) is value-identical
    // when run by Spark itself
    grid.createOrReplaceTempView("hilbert_grid")
    val viaSql = spark.sql(
      s"""WITH ${Layout.hilbertSqlCtes("hilbert_grid", "x", "y", 3, keep = Seq("x", "y"))}
         |SELECT x, y, hkey FROM hfin""".stripMargin)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(keyed.forall { case (d, xy) => viaSql(xy) == d },
      "hilbertSqlCtes must reproduce the expression exactly")
  }

  test("linearTrend: daily fold, exact slope, signed, NULL on one active day") {
    import spark.implicits._
    val day = 86400000000L
    val ev = Seq(
      // key a: daily totals 10, 20, 30 → slope exactly +10/day
      ("a", 0L * day + 5L, 4L), ("a", 0L * day + 9L, 6L), // same day folds
      ("a", 1L * day + 1L, 20L), ("a", 2L * day + 1L, 30L),
      // key b: one active day → den = 0 → NULL slope
      ("b", 0L * day + 1L, 7L), ("b", 0L * day + 2L, 8L),
      // key c: 30 then 20 → slope exactly −10/day (sign·abs div, not floor)
      ("c", 0L * day + 1L, 30L), ("c", 1L * day + 1L, 20L)
    ).toDF("user_id", "ts_us", "value")
    val got = Temporal.linearTrend(ev).orderBy(col("user_id")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), if (r.isNullAt(5)) None else Some(r.getLong(5))))
    assert(got.toSeq == Seq(
      ("a", 3L, 0L, 2L, 60L, Some(10000000L)),
      ("b", 1L, 0L, 0L, 15L, None),
      ("c", 2L, 0L, 1L, 50L, Some(-10000000L))))
  }

  test("chiSquareAudit: missing cells contribute e; hand-computed chi2 exact") {
    import spark.implicits._
    // cells: (x,p)=4, (x,q)=MISSING, (y,p)=2, (y,q)=2 → e = 3,1,3,1 and
    // chi2 = 1/3 + 1 + 1/3 + 1 = 8/3; the (x,q) term exists ONLY via the
    // Σe = n fold — an observed-cells-only sum would report 5/3
    val rows = Seq.fill(4)(("x", "p")) ++ Seq.fill(2)(("y", "p")) ++
      Seq.fill(2)(("y", "q"))
    val r = Hygiene.chiSquareAudit(rows.toDF("a", "b"), "a", "b").head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) ==
      (8L, 2L, 2L, 3L, 2666666L))
    // perfect independence → chi2 exactly 0 (every dev = 0, floors align)
    val ind = Seq(("x", "p"), ("x", "q"), ("y", "p"), ("y", "q"))
    val r2 = Hygiene.chiSquareAudit(ind.toDF("a", "b"), "a", "b").head
    assert(r2.getLong(4) == 0L, s"independent table must score 0: ${r2.getLong(4)}")
    // int64-overflow fence: a perfectly dependent 2×2 table of 4000 rows
    // has dev = 4·10⁶ per cell, so 10⁶·dev² = 1.6·10¹⁹ > Long.MaxValue —
    // the bare-int64 form silently wraps; the DECIMAL(38,0) carrier must
    // deliver the exact chi² = n → chi2_ppm = 4000·10⁶.
    val dep = Seq.fill(2000)(("x", "p")) ++ Seq.fill(2000)(("y", "q"))
    val r3 = Hygiene.chiSquareAudit(dep.toDF("a", "b"), "a", "b").head
    assert(r3.getLong(4) == 4000000000L,
      s"dependent 4000-row table must score chi2_ppm = 4e9: ${r3.getLong(4)}")
  }

  test("effectiveSampleSize: equal weights give ESS = n; a dominating row collapses it") {
    import spark.implicits._
    val eq = Seq(("g", 5L), ("g", 5L), ("g", 5L), ("g", 5L)).toDF("k", "w")
    val re = Splits.effectiveSampleSize(eq, Seq("k"), "w").head
    // (Σw)²/Σw² = 400/100 = 4 exactly: ess_e3 = 4000, ratio = 10⁶
    assert((re.getLong(1), re.getLong(4), re.getLong(5)) == ((4L, 4000L, 1000000L)), re.toString)
    val dom = Seq(("g", 1000L), ("g", 1L), ("g", 1L), ("g", 1L)).toDF("k", "w")
    val rd = Splits.effectiveSampleSize(dom, Seq("k"), "w").head
    // 1003²/1000003 ≈ 1.006 — the nominal 4-row sample is ~1 real row
    assert(rd.getLong(4) == 1006L && rd.getLong(5) < 300000L, rd.toString)
    // all-zero weights: honest NULL, not div0
    val z = Seq(("g", 0L), ("g", 0L)).toDF("k", "w")
    val rz = Splits.effectiveSampleSize(z, Seq("k"), "w").head
    assert(rz.isNullAt(4) && rz.isNullAt(5), rz.toString)
  }

  test("reliabilityCurve: per-bin mean score vs positive rate; top edge clamps") {
    import spark.implicits._
    val df = Seq((950000L, 1L), (950000L, 1L), (150000L, 1L), (100000L, 0L),
      (1000000L, 1L)).toDF("s", "y")
    val r = Hygiene.reliabilityCurve(df, "s", "y", buckets = 10).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3),
        x.getLong(4)))).toMap
    // s = 10⁶ exactly lands in the TOP bin (least clamp), not bin 10
    assert(r.keySet == Set(1L, 9L), r.toString)
    assert(r(1L) == ((2L, 125000L, 500000L, 375000L)), r(1L).toString)
    assert(r(9L) == ((3L, 966666L, 1000000L, 33334L)), r(9L).toString)
  }

  test("psiDrift: hand-computed smoothed PSI; identical dumps read zero") {
    import spark.implicits._
    // A: x×3, y×1; B: x×1, y×3 — Laplace-smoothed shares 2/3 vs 1/3 each
    // way: per-category contrib = round((2/3−1/3)·round(ln 2, 6), 6)
    // = 0.231049, PSI = 0.462098
    val a = Seq("x", "x", "x", "y").toDF("c")
    val b = Seq("x", "y", "y", "y").toDF("c")
    val r = Hygiene.psiDrift(a, b, Seq("c")).head
    assert((r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      (("c", 4L, 4L, 2L)), r.toString)
    assert(r.getDouble(4) == 0.462098, r.toString)
    // identical dumps: every ln(1) = 0 → exactly 0.0 (no −0.0 leak)
    val same = Hygiene.psiDrift(a, a, Seq("c")).head
    assert(same.getDouble(4) == 0.0 &&
      !(1.0 / same.getDouble(4) < 0), same.toString)
    // a vanished category dominates PSI (the blow-up TVD flattens):
    // A all z, B all w → each side's share swings 3/4 vs 1/4
    val gone = Hygiene.psiDrift(
      Seq("z", "z").toDF("c"), Seq("w", "w").toDF("c"), Seq("c")).head
    assert(gone.getDouble(4) > 1.0, gone.toString)
  }

  test("dpSensitivityAudit: per-group user maxima, dominance share, sign-safe sums") {
    import spark.implicits._
    // group A: user 1 contributes 3 rows summing 60; user 2 one row of
    // -40 (|.|=40). L∞=3, L1=60, share = 60/(60+40) = 600000 ppm.
    // group B: one user only — share pins to 1000000 (the suppress read).
    val df = Seq(
      ("A", 1L, 10L), ("A", 1L, 20L), ("A", 1L, 30L), ("A", 2L, -40L),
      ("B", 9L, 5L), ("B", 9L, 7L)).toDF("g", "uid", "v")
    val r = Hygiene.dpSensitivityAudit(df, "uid", Seq("g"), "v").collect()
      .map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3),
        x.getLong(4), x.getLong(5)))).toMap
    assert(r == Map(
      "A" -> ((4L, 2L, 3L, 60L, 600000L)),
      "B" -> ((2L, 1L, 2L, 12L, 1000000L))), r.toString)
    // a user whose contributions cancel (sum 0) still counts rows but
    // adds nothing to L1 — and a group of only such users NULLs the share
    val z = Seq(("C", 1L, 5L), ("C", 1L, -5L)).toDF("g", "uid", "v")
    val rz = Hygiene.dpSensitivityAudit(z, "uid", Seq("g"), "v").head
    assert(rz.getLong(4) == 0L && rz.isNullAt(5), rz.toString)
  }

  test("sourceConcentration: exact ppm shares and HHI on a skewed corpus") {
    import spark.implicits._
    // 8/1/1 split: top1 = 0.8, top5 covers all, HHI = 0.8² + 2·0.1² = 0.66
    val docs = (Seq.fill(8)("a") ++ Seq("b", "c")).zipWithIndex
      .map { case (s, i) => (i.toLong, s) }.toDF("doc_id", "source")
    val r = Hygiene.sourceConcentration(docs).head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) ==
      (10L, 3L, 800000L, 1000000L, 660000L))
  }

  test("agreementKappa: chance-corrected, signed, NULL on constant verdicts") {
    import spark.implicits._
    def kappa(rows: Seq[(Boolean, Boolean)]) =
      Hygiene.agreementKappa(rows.toDF("a", "b"), "a", "b").head
    // mixed: n=10, both=4, onlyA=1, onlyB=2, neither=3 →
    // chance=50, num=20, den=50 → 0.4 exactly
    val m = kappa(Seq.fill(4)((true, true)) ++ Seq((true, false)) ++
      Seq.fill(2)((false, true)) ++ Seq.fill(3)((false, false)))
    assert((m.getLong(0), m.getLong(1), m.getLong(2), m.getLong(3),
      m.getLong(4), m.getLong(5)) == (10L, 4L, 1L, 2L, 3L, 400000L))
    // perfect disagreement → −1 (sign·abs div, not floor — must be exact)
    assert(kappa(Seq((true, false), (false, true))).getLong(5) == -1000000L)
    // perfect agreement with variation → +1
    assert(kappa(Seq((true, true), (false, false))).getLong(5) == 1000000L)
    // constant verdicts → kappa undefined → NULL, counts still real
    val c = kappa(Seq((true, true), (true, true)))
    assert(c.isNullAt(5) && c.getLong(1) == 2L)
  }

  test("tokenizerFertility: merge fold shrinks token count, integral ppm per group") {
    import spark.implicits._
    val docs = Seq(
      (1L, "x", "a b c"), // merge (a,b) fires → 2 tokens over 5 bytes
      (2L, "y", "a a")    // no pair matches → 2 tokens over 3 bytes
    ).toDF("doc_id", "lang", "text")
    val got = TextAnalysis.tokenizerFertility(docs, Seq(("a", "b")))
      .orderBy(col("lang")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq(
      ("x", 1L, 2L, 5L, 400000L),  // 10⁶·2 div 5
      ("y", 1L, 2L, 3L, 666666L))) // 10⁶·2 div 3 — floor, not round
  }

  test("plan pins: compactionPlan single sort, rrfFuse custom TopK + no nested loop") {
    import spark.implicits._
    // compactionPlan: the only sort is the per-prefix window's — a second
    // sort would mean the bin agg re-ordered what the window established
    val inv = (1 to 100).map(i => (s"p${i % 4}", i.toLong, 10L))
      .toDF("prefix", "key", "size")
    val cPlan = Layout.compactionPlan(inv, targetBytes = 100L)
      .queryExecution.executedPlan.toString
    assert("(?i)sort".r.findAllIn(cPlan).size <= 2, // Sort node + its order expr line
      s"compactionPlan must not sort beyond the window:\n$cPlan")
    assert(!cPlan.contains("BroadcastNestedLoopJoin"), cPlan)
    assert(!cPlan.contains("CartesianProduct"), cPlan)
    // rrfFuse: the final cut must run through the custom TopKPerKey
    // physical operator (bounded heaps), and the fusion lineage must be
    // join-free above the input lists — no per-query sort, no θ-join
    val lex = Seq((0L, 1L, 1L), (0L, 2L, 2L)).toDF("query_id", "doc_id", "rank")
    val sem = Seq((0L, 2L, 1L), (0L, 3L, 2L)).toDF("query_id", "doc_id", "rank")
    val rPlan = TextAnalysis.rrfFuse(Seq(lex, sem), k = 2)
      .queryExecution.executedPlan.toString
    assert(rPlan.contains("TopKPerKey"),
      s"rrfFuse must cut through the custom TopKPerKey operator:\n$rPlan")
    assert(!rPlan.contains("BroadcastNestedLoopJoin"), rPlan)
  }

  test("compactionPlan: key-contiguous bins, oversized file skips ids, prefixes isolated") {
    import spark.implicits._
    val inv = Seq(
      ("a", 1L, 4L), ("a", 2L, 4L), ("a", 3L, 4L), // bef 0,4,8 → bin 0
      ("a", 4L, 25L),                              // bef 12 → bin 1 (oversized)
      ("a", 5L, 3L),                               // bef 37 → bin 3 (bin 2 SKIPPED)
      ("b", 1L, 1L)                                // own prefix, own bin 0
    ).toDF("prefix", "key", "size")
    val got = Layout.compactionPlan(inv, targetBytes = 10L)
      .orderBy(col("prefix"), col("bin_id")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got.toSeq == Seq(
      ("a", 0L, 3L, 12L, 1L, 3L),
      ("a", 1L, 1L, 25L, 4L, 4L),
      ("a", 3L, 1L, 3L, 5L, 5L),
      ("b", 0L, 1L, 1L, 1L, 1L)))
  }

  test("rrfFuse: integer reciprocal fusion, cross-list agreement wins, top-k cut") {
    import spark.implicits._
    // lexical surfaces d1 > d2; semantic surfaces d2 > d3 — the doc both
    // lists agree on (d2) must fuse on top even though neither ranks it #1
    val lex = Seq((0L, 1L, 1L), (0L, 2L, 2L)).toDF("query_id", "doc_id", "rank")
    val sem = Seq((0L, 2L, 1L), (0L, 3L, 2L)).toDF("query_id", "doc_id", "rank")
    val got = TextAnalysis.rrfFuse(Seq(lex, sem), k = 2)
      .orderBy(col("rrf_ppb").desc, col("doc_id")).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    // 10⁹ div 61 = 16393442, 10⁹ div 62 = 16129032 — exact integer div
    assert(got.toSeq == Seq(
      (2L, 16393442L + 16129032L, 2L), // both lists
      (1L, 16393442L, 1L)))            // k = 2 cuts d3
    // single-list fusion degenerates to the list itself (rank order kept)
    val one = TextAnalysis.rrfFuse(Seq(lex), k = 5)
      .orderBy(col("rrf_ppb").desc).collect().map(_.getLong(1))
    assert(one.toSeq == Seq(1L, 2L))
  }

  test("effectiveRank: rank-1 scores 1.0, isotropic 2-dim scores 2.0, degenerate NULL") {
    import spark.implicits._
    def eff(rows: Seq[(Long, Seq[Double])]) =
      Similarity.effectiveRank(rows.toDF("vec_id", "embedding"), dims = 2,
        covDiv = 1000000000L).head
    // dim2 = −dim1: one direction carries everything → exactly 1.0
    val r1 = eff(Seq((1L, Seq(0.1, -0.1)), (2L, Seq(0.3, -0.3)), (3L, Seq(0.5, -0.5))))
    assert(r1.getLong(2) == 1000000L, s"rank-1 must score 1.0: $r1")
    // equal-variance orthogonal dims (zero cross-covariance) → exactly 2.0
    val r2 = eff(Seq((1L, Seq(0.1, 0.2)), (2L, Seq(0.3, 0.2)),
      (3L, Seq(0.1, 0.4)), (4L, Seq(0.3, 0.4))))
    assert(r2.getLong(2) == 2000000L, s"isotropic must score dims: $r2")
    // constant vectors → zero scaled covariance → NULL, never NaN
    val r3 = eff(Seq((1L, Seq(0.2, 0.2)), (2L, Seq(0.2, 0.2))))
    assert(r3.isNullAt(2))
  }

  test("pcaTop: dominant direction recovered, dead dim zero, degenerate NULL") {
    import spark.implicits._
    // dim2 = −dim1 (dominant direction (1,−1)/√2), dim3 constant (dead):
    // micro-units give var numerator 2.4e11, so covDiv = 1e9 scales the
    // integer covariance to ±240 — small, exact, hand-checkable
    val vecs = Seq(
      (1L, Seq(0.1, -0.1, 0.2)),
      (2L, Seq(0.3, -0.3, 0.2)),
      (3L, Seq(0.5, -0.5, 0.2))).toDF("vec_id", "embedding")
    val got = Similarity.pcaTop(vecs, dims = 3, covDiv = 1000000000L)
      .orderBy("i").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))
    // loadings ±floor(1e6/√2 + 0.5) = ±707107 (sign from the seed's first
    // mat-vec: comp1 < 0), dead dim exactly 0; rank-1 spectrum ⇒ the top
    // component carries ALL the variance: var_top_ppm = 1e6 exactly
    assert(got.toSeq == Seq(
      (1L, -707107L, Some(1000000L)),
      (2L, 707107L, Some(1000000L)),
      (3L, 0L, Some(1000000L))))
    // degenerate: identical vectors ⇒ zero covariance ⇒ zero loadings,
    // NULL variance share (never NaN)
    val const = Seq((1L, Seq(0.2, 0.2)), (2L, Seq(0.2, 0.2)))
      .toDF("vec_id", "embedding")
    val deg = Similarity.pcaTop(const, dims = 2, covDiv = 1L)
      .orderBy("i").collect()
    assert(deg.forall(r => r.getLong(1) == 0L && r.isNullAt(2)))
  }

  test("misra-gries: state never exceeds k; heavy items always survive") {
    // 10k-element stream: 'hot' at 6% and 'warm' at 1.5% among unique
    // filler, deterministically interleaved (no contiguous hot run)
    val elems = Seq.fill(600)("hot") ++ Seq.fill(150)("warm") ++
      (0 until 9250).map(i => s"u$i")
    val mixed = elems.zipWithIndex
      .sortBy { case (_, i) => (i * 2654435761L) % 9973 }.map(_._1)
    val k = 20
    val mg = TextAnalysis.misraGries(mixed.iterator, k)
    assert(mg.size <= k, s"MG must hold at most $k counters, had ${mg.size}")
    // 6% > 1/(k+1) = 4.76% ⇒ guaranteed retained; 1.5% < 1/(k+1) carries
    // no guarantee either way (that's what pass 2's exact recount is for)
    assert(mg.contains("hot"), s"guaranteed heavy item evicted: $mg")
    // counters never overcount: c(t) <= freq(t)
    assert(mg("hot") <= 600L)
    // degenerate streams
    assert(TextAnalysis.misraGries(Iterator.empty, 4).isEmpty)
    assert(TextAnalysis.misraGries(Iterator("x", "x", "x"), 1) ==
      Map("x" -> 3L))
  }

  test("MisraGriesAgg: bounded summary, superset guarantee, serde round-trip") {
    import spark.implicits._
    // 'hot' at 6% among unique filler, multiple partitions so partial
    // buffers genuinely merge via the mergeable-summaries combine
    val elems = Seq.fill(600)("hot") ++ (0 until 9400).map(i => s"u$i")
    val mixed = elems.zipWithIndex
      .sortBy { case (_, i) => (i * 2654435761L) % 9973 }.map(_._1)
    val df = mixed.toDF("token").repartition(8)
    val summary = df.agg(graft.functions.MisraGriesSketch(col("token"), 20).as("mg"))
      .select(explode(col("mg")).as("c"))
      .select(col("c.token"), col("c.count"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(summary.size <= 20, s"merged summary must stay <= k: ${summary.size}")
    assert(summary.contains("hot"), s"6% > 1/(k+1): $summary")
    assert(summary("hot") <= 600L, "counters never overcount")
    assert(summary("hot") >= 600L - 10000L / 21, "mergeable-summaries error bound")
    // serde round-trip (the partial-shuffle path)
    val agg = graft.functions.MisraGriesAgg(
      org.apache.spark.sql.graft.ColumnBridge.expression(col("token")), 4)
    val buf = scala.collection.mutable.HashMap("a" -> 3L, "ü" -> 1L, "" -> 2L)
    assert(agg.deserialize(agg.serialize(buf)) == buf)
    // merge shrink: combining two full buffers keeps <= k and offsets all
    val m = agg.merge(
      scala.collection.mutable.HashMap("a" -> 5L, "b" -> 4L, "c" -> 3L, "d" -> 2L),
      scala.collection.mutable.HashMap("e" -> 5L, "f" -> 1L, "g" -> 1L, "h" -> 1L))
    assert(m.size <= 4, m.toString)
    assert(m("a") == 3L && m("e") == 3L && !m.contains("d"), m.toString)
  }

  test("heavyHitters equals the brute-force threshold count, any partitioning") {
    import spark.implicits._
    // 'common' in every doc (heavy), 'spark' in a third of docs (heavy at
    // s=25 ⇔ 4%), filler mostly unique — the unique-heavy keyspace the
    // operator exists for
    val docs = (0 until 400).map { i =>
      val hot = if (i % 3 == 0) " spark spark" else ""
      (i.toLong, s"common w$i w${i * 7 % 997} w${i * 13 % 991}$hot")
    }.toDF("doc_id", "text")
    val tok = docs.select(explode(split(lower(col("text")), " ")).as("token"))
    val n = tok.count()
    val exact = tok.groupBy("token").count().collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .filter { case (_, c) => c * 25 >= n }
      .map { case (t, c) => (t, c, c * 1000000L / n) }
      .sortBy { case (t, c, _) => (-c, t) }.toSeq
    assert(exact.map(_._1).contains("spark"), "fixture must plant a mid-band hitter")
    // the MG candidate pass runs per-partition, so the output must be
    // invariant to how the token stream is split (superset + exact recount)
    for (parts <- Seq(1, 7)) {
      val out = TextAnalysis.heavyHitters(docs.repartition(parts), s = 25)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      assert(out == exact, s"parts=$parts: $out vs $exact")
    }
  }

  // ------------------------------------------------ durable twin restarts
  //
  // One restart simulation per stateful twin: merge a prefix of batches
  // into a durable store, rebuild a FRESH store from the snapshot dir (the
  // driver-restart path — the checkpoint already marks those batches
  // delivered, so a cold store would silently serve reset state), assert
  // the restored state equals the pre-restart state, that checkpoint
  // re-delivery drops on the restored guard, and that the continued fold
  // equals the uninterrupted batch operator over everything delivered.

  test("trend stream: a rebuilt durable store restores the folded dailies") {
    import spark.implicits._
    import graft.streaming.TrendStream
    val day = 86400L * 1000000L
    val dir = Files.createTempDirectory("trenddur").toString
    val b0 = Seq((1L, 0L * day, 10.0), (1L, 1L * day, 20.0), (2L, 0L * day, 5.0))
    val b1 = Seq((1L, 2L * day, 30.0), (2L, 1L * day, 15.0))
    val b2 = Seq((1L, 3L * day, 40.0), (2L, 2L * day, 25.0))
    def df(s: Seq[(Long, Long, Double)]) = s.toDF("user_id", "ts_us", "value")
    val store = new TrendStream.TrendStore(spark, durable = Some(dir))
    store.merge(df(b0), 0L); store.merge(df(b1), 1L)
    val mid = store.current.collect().map(_.toSeq).toSet
    val store2 = TrendStream.TrendStore.restore(spark, dir)
    assert(store2.current.collect().map(_.toSeq).toSet == mid,
      "restored trend must equal the pre-restart state")
    assert(!store2.merge(df(b1), 1L), "replay must drop on the restored guard")
    store2.merge(df(b2), 2L)
    val expect = Temporal.linearTrend(df(b0 ++ b1 ++ b2))
      .collect().map(_.toSeq).toSet
    assert(store2.current.collect().map(_.toSeq).toSet == expect,
      "post-restart merge must continue the uninterrupted fold")
    Dedup.uncacheAll()
  }

  test("drift stream: a rebuilt durable store restores the folded counts", SlowTest) {
    import spark.implicits._
    import graft.streaming.DriftStream
    val dir = Files.createTempDirectory("driftdur").toString
    val ref = Seq(("a", "x"), ("b", "y"), ("a", "y")).toDF("cat", "grp")
    val b0 = Seq(("a", "x"), ("a", "x"), ("b", "z"))
    val b1 = Seq(("b", "y"), ("c", "x"))
    val b2 = Seq(("a", "z"), ("c", "y"))
    def df(s: Seq[(String, String)]) = s.toDF("cat", "grp")
    def key(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.toSeq).toSet
    val store = new DriftStream.DriftStore(spark, Seq("cat", "grp"), ref,
      durable = Some(dir))
    store.merge(df(b0), 0L); store.merge(df(b1), 1L)
    val mid = key(store.current)
    val store2 = DriftStream.DriftStore.restore(spark, dir, Seq("cat", "grp"), ref)
    assert(key(store2.current) == mid,
      "restored drift must equal the pre-restart state")
    assert(!store2.merge(df(b1), 1L), "replay must drop on the restored guard")
    store2.merge(df(b2), 2L)
    val expect = key(Hygiene.driftReport(ref, df(b0 ++ b1 ++ b2), Seq("cat", "grp")))
    assert(key(store2.current) == expect,
      "post-restart merge must continue the uninterrupted fold")
    val expectPsi = key(Hygiene.psiDrift(ref, df(b0 ++ b1 ++ b2), Seq("cat", "grp")))
    assert(key(store2.currentPsi) == expectPsi)
    Dedup.uncacheAll()
  }

  test("bootstrap stream: a rebuilt durable store restores partials AND totals", SlowTest) {
    import spark.implicits._
    import graft.streaming.BootstrapStream
    val dir = Files.createTempDirectory("bootdur").toString
    val all = (1L to 120L).map(i => (i, (i % 37) * 400L))
    val (b0, rest) = all.splitAt(40)
    val (b1, b2) = rest.splitAt(40)
    def df(s: Seq[(Long, Long)]) = s.toDF("id", "x")
    val store = new BootstrapStream.BootstrapStore(spark, "id", "x", b = 16,
      durable = Some(dir))
    store.merge(df(b0), 0L); store.merge(df(b1), 1L)
    val mid = store.current.collect().head.toSeq
    val store2 = BootstrapStream.BootstrapStore.restore(spark, dir, "id", "x", b = 16)
    assert(store2.current.collect().head.toSeq == mid,
      "restored CI must equal the pre-restart state")
    assert(!store2.merge(df(b1), 1L), "replay must drop on the restored guard")
    store2.merge(df(b2), 2L)
    val expect = Splits.bootstrapCiMean(df(all), "id", "x", b = 16)
      .collect().head.toSeq
    assert(store2.current.collect().head.toSeq == expect,
      "post-restart merge must continue the uninterrupted fold")
    Dedup.uncacheAll()
  }

  test("transitions stream: a rebuilt durable store restores counts AND the boundary row", SlowTest) {
    import spark.implicits._
    import graft.streaming.TransitionsStream
    val dir = Files.createTempDirectory("transdur").toString
    val rnd = new scala.util.Random(11)
    val types = Array("view", "click", "buy")
    val all = (1L to 5L).flatMap { k =>
      (0 until 9).map(i => (k, types(rnd.nextInt(3)), 100L * (i + 1), k * 1000 + i))
    }.sortBy(e => (e._3, e._4))
    val chunks = all.grouped(15).toSeq
    def df(s: Seq[(Long, String, Long, Long)]) =
      s.toDF("user_id", "event_type", "ts_us", "event_id")
    def key(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    val store = new TransitionsStream.TransitionStore(spark, "user_id",
      "event_type", "ts_us", "event_id", durable = Some(dir))
    store.merge(df(chunks(0)), 0L); store.merge(df(chunks(1)), 1L)
    val mid = key(store.current)
    val store2 = TransitionsStream.TransitionStore.restore(spark, dir,
      "user_id", "event_type", "ts_us", "event_id")
    assert(key(store2.current) == mid,
      "restored transitions must equal the pre-restart state")
    assert(!store2.merge(df(chunks(1)), 1L), "replay must drop on the restored guard")
    store2.merge(df(chunks(2)), 2L)
    // the boundary last-event row restored too: counts equal the batch
    // operator over the WHOLE ordered stream, straddling the restart
    val expect = key(Temporal.eventTransitions(df(all)))
    assert(key(store2.current) == expect,
      "post-restart merge must recover the restart-straddling pairs")
    // snapshotEvery cadence: batch 0 snapshots, 1-2 land as multi-table
    // DELTAS (count increments + per-key argmax) — a restore must fold
    // snapshot + deltas to the same state, and the guard must hold at
    // the newest DELTA id, not the snapshot id
    val dir3 = Files.createTempDirectory("transdur3").toString
    val store3 = new TransitionsStream.TransitionStore(spark, "user_id",
      "event_type", "ts_us", "event_id", durable = Some(dir3),
      snapshotEvery = 3)
    store3.merge(df(chunks(0)), 0L)
    store3.merge(df(chunks(1)), 1L)
    store3.merge(df(chunks(2)), 2L)
    val store4 = TransitionsStream.TransitionStore.restore(spark, dir3,
      "user_id", "event_type", "ts_us", "event_id", snapshotEvery = 3)
    assert(key(store4.current) == expect,
      "snapshot+delta restore must equal the fully-folded state")
    assert(!store4.merge(df(chunks(2)), 2L),
      "replay of a delta-logged batch must drop on the restored guard")
    Dedup.uncacheAll()
  }

  test("ewma stream: a rebuilt durable store restores the tail and the scored log", SlowTest) {
    import spark.implicits._
    import graft.streaming.EwmaStream
    val dir = Files.createTempDirectory("ewmadur").toString
    val rnd = new scala.util.Random(23)
    val all = (1L to 4L).flatMap { k =>
      (0 until 12).map(i => (k, 1000L * (i + 1), k * 100 + i,
        rnd.nextDouble() * 100))
    }.sortBy(e => (e._2, e._3))
    val chunks = all.grouped(16).toSeq
    def df(s: Seq[(Long, Long, Long, Double)]) =
      s.toDF("user_id", "ts_us", "event_id", "value")
    def key(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) ->
        ((r.getLong(3), r.getLong(4)))).toMap
    val store = new EwmaStream.SmoothStore(spark, "user_id", "ts_us",
      "event_id", "value", durable = Some(dir))
    store.merge(df(chunks(0)), 0L); store.merge(df(chunks(1)), 1L)
    val mid = key(store.scored)
    val store2 = EwmaStream.SmoothStore.restore(spark, dir, "user_id",
      "ts_us", "event_id", "value")
    assert(key(store2.scored) == mid,
      "restored scored log must equal the pre-restart state")
    assert(!store2.merge(df(chunks(1)), 1L), "replay must drop on the restored guard")
    store2.merge(df(chunks(2)), 2L)
    // the restored TAIL carries the span window across the restart: the
    // continued scores equal the batch fold over the whole stream
    val expect = key(Temporal.ewmaSmooth(df(all)))
    assert(key(store2.scored) == expect,
      "post-restart scores must continue the span window across the restart")
    Dedup.uncacheAll()
  }

  test("cdc stream: a rebuilt durable store restores the compacted table") {
    import spark.implicits._
    import graft.streaming.CdcStream
    val dir = Files.createTempDirectory("cdcdur").toString
    val keys = Seq("user_id", "event_type")
    val order = Seq("ts_us", "event_id")
    val payload = Seq("value")
    val b0 = Seq((1L, "a", 100L, 7L, 1.0), (2L, "a", 50L, 1L, 4.0))
    val b1 = Seq((1L, "a", 90L, 9L, 9.0), (2L, "b", 60L, 2L, 5.0))
    val b2 = Seq((1L, "a", 200L, 3L, 2.0))
    def df(s: Seq[(Long, String, Long, Long, Double)]) =
      s.toDF("user_id", "event_type", "ts_us", "event_id", "value")
    def emptyInit = CdcStream.compact(
      df(Seq.empty[(Long, String, Long, Long, Double)]), keys, order, payload)
    def flat(d: org.apache.spark.sql.DataFrame) = d
      .select(col("user_id"), col("event_type"), col("last.ts_us"),
        col("last.event_id"), col("last.value"))
      .collect().map(_.toSeq).toSet
    val store = new CdcStream.CompactStore(spark, keys, emptyInit,
      durable = Some(dir))
    store.merge(CdcStream.compact(df(b0), keys, order, payload), 0L)
    store.merge(CdcStream.compact(df(b1), keys, order, payload), 1L)
    val mid = flat(store.current)
    val store2 = CdcStream.CompactStore.restore(spark, dir, keys, emptyInit)
    assert(flat(store2.current) == mid,
      "restored compaction must equal the pre-restart state")
    // replay after restart: idempotent by the max algebra, no guard needed
    store2.merge(CdcStream.compact(df(b1), keys, order, payload), 1L)
    assert(flat(store2.current) == mid)
    store2.merge(CdcStream.compact(df(b2), keys, order, payload), 2L)
    val expect = flat(CdcStream.compact(df(b0 ++ b1 ++ b2), keys, order, payload))
    assert(flat(store2.current) == expect,
      "post-restart merge must continue the compaction")
    Dedup.uncacheAll()
  }

  test("contamination stream: a rebuilt durable store restores the pair log") {
    import spark.implicits._
    import graft.streaming.ContaminationStream
    val dir = Files.createTempDirectory("decontdur").toString
    val evalDocs = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"),
      (200L, "pack my box with five dozen liquor jugs")).toDF("doc_id", "text")
    val b0 = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "completely unrelated text about distributed engines and planning"))
    val b1 = Seq(
      (3L, "nothing shared with any held out document at all"))
    val b2 = Seq(
      (4L, "pack my box with five dozen liquor jugs"))
    def df(s: Seq[(Long, String)]) = s.toDF("doc_id", "text")
    def pairs(st: ContaminationStream.PairStore) = st.current.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val store = new ContaminationStream.PairStore(spark,
      ContaminationStream.emptyPairs(spark), durable = Some(dir))
    ContaminationStream.sink(store, evalDocs)(df(b0), 0L)
    ContaminationStream.sink(store, evalDocs)(df(b1), 1L) // empty delta —
    // the durable guard must still advance past it
    val mid = pairs(store)
    val store2 = ContaminationStream.PairStore.restore(spark, dir)
    assert(pairs(store2) == mid,
      "restored pairs must equal the pre-restart state")
    assert(!store2.add(1L, df(Seq.empty[(Long, String)])
        .select(col("doc_id").as("train_id"), col("doc_id").as("eval_id"),
          col("doc_id").cast("double").as("jaccard"))),
      "replay must drop on the restored guard (incl. the empty batch)")
    ContaminationStream.sink(store2, evalDocs)(df(b2), 2L)
    val expect = Dedup.crossJaccardPairs(df(b0 ++ b1 ++ b2), evalDocs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pairs(store2) == expect,
      "post-restart merge must continue the accumulated pair log")
    Dedup.uncacheAll()
  }

  test("ann serve stream: a rebuilt durable store restores the answer log", SlowTest) {
    import spark.implicits._
    import graft.streaming.AnnServeStream
    val dir = Files.createTempDirectory("anndur").toString
    val index = AnnServeStream.buildIndex(emb, kCentroids = 4, iters = 2,
      k = 3, nprobe = 2)
    def queriesBelow(lo: Long, hi: Long) = emb
      .filter(col("vec_id") >= lo && col("vec_id") < hi)
      .select(col("vec_id"), col("embedding"))
    def answers(st: AnnServeStream.AnswerStore) = st.current.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val store = new AnnServeStream.AnswerStore(spark,
      AnnServeStream.emptyAnswers(spark), durable = Some(dir))
    store.serve(0L, index, queriesBelow(0, 4))
    store.serve(1L, index, queriesBelow(4, 7))
    val mid = answers(store)
    val store2 = AnnServeStream.AnswerStore.restore(spark, dir)
    assert(answers(store2) == mid,
      "restored answers must equal the pre-restart state")
    assert(!store2.serve(1L, index, queriesBelow(4, 7)),
      "replay must drop on the restored guard")
    store2.serve(2L, index, queriesBelow(7, 10))
    val expect = Similarity.ivfTopK(emb, queriesBelow(0, 10),
        index.centroids, k = 3, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(answers(store2) == expect,
      "post-restart serving must continue the answer log")
    // compaction cadence: with compactEvery=2 the delta log must fold
    // into a full snapshot and prune instead of growing forever, and a
    // restore must read snapshot ∪ later deltas to the same answers
    val dirC = Files.createTempDirectory("anndurC").toString
    val storeC = new AnnServeStream.AnswerStore(spark,
      AnnServeStream.emptyAnswers(spark), durable = Some(dirC),
      compactEvery = 2)
    storeC.serve(0L, index, queriesBelow(0, 4))
    storeC.serve(1L, index, queriesBelow(4, 7))  // cadence: snapshot + prune
    storeC.serve(2L, index, queriesBelow(7, 10)) // delta after it
    storeC.serve(3L, index, queriesBelow(0, 0))  // idle cadence: snapshot
    val live = graft.streaming.SnapshotStore.deltaIds(spark, dirC).map(_._1)
    assert(live.isEmpty,
      s"compaction must prune superseded deltas, saw $live")
    assert(graft.streaming.SnapshotStore.newest(spark, dirC)
      .map(_._1).contains(3L),
      "the idle cadence must have folded the log into the batch-3 snapshot")
    val storeC2 = AnnServeStream.AnswerStore.restore(spark, dirC,
      compactEvery = 2)
    assert(answers(storeC2) == expect,
      "snapshot+delta restore must reproduce the answer log")
    assert(!storeC2.serve(3L, index, queriesBelow(0, 0)),
      "replay must drop on the guard restored past the snapshot")
    Dedup.uncacheAll()
  }

  test("phash stream: a rebuilt durable store restores the registry via delta log + compaction") {
    import spark.implicits._
    import graft.streaming.PhashStream
    import graft.operators.Multimodal
    val dir = Files.createTempDirectory("phashdur").toString
    def hashed(ids: Seq[Long]) = Multimodal.imageAHash(
      Multimodal.synthesizeGradientPayloads(ids.toDF("doc_id")))
    def reg(st: PhashStream.HashGroupStore) = st.current.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // compactEvery=2 so the run exercises BOTH restore sources: a full
    // snapshot (written at batch 1, deltas 0..1 pruned) plus the delta
    // written after it (batch 2 lands as a delta only)
    val store = new PhashStream.HashGroupStore(spark,
      PhashStream.emptyGroups(spark), durable = Some(dir), compactEvery = 2)
    store.merge(0L, hashed(0L until 6L))
    store.merge(1L, hashed(6L until 12L))
    store.merge(2L, hashed(12L until 18L))
    val mid = reg(store)
    assert(graft.streaming.SnapshotStore
      .deltaIds(spark, s"$dir/deltas").map(_._1) == Seq(2L),
      "compaction must prune the deltas the full snapshot covers")
    val store2 = PhashStream.HashGroupStore.restore(spark, dir, compactEvery = 2)
    assert(reg(store2) == mid,
      "restored registry must equal the pre-restart state (full ∪ deltas)")
    assert(!store2.merge(2L, hashed(12L until 18L)),
      "replay must drop on the restored guard")
    store2.merge(3L, hashed(18L until 24L))
    val ref = new PhashStream.HashGroupStore(spark, PhashStream.emptyGroups(spark))
    ref.merge(0L, hashed(0L until 24L))
    assert(reg(store2) == reg(ref),
      "post-restart merge must continue the uninterrupted registry")
    // IDLE compaction: empty batches still write their guard deltas, and
    // the cadence fires even with no non-empty batch — the delta log must
    // not grow unboundedly on a quiet stream
    val empty = hashed(Seq.empty[Long])
    store2.merge(4L, empty)
    store2.merge(5L, empty) // >= lastCompact(3?) — cadence reached
    store2.merge(6L, empty)
    store2.merge(7L, empty)
    val liveDeltas = graft.streaming.SnapshotStore
      .deltaIds(spark, s"$dir/deltas").map(_._1)
    assert(liveDeltas.size <= 2,
      s"idle stream must keep compacting its delta log, saw $liveDeltas")
    assert(reg(PhashStream.HashGroupStore.restore(spark, dir,
        compactEvery = 2)) == reg(ref),
      "idle-compacted restore must preserve the registry")
    Dedup.uncacheAll()
  }

  test("sample stream: a rebuilt durable store restores the running sample") {
    import spark.implicits._
    import graft.streaming.SampleStream
    val dir = Files.createTempDirectory("sampledur").toString
    val k = 3
    def df(s: Seq[(String, Long)]) = s.toDF("lang", "doc_id")
    def sample(st: SampleStream.SampleStore) = st.current.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    val b0 = Seq.tabulate(20)(i => ("en", i.toLong)) ++ Seq(("de", 100L))
    val b1 = Seq.tabulate(20)(i => ("en", (50 + i).toLong)) ++ Seq(("de", 101L))
    val b2 = Seq.tabulate(10)(i => ("en", (90 + i).toLong)) ++ Seq(("fr", 200L))
    val store = new SampleStream.SampleStore(spark,
      SampleStream.emptySample(spark, "lang", "doc_id"), "lang", "doc_id", k,
      durable = Some(dir))
    store.merge(0L, df(b0)); store.merge(1L, df(b1))
    val mid = sample(store)
    val store2 = SampleStream.SampleStore.restore(spark, dir, "lang", "doc_id", k)
    assert(sample(store2) == mid,
      "restored sample must equal the pre-restart state")
    assert(!store2.merge(1L, df(b1)), "replay must drop on the restored guard")
    store2.merge(2L, df(b2))
    val expect = Splits.samplePerStratum(df(b0 ++ b1 ++ b2), "doc_id", "lang", k)
      .select("lang", "doc_id", "sample_key").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(sample(store2) == expect,
      "post-restart merge must continue the running sample")
    Dedup.uncacheAll()
  }

  test("a failed durable write releases the new state and keeps state and guard") {
    import spark.implicits._
    import graft.streaming.CusumStream
    val root = Files.createTempDirectory("cusumfail")
    // the snapshot dir sits under a regular file, so every write throws
    val blocker = Files.createFile(root.resolve("blocker"))
    val store = new CusumStream.CusumStore(spark, Some(s"$blocker/cusum"))
    val batch = Seq((1L, 5L), (2L, 7L), (1L, 1L)).toDF("bucket", "v")
    val persisted = spark.sparkContext.getPersistentRDDs.size
    val held = store.sums
    intercept[Exception](CusumStream.sink(store)(batch, 0L))
    assert(spark.sparkContext.getPersistentRDDs.size == persisted,
      "the failed batch's merged frame must be unpersisted")
    assert(store.sums eq held, "a failed write must keep the served state")
    // a redelivery into a writable directory applies the batch exactly once
    Files.delete(blocker)
    assert(store.merge(batch, 0L), "the failed batch must not have advanced the guard")
    assert(!store.merge(batch, 0L))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows(store.sums) == Set((1L, 6L), (2L, 7L)))
    assert(rows(CusumStream.CusumStore.restore(spark, s"$blocker/cusum").sums) ==
      Set((1L, 6L), (2L, 7L)))
  }

  test("phash stream: a failed compaction write leaves the batch unapplied, so its redelivery counts once") {
    import spark.implicits._
    import graft.streaming.PhashStream
    import graft.operators.Multimodal
    val dir = Files.createTempDirectory("phashfail")
    def hashed(ids: Seq[Long]) = Multimodal.imageAHash(
      Multimodal.synthesizeGradientPayloads(ids.toDF("doc_id")))
    def reg(st: PhashStream.HashGroupStore) = st.current.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val store = new PhashStream.HashGroupStore(spark,
      PhashStream.emptyGroups(spark), durable = Some(dir.toString), compactEvery = 1)
    val full = Files.createFile(dir.resolve("full"))
    intercept[Exception](PhashStream.sink(store)(
      Multimodal.synthesizeGradientPayloads((0L until 8L).toDF("doc_id")), 0L))
    Files.delete(full)
    PhashStream.sink(store)(
      Multimodal.synthesizeGradientPayloads((0L until 8L).toDF("doc_id")), 0L)
    val once = new PhashStream.HashGroupStore(spark, PhashStream.emptyGroups(spark))
    once.merge(0L, hashed(0L until 8L))
    assert(reg(once).nonEmpty)
    assert(reg(store) == reg(once),
      "n_dups must equal a single application of batch 0")
    assert(reg(PhashStream.HashGroupStore.restore(spark, dir.toString,
      compactEvery = 1)) == reg(once))
  }

  test("artifact cache evicts coldest under a byte budget and re-derives on miss") {
    import graft.operators.Dedup
    // dedup_best_rep consumes TWO memoized artifacts (the LSH pair set
    // and its components fixpoint), so a 1-byte budget forces every
    // insert to evict its predecessor — the row must then re-derive
    // evicted artifacts on miss and return the identical result, while
    // the residency line records the evictions (r15 verdict task #1).
    def rows() = SparkEntry.queries("dedup_best_rep")(spark, sf).collect()
      .map(_.toString).toSet
    SparkEntry.invalidateArtifactCaches()
    val baseline = rows()
    Dedup.uncacheAll()
    SparkEntry.invalidateArtifactCaches()
    val savedBudget = SparkEntry.artifactBudgetBytes
    val evictionsBefore = SparkEntry.artifactResidency()._3
    SparkEntry.artifactBudgetBytes = 1L
    try {
      assert(rows() == baseline,
        "budget-forced eviction changed a consumer's result")
      val (frames, bytes, evictions) = SparkEntry.artifactResidency()
      assert(frames <= 1,
        s"1-byte budget must keep at most the just-inserted frame, got $frames")
      assert(evictions > evictionsBefore, "no eviction recorded under pressure")
      assert(bytes >= 0L)
    } finally {
      SparkEntry.artifactBudgetBytes = savedBudget
      SparkEntry.invalidateArtifactCaches()
      Dedup.uncacheAll()
    }
  }

  test("forced distributed graph loops keep exchange-bearing plans (cutover rot guard)") {
    // The small-graph driver replicas now execute on every fixture-sized
    // graph, so the DISTRIBUTED loops are only exercised by forced-path
    // tests. PropertySpec pins their VALUES; this pins their SHAPE: under
    // localMaxEdges = 0 each family's output plan must still carry an
    // Exchange (the edge-keyed shuffle of the real iteration) and must
    // NOT be the replica's LocalTableScan — so an edit that reroutes a
    // forced path through a replica (or a driver collect) fails loudly
    // here even if its numbers happen to agree.
    import graft.operators.{Dedup, Graph}
    // spark.range, NOT Seq.toDF: a local-Seq fixture would itself plan as
    // a LocalTableScan and trip the replica check below
    val edges = spark.range(200)
      .select(col("id").as("a"), ((col("id") * 7L + 1L) % 200L).as("b"))
    val saved = Dedup.localMaxEdges
    Dedup.localMaxEdges = 0L
    try {
      def pin(name: String, df: org.apache.spark.sql.DataFrame,
          needExchange: Boolean = true): Unit = {
        val plan = df.queryExecution.executedPlan.toString
        assert(!plan.contains("LocalTableScan"),
          s"$name: forced-distributed plan degenerated to a local replica:\n$plan")
        if (needExchange) assert(plan.contains("Exchange"),
          s"$name: forced-distributed plan lost its shuffle:\n$plan")
      }
      pin("pageRank", Graph.pageRank(edges, iters = 2))
      pin("personalizedPageRank",
        Graph.personalizedPageRank(edges, seed = 0L, iters = 2))
      pin("hits", Graph.hits(edges, iters = 2))
      pin("kCore", Graph.kCore(edges, k = 2, rounds = 2))
      // components' distributed output is a lineage-cut ExistingRDD scan
      // (the loop's exchanges already executed) — the LocalTableScan
      // check alone distinguishes it from the union-find replica
      pin("components",
        Dedup.components(edges.toDF("doc_a", "doc_b")), needExchange = false)
    } finally { Dedup.localMaxEdges = saved }
    Dedup.uncacheAll()
  }
}
