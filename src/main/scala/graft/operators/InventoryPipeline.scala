package graft.operators

import java.time.Instant
import java.util.concurrent.{ExecutionException, Executors}
import java.util.concurrent.atomic.AtomicLong

import scala.concurrent.duration.FiniteDuration
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.parquet.schema.Type
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.{Inventory, Manifest, ManifestFile}

/** The reference's whole refresh pipeline as one composition
  * (/root/reference/handler.go:77-92): resolve the dated manifest key
  * (01:00-UTC pin + previous-day fallback), parse the manifest, scan its
  * file list as ONE multi-path parquet read (the §2.4 accumulate-not-
  * overwrite fix), aggregate, serve.
  *
  * The scan reads `key STRING, size BIGINT` with a declared schema, so no
  * schema-inference job runs first; instead the driver reads the parquet
  * footer of every listed file, several at a time, and fails if any lacks
  * a binary `key` or an int64 `size`. A serving handler resolves the
  * manifest on every refresh but builds the scan only when the file list
  * differs from the one it serves (see [[servingHandler]]), and remembers
  * the manifest entries whose footers passed, so a scan over files it has
  * already checked reads no footer. The handler's fold
  * ([[DiskUsageHandler]]) then merges per-task partials up a
  * `treeAggregate` tree into the driver's map of all addresses.
  *
  * I/O is injected: `fetch` returns the manifest JSON for a key (None =
  * not found, mapping the reference's ErrNotFound probe,
  * handler.go:146-164); `dataRoot` prefixes manifest file keys into
  * concrete paths (`file:/…` fixtures and `s3a://bucket` production run
  * the identical code — SURVEY.md §7.4's injectability requirement).
  */
object InventoryPipeline {

  /** Manifest + `(key, size)` inventory DataFrame for `now`'s day, or
    * yesterday's on fallback; None when neither day has a manifest. Throws
    * when any listed file lacks either column.
    */
  def inventoryForDay(
      spark: SparkSession,
      dataRoot: String,
      prefix: String,
      now: Instant,
      fetch: String => Option[String]): Option[(Inventory, DataFrame)] =
    manifestForDay(prefix, now, fetch).map(inv => inv -> scan(spark, dataRoot, inv, new CheckedFiles))

  /** The manifest for `now`'s day, or yesterday's on fallback. */
  private def manifestForDay(
      prefix: String,
      now: Instant,
      fetch: String => Option[String]): Option[Inventory] =
    Manifest
      .resolveWithFallback(now)(ts => fetch(Manifest.manifestKey(prefix, ts)))
      .map(Manifest.parseInventory)
      .map { inv => require(inv.files.nonEmpty, "manifest lists no inventory files"); inv }

  /** The inventory scan of `inv`'s files, after their footer check. */
  private def scan(spark: SparkSession, dataRoot: String, inv: Inventory, checked: CheckedFiles): DataFrame = {
    requireColumns(spark, inv.files.zip(inv.dataPaths(dataRoot)), checked)
    spark.read.schema(schema).parquet(inv.dataPaths(dataRoot): _*)
  }

  /** The two inventory columns the pipeline reads (handler.go:205-221). */
  private val schema = "key STRING, size BIGINT"

  /** Footers read so far, for tests that pin when they are read. */
  private[graft] val footerReads = new AtomicLong()

  /** Manifest entries whose footers passed, least recently listed evicted
    * first once there are `MaxChecked`.
    */
  private final class CheckedFiles {
    private val seen = new java.util.LinkedHashMap[ManifestFile, java.lang.Boolean](64, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[ManifestFile, java.lang.Boolean]): Boolean =
        size > MaxChecked
    }
    def contains(f: ManifestFile): Boolean = synchronized(seen.get(f) != null)
    def add(f: ManifestFile): Unit = synchronized(seen.put(f, true)): Unit
  }
  private val MaxChecked = 1 << 16

  /** Footers read at once: they are small reads, mostly waiting on storage. */
  private val FooterReaders = 8

  /** Fail unless every listed file not yet in `checked` has a binary `key`
    * and an int64 `size` in its footer; the files that pass join `checked`.
    */
  private def requireColumns(
      spark: SparkSession,
      files: Seq[(ManifestFile, String)],
      checked: CheckedFiles): Unit = {
    val todo = files.distinct.filterNot(f => checked.contains(f._1))
    if (todo.nonEmpty) {
      val conf = spark.sparkContext.hadoopConfiguration
      val pool = Executors.newFixedThreadPool(math.min(todo.size, FooterReaders), (r: Runnable) => {
        val t = new Thread(r, "inventory-footer"); t.setDaemon(true); t
      })
      try {
        val reads = todo.map { case (f, path) => f -> pool.submit[Unit](() => requireColumns(conf, path)) }
        val failures = reads.flatMap { case (f, read) =>
          try { read.get(); checked.add(f); None }
          catch { case e: ExecutionException => Some(e.getCause) }
        }
        failures.headOption.foreach(e => throw e)
      } finally pool.shutdownNow(): Unit
    }
  }

  /** Fail unless the footer of `path` (a file, or each data file of a
    * directory of part files) has a binary `key` and an int64 `size`.
    * Names match case-insensitively, as Spark resolves them.
    */
  private def requireColumns(conf: Configuration, path: String): Unit = {
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val status = fs.getFileStatus(root)
    val files =
      if (!status.isDirectory) Seq(status)
      else fs.listStatus(root).toSeq.filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
          !s.getPath.getName.startsWith("."))
    if (files.isEmpty) sys.error(s"no data files under $path")
    files.foreach { file =>
      footerReads.incrementAndGet()
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf))
      val fields =
        try reader.getFooter.getFileMetaData.getSchema.getFields.asScala.toSeq
        finally reader.close()
      def need(name: String, t: PrimitiveTypeName): Unit =
        if (!fields.exists(f => f.getName.equalsIgnoreCase(name) && f.isPrimitive &&
            !f.isRepetition(Type.Repetition.REPEATED) &&
            f.asPrimitiveType.getPrimitiveTypeName == t))
          sys.error(s"inventory file ${file.getPath} has no $t column '$name'")
      need("key", PrimitiveTypeName.BINARY)
      need("size", PrimitiveTypeName.INT64)
    }
  }

  /** Serving handler over the manifest-driven pipeline: every refresh
    * re-resolves the manifest for the current day, with the previous-day
    * fallback — the cron job of handler.go:56-66 end to end. A refresh
    * whose resolved manifest lists the same files (key, size and MD5, in
    * order) as the snapshot being served keeps that snapshot: it reads no
    * footer, lists no file and runs no Spark job. Any other list is
    * footer-checked, scanned and folded. Throws at construction if no
    * manifest exists for today or yesterday (matching the reference's
    * fatal first run); later refresh failures keep the previous snapshot.
    */
  def servingHandler(
      spark: SparkSession,
      dataRoot: String,
      prefix: String,
      clock: () => Instant,
      fetch: String => Option[String],
      refreshEvery: FiniteDuration): DiskUsageHandler = {
    val checked = new CheckedFiles
    new DiskUsageHandler(refreshEvery, "key", "size", () => {
      val inv = manifestForDay(prefix, clock(), fetch)
        .getOrElse(sys.error("no manifest found for today or yesterday"))
      (Some(inv.files), () => scan(spark, dataRoot, inv, checked))
    })
  }
}
