package graft.operators

import java.time.Instant

import scala.concurrent.duration.FiniteDuration
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.parquet.schema.Type
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.{Inventory, Manifest}

/** The reference's whole refresh pipeline as one composition
  * (/root/reference/handler.go:77-92): resolve the dated manifest key
  * (01:00-UTC pin + previous-day fallback), parse the manifest, scan its
  * file list as ONE multi-path parquet read (the §2.4 accumulate-not-
  * overwrite fix), aggregate, serve.
  *
  * A refresh is one Spark job. The scan reads `key STRING, size BIGINT`
  * with a declared schema, so no schema-inference job runs first; instead
  * the driver reads the parquet footer of the first listed file and fails
  * the refresh if `key` (binary) or `size` (int64) is missing — the same
  * one-file coverage inference gives. The served handler's fold
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
    * when the manifest's first file lacks either column.
    */
  def inventoryForDay(
      spark: SparkSession,
      dataRoot: String,
      prefix: String,
      now: Instant,
      fetch: String => Option[String]): Option[(Inventory, DataFrame)] =
    Manifest
      .resolveWithFallback(now)(ts => fetch(Manifest.manifestKey(prefix, ts)))
      .map(Manifest.parseInventory)
      .map { inv =>
        val paths = inv.dataPaths(dataRoot)
        require(paths.nonEmpty, "manifest lists no inventory files")
        requireColumns(spark, paths.head)
        (inv, spark.read.schema(schema).parquet(paths: _*))
      }

  /** The two inventory columns the pipeline reads (handler.go:205-221). */
  private val schema = "key STRING, size BIGINT"

  /** Fail unless the footer of the first data file under `path` (a file,
    * or a directory of part files) has a binary `key` and an int64
    * `size`. Names match case-insensitively, as Spark resolves them.
    */
  private def requireColumns(spark: SparkSession, path: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val status = fs.getFileStatus(root)
    val file =
      if (!status.isDirectory) status
      else fs.listStatus(root).filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
          !s.getPath.getName.startsWith(".")).sortBy(_.getPath.getName).headOption
        .getOrElse(sys.error(s"no data files under $path"))
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

  /** Serving handler over the manifest-driven pipeline: every refresh
    * re-resolves the manifest for the current day — i.e. the cron job of
    * handler.go:56-66 end to end. Throws at construction if no manifest
    * exists for today or yesterday (matching the reference's fatal first
    * run); later refresh failures keep the previous snapshot.
    */
  def servingHandler(
      spark: SparkSession,
      dataRoot: String,
      prefix: String,
      clock: () => Instant,
      fetch: String => Option[String],
      refreshEvery: FiniteDuration): DiskUsageHandler =
    new DiskUsageHandler(
      () =>
        inventoryForDay(spark, dataRoot, prefix, clock(), fetch)
          .map(_._2)
          .getOrElse(sys.error("no manifest found for today or yesterday")),
      refreshEvery)
}
