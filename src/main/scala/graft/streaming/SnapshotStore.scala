package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.SparkToParquetSchemaConverter
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{LongType, StringType, StructType}

/** The on-disk primitives under [[BatchStore.Log]]: `upto=<batchId>`
  * snapshot directories and `delta=<batchId>` log entries, each holding
  * one parquet table or one subdirectory per named table, complete iff
  * every table carries its `_SUCCESS` marker. Snapshots are pruned to
  * the newest two complete ones (the newest serves restore, the previous
  * survives a torn newest write); deltas are pruned once a snapshot
  * supersedes them.
  *
  * A DataFrame table is written by Spark's parquet writer. A table the
  * driver already holds ([[Rows]], the bounded sketches' few-KB state) is
  * written by the driver itself, with parquet-hadoop, as one parquet file
  * followed by `_SUCCESS` — the same layout and column types Spark's
  * writer gives, so either reads back through `spark.read.parquet`, with
  * no Spark job per commit. Such a table is read back by the driver too
  * ([[readRows]], no Spark job per restore), whichever writer wrote it.
  *
  * Listing, deletion and the driver's writes go through Hadoop's
  * `FileSystem` resolved FROM THE SNAPSHOT PATH — the same API the parquet
  * writer uses — so the snapshot dir may live on any Spark-writable scheme
  * (`hdfs://`, `s3a://`, `file:`, a bare local path). A `java.io.File`
  * lister would silently see nothing on a remote scheme and a restart
  * would cold-start while the checkpoint marks batches delivered —
  * exactly the loss the durability contract exists to prevent.
  */
private[graft] object SnapshotStore {

  private def fs(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Table `name` inside an entry directory ("" = the directory itself). */
  def path(entry: String, name: String): String =
    if (name.isEmpty) entry else s"$entry/$name"

  /** `<prefix>=<id>` directories under `dir`, ascending id, keeping only
    * those where every table in `tables` has its `_SUCCESS` (no tables:
    * every directory, torn ones included).
    */
  def ids(spark: SparkSession, dir: String, prefix: String,
      tables: Seq[String] = Seq("")): Seq[(Long, Path)] = {
    val (f, p) = fs(spark, dir)
    if (!f.exists(p)) return Seq.empty
    f.listStatus(p).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(s"$prefix="))
      .filter(st => tables.forall(t => f.exists(new Path(
        if (t.isEmpty) st.getPath else new Path(st.getPath, t), "_SUCCESS"))))
      .map(st => st.getPath.getName.stripPrefix(s"$prefix=").toLong -> st.getPath)
      .sortBy(_._1)
  }

  /** Complete single-table deltas under `dir`, ascending batch id. */
  def deltaIds(spark: SparkSession, dir: String): Seq[(Long, Path)] =
    ids(spark, dir, "delta")

  /** The newest complete single-table snapshot as (batchId, rows), if any. */
  def newest(spark: SparkSession, dir: String): Option[(Long, DataFrame)] =
    ids(spark, dir, "upto").lastOption.map { case (id, p) =>
      id -> spark.read.parquet(p.toString)
    }

  /** Write one table as the `batchId` snapshot ([[writeTables]]). */
  def write(spark: SparkSession, dir: String, df: DataFrame,
      batchId: Long, singleFile: Boolean = true): Unit =
    writeTables(spark, dir, Seq("" -> df), batchId, singleFile)

  /** Write `tables` as the `batchId` snapshot — one file per table (the
    * bounded stores' tables are KBs by contract) unless `singleFile=false`,
    * for corpus-sized state that must not funnel through one task — then
    * prune to the newest two complete snapshots.
    */
  def writeTables(spark: SparkSession, dir: String,
      tables: Seq[(String, DataFrame)], batchId: Long,
      singleFile: Boolean): Unit = {
    tables.foreach { case (name, df) =>
      val out = if (singleFile) df.coalesce(1) else df
      out.write.mode("overwrite").parquet(path(s"$dir/upto=$batchId", name))
    }
    prune(spark, dir, tables.map(_._1))
  }

  /** A table the driver holds: its schema (BIGINT and STRING columns) and
    * its rows.
    */
  final case class Rows(schema: StructType, rows: Iterable[Row]) {
    require(schema.forall(f => f.dataType == LongType || f.dataType == StringType),
      s"a driver-written table holds BIGINT and STRING columns: $schema")
  }

  /** Write driver-held `tables` as the `batchId` snapshot, on the driver:
    * per table, the entry directory is replaced by one parquet file and
    * its `_SUCCESS`; then prune to the newest two complete snapshots.
    */
  def writeRows(spark: SparkSession, dir: String,
      tables: Seq[(String, Rows)], batchId: Long): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    tables.foreach { case (name, t) => writeFile(conf, path(s"$dir/upto=$batchId", name), t) }
    prune(spark, dir, tables.map(_._1))
  }

  /** Read the `batchId` snapshot's `tables` on the driver, the mirror of
    * [[writeRows]]: per table, every parquet file of its entry directory
    * (one, whether the driver or Spark's writer wrote it), as rows of the
    * given schema, columns matched by name. No Spark job runs.
    */
  def readRows(spark: SparkSession, dir: String,
      tables: Seq[(String, StructType)], batchId: Long): Seq[Rows] = {
    val conf = spark.sparkContext.hadoopConfiguration
    tables.map { case (name, schema) =>
      Rows(schema, readFiles(conf, path(s"$dir/upto=$batchId", name), schema))
    }
  }

  private def readFiles(conf: Configuration, dir: String, schema: StructType): Seq[Row] = {
    val in = new Path(dir)
    val files = in.getFileSystem(conf).listStatus(in).toSeq.map(_.getPath)
      .filter(p => p.getName.endsWith(".parquet") && !p.getName.startsWith("_") &&
        !p.getName.startsWith("."))
    val strings = schema.fields.map(_.dataType == StringType)
    files.sortBy(_.getName).flatMap { file =>
      val r = ParquetReader.builder(new GroupReadSupport, file).withConf(conf).build()
      try Iterator.continually(r.read()).takeWhile(_ != null).map { g =>
        Row.fromSeq(schema.fields.toSeq.zip(strings).map { case (f, str) =>
          val i = g.getType.getFieldIndex(f.name)
          if (g.getFieldRepetitionCount(i) == 0) null
          else if (str) g.getString(i, 0) else g.getLong(i, 0)
        })
      }.toVector
      finally r.close()
    }
  }

  private def writeFile(conf: Configuration, dir: String, t: Rows): Unit = {
    val out = new Path(dir)
    val f = out.getFileSystem(conf)
    f.delete(out, true)
    // the parquet schema Spark's own writer derives from `t.schema`
    val msg = new SparkToParquetSchemaConverter(SQLConf.get).convert(t.schema)
    val groups = new SimpleGroupFactory(msg)
    val w = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(new Path(out, "part-00000.snappy.parquet"), conf))
      .withConf(conf).withType(msg)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    val strings = t.schema.fields.map(_.dataType == StringType)
    try t.rows.foreach { r =>
      val g = groups.newGroup()
      strings.indices.foreach { i =>
        if (!r.isNullAt(i)) {
          if (strings(i)) g.add(i, r.getString(i)) else g.add(i, r.getLong(i))
        }
      }
      w.write(g)
    } finally w.close()
    f.create(new Path(out, "_SUCCESS")).close()
  }

  private def prune(spark: SparkSession, dir: String, tables: Seq[String]): Unit = {
    val (f, _) = fs(spark, dir)
    ids(spark, dir, "upto", tables).dropRight(2).foreach {
      case (_, p) => f.delete(p, true)
    }
  }

  /** Write one batch's NEW rows as the `batchId` delta, one file per
    * table (a micro-batch's delta is small by construction; overwrite
    * replaces a torn earlier attempt at the same id whole).
    */
  def writeDelta(spark: SparkSession, dir: String,
      tables: Seq[(String, DataFrame)], batchId: Long): Unit =
    tables.foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite")
        .parquet(path(s"$dir/delta=$batchId", name))
    }

  /** Delete every `delta=` dir (complete or torn) with id ≤ `upto` — the
    * compaction step after a full snapshot at `upto` has made them
    * redundant.
    */
  def pruneDeltas(spark: SparkSession, dir: String, upto: Long): Unit = {
    val (f, _) = fs(spark, dir)
    ids(spark, dir, "delta", Nil).takeWhile(_._1 <= upto).foreach {
      case (_, p) => f.delete(p, true)
    }
  }
}
