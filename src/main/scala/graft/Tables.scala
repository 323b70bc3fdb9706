package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
import org.apache.spark.sql.{DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusWithMetadata, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.spark.ManifestFileIndex

/** Loaders for the driver-generated parquet testdata (TESTDATA.md).
  * Tables: region nation customer supplier part orders lineitem events
  * documents embeddings — one parquet file per table under the sf dir (a
  * directory of part files reads too).
  *
  * Each read resolves its input once and builds the relation directly, as
  * the table layer's reader does (reference: S1, the `TableProvider` that
  * scans a known file list, datafusion_iceberg/src/table.rs:162-728): the
  * input is listed once ([[listInput]]), its schema is inferred once per
  * file state and parquet inference settings ([[schemaOf]]), and the relation
  * is a `HadoopFsRelation` over a [[ManifestFileIndex]] of the listed files.
  * A repeated read of an unchanged input runs no schema-inference job, no
  * `DataSource` lookup and no `InMemoryFileIndex` listing. The plan and its
  * size statistic (the sum of the file lengths) are those of a path-based
  * parquet read; only the scan's index name differs.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def t(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val files = listInput(spark.sessionState.newHadoopConf(), name, s"$sfDir/$name.parquet")
    relation(spark, files, schemaOf(spark, files))
  }

  def region(s: SparkSession, d: String): DataFrame    = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = t(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")

  /** events.ts surfaces as TIMESTAMP_NTZ regardless of the PHYSICAL unit
    * the generator chose — driver regenerations have shipped both
    * TIMESTAMP(NANOS) and TIMESTAMP(MICROS) footers, and a hard-coded unit
    * silently scales every timestamp 1000× when the file flips. The unit is
    * read from the parquet footer of ONE file (few-KB footer-only IO,
    * memoized per file state):
    *  - NANOS: Spark 4's schema inference rejects NANOS, so the relation
    *    reads ts as BIGINT under a fixed schema (no inference, no session
    *    conf: `spark.sql.legacy.parquet.nanosAsLong` is only consulted on
    *    the inference path), then truncates to µs — the same µs truncation
    *    DuckDB applies. Integer `DIV` keeps ns exact (> 2^53).
    *  - MICROS/MILLIS: native vectorized read under the memoized schema;
    *    isAdjustedToUTC=false infers TIMESTAMP_NTZ directly, and the cast
    *    is a no-op normalization.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val conf = s.sessionState.newHadoopConf()
    val files = listInput(conf, "events", s"$d/events.parquet")
    footerUnit(conf, files.head, "ts") match {
      case TimeUnit.NANOS =>
        relation(s, files, NanosEvents)
          .withColumn("ts", timestamp_micros(expr("ts DIV 1000")).cast("timestamp_ntz"))
      case _ =>
        relation(s, files, schemaOf(s, files)).withColumn("ts", col("ts").cast("timestamp_ntz"))
    }
  }

  private val NanosEvents = StructType.fromDDL(
    "event_id BIGINT, ts BIGINT, user_id BIGINT, event_type STRING, value DOUBLE, props STRING")

  /** TIMESTAMP logical-type unit of `column` from the footer of the first
    * file of the input at `path` (a file or a directory of part files). An
    * unannotated INT64 falls back to NANOS — the one historical layout that
    * carried no readable annotation through Spark's inference. */
  private[graft] def tsUnit(s: SparkSession, path: String, column: String): TimeUnit = {
    val conf = s.sessionState.newHadoopConf()
    footerUnit(conf, listInput(conf, new Path(path).getName.stripSuffix(".parquet"), path).head, column)
  }

  /** The files of input `name` at `path`, listed once per read: a file
    * lists as itself; a directory as its visible `*.parquet` part files,
    * sorted by name (`_` and `.` names skipped). Paths are qualified. A
    * missing input, an empty directory or a nested directory (hive-style
    * partitions) fails with a message naming the table and the path. */
  private def listInput(conf: Configuration, name: String, path: String): Seq[FileStatus] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val root = try fs.getFileStatus(fs.makeQualified(p)) catch {
      case e: java.io.FileNotFoundException =>
        throw new IllegalArgumentException(s"input table '$name': no file or directory at $path", e)
    }
    if (!root.isDirectory) Seq(root)
    else {
      val visible = fs.listStatus(root.getPath).filterNot { f =>
        val n = f.getPath.getName
        n.startsWith("_") || n.startsWith(".")
      }
      visible.find(_.isDirectory).foreach { sub =>
        throw new IllegalArgumentException(s"input table '$name' at $path holds a directory " +
          s"(${sub.getPath.getName}); partitioned inputs are not supported")
      }
      val parts = visible.filter(_.getPath.getName.endsWith(".parquet")).sortBy(_.getPath.getName)
      require(parts.nonEmpty, s"input table '$name': no parquet part files under $path")
      parts.toSeq
    }
  }

  /** The session settings that change the schema Spark infers from parquet
    * footers; each is part of the memo key, so a schema inferred under one
    * value never serves a session that uses another. */
  private val InferenceSettings = Seq(
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.mergeSchema")

  private final case class SchemaKey(files: Seq[(String, Long, Long)], settings: Seq[Option[String]])

  private val schemas = new ConcurrentHashMap[SchemaKey, StructType]()

  /** The (nullable) schema Spark infers for `files`, memoized per (path,
    * mtime, length) of every file and the session's [[InferenceSettings]]:
    * an in-place regeneration changes the key, so the next read re-infers.
    * Inferred outside the map's lock (inputs open from several threads at
    * once); a racing duplicate inference is harmless. */
  private def schemaOf(s: SparkSession, files: Seq[FileStatus]): StructType = {
    val key = SchemaKey(files.map(f => (f.getPath.toString, f.getModificationTime, f.getLen)),
      InferenceSettings.map(s.conf.getOption))
    Option(schemas.get(key)).getOrElse {
      val inferred = s.read.parquet(files.map(_.getPath.toString): _*).schema
      Option(schemas.putIfAbsent(key, inferred)).getOrElse(inferred)
    }
  }

  /** A parquet relation over exactly `files`, read with `schema`. */
  private def relation(s: SparkSession, files: Seq[FileStatus], schema: StructType): DataFrame =
    GraftShim.ofRows(s, LogicalRelation(HadoopFsRelation(
      ManifestFileIndex(files.map(FileStatusWithMetadata(_))), new StructType(), schema, None,
      new ParquetFileFormat, Map.empty)(s)))

  private val footerUnits = new ConcurrentHashMap[String, TimeUnit]()

  /** The footer unit of `column` in `file`, memoized per (file, column,
    * mtime, length), so an in-place testdata regeneration that flips the
    * physical unit mid-JVM misses the memo instead of serving the stale unit
    * (which would reintroduce the exact 1000× scaling this sniff exists to
    * prevent). */
  private def footerUnit(conf: Configuration, file: FileStatus, column: String): TimeUnit =
    footerUnits.computeIfAbsent(
      s"${file.getPath}#$column#${file.getModificationTime}#${file.getLen}", { _ =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file.getPath, conf),
        org.apache.parquet.HadoopReadOptions.builder(conf).build())
      try {
        reader.getFooter.getFileMetaData.getSchema.getType(Seq(column): _*)
          .getLogicalTypeAnnotation match {
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation => t.getUnit
          case _ => TimeUnit.NANOS
        }
      } finally reader.close()
    })
}
