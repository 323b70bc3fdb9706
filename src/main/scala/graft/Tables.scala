package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet testdata (TESTDATA.md).
  * Tables: region nation customer supplier part orders lineitem events
  * documents embeddings — one parquet file per table under the sf dir.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def t(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = t(s, d, "lineitem")
  /** events.ts surfaces as TIMESTAMP_NTZ regardless of the PHYSICAL unit
    * the generator chose — driver regenerations have shipped both
    * TIMESTAMP(NANOS) and TIMESTAMP(MICROS) footers, and a hard-coded unit
    * silently scales every timestamp 1000× when the file flips. The unit is
    * read from the parquet footer of ONE file (few-KB footer-only IO,
    * memoized per path):
    *  - NANOS: Spark 4's schema inference rejects NANOS, so a
    *    user-specified schema reads ts as BIGINT (skipping inference — no
    *    session conf; `spark.sql.legacy.parquet.nanosAsLong` is only
    *    consulted on the inference path), then truncates to µs — the same
    *    µs truncation DuckDB applies. Integer `DIV` keeps ns exact
    *    (> 2^53).
    *  - MICROS/MILLIS: native vectorized read; isAdjustedToUTC=false infers
    *    TIMESTAMP_NTZ directly, and the cast is a no-op normalization.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
    val path = s"$d/events.parquet"
    tsUnit(s, path, "ts") match {
      case TimeUnit.NANOS =>
        s.read.schema(
            "event_id BIGINT, ts BIGINT, user_id BIGINT, event_type STRING, value DOUBLE, props STRING")
          .parquet(path)
          .withColumn("ts", timestamp_micros(expr("ts DIV 1000")).cast("timestamp_ntz"))
      case _ =>
        s.read.parquet(path).withColumn("ts", col("ts").cast("timestamp_ntz"))
    }
  }

  private val tsUnitCache = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** TIMESTAMP logical-type unit of `column` from the footer of one parquet
    * file under `path` (a file or a directory of part files). An
    * unannotated INT64 falls back to NANOS — the one historical layout that
    * carried no readable annotation through Spark's inference.
    *
    * Memoized per (resolved file, column, mtime, length): the cheap FS
    * status runs every call, only the footer read is cached — so an
    * in-place testdata regeneration that flips the physical unit mid-JVM
    * invalidates the entry instead of serving the stale unit (which would
    * reintroduce the exact 1000× scaling this sniff exists to prevent).
    */
  private[graft] def tsUnit(s: SparkSession, path: String,
                            column: String): org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
    val conf = s.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val st = {
      val root = fs.getFileStatus(p)
      if (root.isDirectory) {
        val parts = fs.listStatus(p)
          .filter(f => f.getPath.getName.endsWith(".parquet") && !f.getPath.getName.startsWith("_"))
        require(parts.nonEmpty, s"no parquet part files under $path to sniff $column's unit from")
        parts.minBy(_.getPath.getName)
      } else root
    }
    val file = st.getPath
    tsUnitCache.computeIfAbsent(
      s"$file#$column#${st.getModificationTime}#${st.getLen}", { _ =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf),
        org.apache.parquet.HadoopReadOptions.builder(conf).build())
      try {
        reader.getFooter.getFileMetaData.getSchema.getType(Seq(column): _*)
          .getLogicalTypeAnnotation match {
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation => t.getUnit
          case _ => TimeUnit.NANOS
        }
      } finally reader.close()
    }).asInstanceOf[org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit]
  }
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")
}
