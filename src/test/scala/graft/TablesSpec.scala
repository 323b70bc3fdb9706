package graft

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageTypeParser}
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.TimeSeries

/** Physical-unit robustness of the events read: the driver's generator has
  * shipped `ts` as both TIMESTAMP(NANOS) and TIMESTAMP(MICROS) across
  * testdata regenerations, and a hard-coded unit assumption once scaled
  * every timestamp 1000× (collapsing 30 days into 43 minutes). These tests
  * write the SAME logical events under both physical units and assert the
  * read — and every TimeSeries entry point above it — is unit-invariant.
  * The input reader itself: one listing per read, a schema memo keyed by
  * file state and inference settings, and clear errors for bad inputs.
  */
class TablesSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .appName("tables-spec").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  // (event_id, micros-since-epoch, user_id, event_type, value, props) —
  // timestamps span 3 days with sub-second precision so session gaps,
  // day buckets, and week cohorts all exercise real boundaries.
  private lazy val logical: Seq[(Long, Long, Long, String, Double, String)] = {
    val base = 1704067200000000L // 2024-01-01T00:00:00 in µs
    val hour = 3600000000L
    (0 until 200).map { i =>
      val u = i % 5
      val step = i / 5
      // 1.5h cadence with a 12h idle jump every 10 steps → 4 sessions/user
      // under a 6h gap, spanning 4 distinct days
      val t = base + step * (hour * 3 / 2) + (step / 10) * 12 * hour +
        u * 123456L + i * 789L
      (i.toLong, t, u.toLong, Seq("view", "click", "purchase")(i % 3),
        (i % 17) * 0.5, s"""{"i":$i}""")
    }
  }

  private def writeMicrosDir(): String = {
    val d = Files.createTempDirectory("graft_ev_us").toString
    import spark.implicits._
    logical.toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .select(col("event_id"), timestamp_micros(col("us")).cast("timestamp_ntz").as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .coalesce(1).write.parquet(s"$d/events.parquet")
    d
  }

  /** Writes the logical events as ONE parquet FILE at `$dir/events.parquet`
    * (the driver's layout — pathGlobFilter in the streaming readers matches
    * the leaf file name, so a directory-of-parts layout is invisible to
    * them) with `ts` annotated in the given unit. Spark cannot write
    * TIMESTAMP(NANOS); parquet-hadoop's example writer reproduces both
    * historical layouts exactly.
    */
  private def writeRawFile(dir: String, unit: TimeUnit): Unit = {
    val scale = if (unit == TimeUnit.NANOS) 1000L else 1L
    writeParquetFile(s"$dir/events.parquet",
      s"""message events {
        |  optional int64 event_id;
        |  optional int64 ts (TIMESTAMP(${unit.name},false));
        |  optional int64 user_id;
        |  optional binary event_type (STRING);
        |  optional double value;
        |  optional binary props (STRING);
        |}""".stripMargin,
      logical.map { case (id, us, uid, et, v, p) =>
        Map("event_id" -> id, "ts" -> us * scale, "user_id" -> uid, "event_type" -> et,
          "value" -> v, "props" -> p)
      })
  }

  /** One parquet FILE at `path` with the given message type, one row per
    * entry of `rows` (field name → Long, Double or String value). */
  private def writeParquetFile(path: String, message: String, rows: Seq[Map[String, Any]]): Unit = {
    val schema = MessageTypeParser.parseMessageType(message)
    val conf = new Configuration()
    GroupWriteSupport.setSchema(schema, conf)
    val writer = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(path))
      .withConf(conf).withType(schema).build()
    val f = new SimpleGroupFactory(schema)
    try rows.foreach { row =>
      val g = f.newGroup()
      row.foreach {
        case (k, v: Long) => g.add(k, v)
        case (k, v: Double) => g.add(k, v)
        case (k, v: String) => g.add(k, v)
        case (k, v) => fail(s"unsupported value $v for $k")
      }
      writer.write(g)
    } finally writer.close()
  }

  private def writeNanosDir(): String = {
    val d = Files.createTempDirectory("graft_ev_ns").toString
    writeRawFile(d, TimeUnit.NANOS)
    d
  }

  private lazy val microsDir = writeMicrosDir()
  private lazy val nanosDir = writeNanosDir()
  // single-FILE micros layout for the streaming readers (microsDir is a
  // directory of part files, which their pathGlobFilter cannot see)
  private lazy val microsFileDir: String = {
    val d = Files.createTempDirectory("graft_ev_usf").toString
    writeRawFile(d, TimeUnit.MICROS)
    d
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.orderBy("event_id").collect().map(_.toString).toSeq

  test("tsUnit reads the footer annotation for both physical layouts") {
    assert(Tables.tsUnit(spark, s"$microsDir/events.parquet", "ts") == TimeUnit.MICROS)
    assert(Tables.tsUnit(spark, s"$nanosDir/events.parquet", "ts") == TimeUnit.NANOS)
  }

  test("events read is identical across micros and nanos physical units") {
    val us = Tables.events(spark, microsDir)
    val ns = Tables.events(spark, nanosDir)
    assert(us.schema("ts").dataType.typeName == "timestamp_ntz")
    assert(ns.schema("ts").dataType.typeName == "timestamp_ntz")
    assert(sortedRows(us) == sortedRows(ns))
    // and the values are the LOGICAL instants, not a 1000×-scaled collapse
    val days = Tables.events(spark, microsDir)
      .select(countDistinct(to_date(col("ts")))).head().getLong(0)
    assert(days == 4, s"expected 4 distinct days, got $days")
  }

  test("tsUnit re-sniffs after an in-place file regeneration (mtime/length cache key)") {
    val d = Files.createTempDirectory("graft_ev_flip").toString
    writeRawFile(d, TimeUnit.NANOS)
    assert(Tables.tsUnit(spark, s"$d/events.parquet", "ts") == TimeUnit.NANOS)
    // regenerate IN PLACE with the other physical unit — the memoized entry
    // must not survive the flip (a stale NANOS would 1000×-scale every read)
    new java.io.File(s"$d/events.parquet").delete()
    Thread.sleep(10) // ensure a distinct mtime even on coarse-grained filesystems
    writeRawFile(d, TimeUnit.MICROS)
    assert(Tables.tsUnit(spark, s"$d/events.parquet", "ts") == TimeUnit.MICROS)
  }

  test("streaming LONG-schema readers (q33/q84) are unit-invariant across physical units") {
    // These read ts as a raw LONG through a USER-SPECIFIED streaming schema
    // — a different parquet decode path (vectorized INT64-as-long over an
    // annotated TIMESTAMP column) than the batch Tables.events read, so the
    // micros/nanos flip is pinned here independently.
    import graft.queries.StreamingQueries
    def run(name: String, d: String): Seq[String] =
      StreamingQueries.queries(name)(spark, d).collect().map(_.toString).toSeq
    val w84us = run("q84_stream_window", microsFileDir)
    val w84ns = run("q84_stream_window", nanosDir)
    assert(w84us.nonEmpty && w84us == w84ns,
      "q84 windowed aggregation differs between physical timestamp units")
    val w33us = run("q33_stream_ingest", microsFileDir)
    val w33ns = run("q33_stream_ingest", nanosDir)
    assert(w33us.nonEmpty && w33us == w33ns,
      "q33 stream ingest differs between physical timestamp units")
  }

  /** Spark jobs started while `body` runs: a fence job follows it, and the
    * listener bus delivers job starts in order, so every earlier start has
    * been seen once the fence's has. */
  private def jobsDuring(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val fenced = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.job.description") == "fence"))
          fenced.countDown()
        else if (fenced.getCount > 0) jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription("fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(fenced.await(60, java.util.concurrent.TimeUnit.SECONDS), "fence job start never seen")
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  test("a second read of an unchanged input starts no job and touches it only through its listing") {
    val d = Files.createTempDirectory("graft_memo").toString
    spark.range(0, 100, 1, 2).selectExpr("id", "cast(id AS STRING) AS v")
      .write.parquet(s"$d/parts.parquet") // a directory of two part files
    assert(jobsDuring(Tables.t(spark, d, "parts")) >= 1, "the first read infers the schema")
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.set("fs.file.impl", classOf[CountingLocalFileSystem].getName)
    hconf.set("fs.file.impl.disable.cache", "true")
    CountingLocalFileSystem.calls.clear()
    val jobs = try jobsDuring(Tables.t(spark, d, "parts").queryExecution.executedPlan)
    finally {
      hconf.unset("fs.file.impl")
      hconf.unset("fs.file.impl.disable.cache")
    }
    assert(jobs == 0, s"a memoized read ran $jobs Spark jobs")
    import scala.jdk.CollectionConverters._
    val onInput = CountingLocalFileSystem.calls.asScala.toSeq.filter(_.path.contains(d))
    val reads = onInput.filter(c => Set("open", "listFiles", "listLocatedStatus")(c.op))
    assert(reads.isEmpty, s"the memoized read opened or listed the input: ${reads.mkString(", ")}")
    assert(onInput.count(_.op == "listStatus") == 1,
      s"expected the one listing of the directory: ${onInput.mkString(", ")}")
    assert(Tables.t(spark, d, "parts").count() == 100L)
  }

  test("an in-place regeneration with an added column is seen on the next read") {
    val d = Files.createTempDirectory("graft_regen").toString
    val path = s"$d/regen.parquet"
    writeParquetFile(path, "message t { optional int64 id; }", Seq(Map("id" -> 1L)))
    assert(Tables.t(spark, d, "regen").columns.toSeq == Seq("id"))
    new java.io.File(path).delete()
    Thread.sleep(10) // a distinct mtime even on coarse-grained filesystems
    writeParquetFile(path, "message t { optional int64 id; optional binary extra (STRING); }",
      Seq(Map("id" -> 2L, "extra" -> "x")))
    val again = Tables.t(spark, d, "regen")
    assert(again.columns.toSeq == Seq("id", "extra"))
    assert(again.collect().map(_.toString).toSeq == Seq("[2,x]"))
  }

  test("each binaryAsString setting reads an unannotated BINARY column with its own schema") {
    import org.apache.spark.sql.types.{BinaryType, StringType}
    val d = Files.createTempDirectory("graft_bin").toString
    writeParquetFile(s"$d/raw.parquet", "message t { optional int64 id; optional binary b; }",
      Seq(Map("id" -> 1L, "b" -> "abc")))
    val key = "spark.sql.parquet.binaryAsString"
    val before = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "false")
      assert(Tables.t(spark, d, "raw").schema("b").dataType == BinaryType)
      spark.conf.set(key, "true")
      val asString = Tables.t(spark, d, "raw")
      assert(asString.schema("b").dataType == StringType)
      assert(asString.select("b").head().getString(0) == "abc")
      spark.conf.set(key, "false")
      assert(Tables.t(spark, d, "raw").schema("b").dataType == BinaryType)
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("a directory of part files reads the same rows as spark.read.parquet") {
    val path = s"$microsDir/events.parquet"
    assert(new java.io.File(path).isDirectory)
    val viaTables = Tables.t(spark, microsDir, "events")
    val viaSpark = spark.read.parquet(path)
    assert(viaTables.schema == viaSpark.schema)
    val rows = sortedRows(viaTables)
    assert(rows == sortedRows(viaSpark) && rows.size == logical.size)
  }

  test("a missing or partitioned input fails naming the table and the path") {
    val d = Files.createTempDirectory("graft_missing").toString
    val missing = intercept[IllegalArgumentException](Tables.t(spark, d, "nosuch"))
    assert(missing.getMessage.contains("'nosuch'") && missing.getMessage.contains(s"$d/nosuch.parquet"),
      missing.getMessage)
    spark.range(4).selectExpr("id", "id % 2 AS p").write.partitionBy("p").parquet(s"$d/hive.parquet")
    val nested = intercept[IllegalArgumentException](Tables.t(spark, d, "hive"))
    assert(nested.getMessage.contains("'hive'") && nested.getMessage.contains(s"$d/hive.parquet"),
      nested.getMessage)
  }

  test("TimeSeries entry points are unit-invariant (sessionize/funnel/retention/rolling)") {
    def all(d: String): Seq[Seq[String]] = {
      val ev = Tables.events(spark, d)
      Seq(
        TimeSeries.sessionize(ev, Seq("user_id"), "ts",
            expr("INTERVAL '6' HOUR"), tieBreak = Seq("event_id"))
          .groupBy("user_id", "session_idx").agg(count(lit(1)).as("n"))
          .orderBy("user_id", "session_idx").collect().map(_.toString).toSeq,
        TimeSeries.funnel(ev, Seq("user_id"), "ts", "event_type",
            Seq("view", "click", "purchase"))
          .orderBy("user_id").collect().map(_.toString).toSeq,
        TimeSeries.cohortRetention(ev, Seq("user_id"), "ts", lit(true))
          .collect().map(_.toString).sorted.toSeq,
        TimeSeries.rollingDailyStats(ev, "ts", "user_id", windowDays = 2)
          .collect().map(_.toString).sorted.toSeq)
    }
    val a = all(microsDir)
    val b = all(nanosDir)
    assert(a == b, "TimeSeries outputs differ between physical timestamp units")
    // sanity: the sessionize output actually has multiple sessions per user
    assert(a.head.size > 5)
  }
}
