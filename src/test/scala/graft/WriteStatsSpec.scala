package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog._
import graft.core.Transform
import graft.spark.{IceMV, IceWrite}
import graft.spec._
import graft.table.{IceTable, ParquetStats}
import graft.table.ManifestModel._

/** The write tasks return their own manifest entries: each entry equals,
  * field for field and in the same order, what scraping the committed
  * files would give (list the staging dir, parse each hive dir back to its
  * canonical value, read each footer) — and the driver does none of that
  * IO while writing. */
class WriteStatsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val schema = IceSchema(0, Seq(
    NestedField(1, "id", required = false, IceType.LongT),
    NestedField(2, "p", required = false, IceType.IntT),
    NestedField(3, "d", required = false, IceType.DateT),
    NestedField(4, "v", required = false, IceType.StringT)))

  private def table(name: String, spec: PartitionSpec,
                    props: Map[String, String] = Map.empty): IceTable =
    new FileCatalog(Files.createTempDirectory("graft-ws-wh").toString)
      .createTable(TableIdent(Seq("db"), name), schema, spec, props)

  private def rows(n: Int, from: Int = 0): DataFrame = {
    import spark.implicits._
    (from until from + n).map(i => (i.toLong, i % 4, s"2024-0${1 + i % 3}-1${i % 7}", if (i % 5 == 0) null else s"v$i"))
      .toDF("id", "p", "d", "v").withColumn("d", to_date(col("d"))).repartition(4)
  }

  private val identityP = PartitionSpec(0, Seq(PartitionField(2, 1000, "p", Transform.Identity)))

  /** The footer-scrape path the write tasks replaced: the sorted listing of
    * the write's staging dir, each hive dir parsed back to its canonical
    * value, each footer read on the driver. */
  private def scraped(t: IceTable, written: Seq[DataFile], writeSchema: IceSchema,
                      content: Int = ContentData, equalityIds: Seq[Int] = Nil): Seq[DataFile] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dataDir = new Path(t.location).toUri.getPath + "/data/"
    val staging = written.map(f => dataDir + f.filePath.stripPrefix(dataDir).takeWhile(_ != '/')).distinct
    assert(staging.size == 1, s"one staging dir per write: $staging")
    val dir = new Path(staging.head)
    val it = dir.getFileSystem(conf).listFiles(dir, true)
    val paths = Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath.toUri.getPath)
      .filter(_.endsWith(".parquet")).toSeq.sorted
    val partTypes = t.spec.partitionType(t.schema).fields.map(f => f.name -> f.fieldType).toMap
    paths.map { p =>
      val partition = p.stripPrefix(staging.head).split('/').filter(_.nonEmpty).init.toSeq.map { seg =>
        val name = seg.takeWhile(_ != '=').stripPrefix(IceWrite.PartColPrefix)
        val raw = ExternalCatalogUtils.unescapePathName(seg.dropWhile(_ != '=').drop(1))
        name -> (if (raw == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
                 else IceWrite.parsePartitionValue(partTypes.get(name), raw))
      }
      ParquetStats.dataFile(p, conf, writeSchema, partition, content, equalityIds)
    }
  }

  /** Every field, with the byte-array bounds compared by value. */
  private def fields(d: DataFile) =
    (d.copy(lowerBounds = Map.empty, upperBounds = Map.empty),
      d.lowerBounds.map { case (k, v) => k -> v.toSeq }, d.upperBounds.map { case (k, v) => k -> v.toSeq })

  private def assertScraped(t: IceTable, written: Seq[DataFile], writeSchema: IceSchema,
                            content: Int = ContentData, equalityIds: Seq[Int] = Nil): Unit = {
    assert(written.nonEmpty)
    val expected = scraped(t, written, writeSchema, content, equalityIds)
    assert(written.map(fields) == expected.map(fields))
  }

  test("month-partitioned append: entries equal the scraped ones") {
    val t = table("month", PartitionSpec(0, Seq(PartitionField(3, 1000, "d_month", Transform.Month))))
    val files = IceWrite.writeDataFiles(spark, t, rows(40), t.schema)
    assert(files.map(_.partition.head._2).distinct.size == 3)
    assertScraped(t, files, t.schema)
  }

  test("unpartitioned write with a sort order: entries equal the scraped ones") {
    var t = table("sorted", PartitionSpec(0, Nil))
    t = t.newTransaction(None).setSortOrder(SortOrder(1,
      Seq(SortField(1, Transform.Identity, "desc", "nulls-last")))).commit()
    val files = IceWrite.writeDataFiles(spark, t, rows(200), t.schema)
    assertScraped(t, files, t.schema)
  }

  // a sort order from another engine's metadata may carry any transform;
  // the range fan-in must evaluate each (day's `to_date` only runs once the
  // optimizer has replaced it)
  private val tsSchema = IceSchema(0, Seq(
    NestedField(1, "id", required = false, IceType.LongT),
    NestedField(3, "d", required = false, IceType.DateT),
    NestedField(4, "v", required = false, IceType.StringT),
    NestedField(5, "ts", required = false, IceType.TimestamptzT)))
  for ((name, field) <- Seq(
      "day" -> SortField(3, Transform.Day, "asc", "nulls-first"),
      "month" -> SortField(3, Transform.Month, "desc", "nulls-last"),
      "hour" -> SortField(5, Transform.Hour, "asc", "nulls-first"),
      "truncate" -> SortField(4, Transform.Truncate(2), "asc", "nulls-last"),
      "bucket" -> SortField(1, Transform.Bucket(3), "asc", "nulls-first")))
    test(s"unpartitioned write sorted by $name: entries equal the scraped ones") {
      var t = new FileCatalog(Files.createTempDirectory("graft-ws-wh").toString)
        .createTable(TableIdent(Seq("db"), s"sorted_$name"), tsSchema, PartitionSpec(0, Nil))
      t = t.newTransaction(None).setSortOrder(SortOrder(1, Seq(field))).commit()
      val df = rows(200).select(col("id"), col("d"), col("v"),
        timestamp_seconds(unix_date(col("d")).cast("long") * 86400L + col("id") % 24 * 3600L).as("ts"))
      val files = IceWrite.writeDataFiles(spark, t, df, t.schema)
      assert(files.map(_.recordCount).sum == 200L)
      assertScraped(t, files, t.schema)
    }

  test("scoped and global equality-delete writes: entries equal the scraped ones") {
    import spark.implicits._
    val t = table("eq", identityP)
    val keys = Seq((3L, 3), (4L, 0), (9L, 1)).toDF("id", "p")
    val scopedSchema = t.schema.project(Seq(1, 2))
    val scoped = IceWrite.writeDataFiles(spark, t, keys, scopedSchema,
      content = ContentEqualityDeletes, equalityIds = Seq(1, 2))
    assert(scoped.forall(_.partition.map(_._1) == Seq("p")))
    assertScraped(t, scoped, scopedSchema, ContentEqualityDeletes, Seq(1, 2))
    val globalSchema = t.schema.project(Seq(1))
    val global = IceWrite.writeDataFiles(spark, t, keys.select("id"), globalSchema,
      content = ContentEqualityDeletes, equalityIds = Seq(1))
    assert(global.forall(_.partition.isEmpty))
    assertScraped(t, global, globalSchema, ContentEqualityDeletes, Seq(1))
  }

  test("positional-delete write: entries equal the scraped ones") {
    val t = IceWrite.append(spark, table("pos", identityP), rows(40))
    val files = IceWrite.positionDeleteFiles(spark, t, col("id") % 3 === 0L)
    assert(files.map(_.recordCount).sum == 14L)
    assertScraped(t, files, IceWrite.PosDeleteSchema, ContentPositionDeletes)
  }

  test("empty-input write: entries equal the scraped ones") {
    val t = table("empty", PartitionSpec(0, Nil))
    val files = IceWrite.writeDataFiles(spark, t, rows(10).filter(lit(false)), t.schema)
    assert(files.map(_.recordCount).sum == 0L)
    assertScraped(t, files, t.schema)
  }

  test("a write that rolls files at maxRecordsPerFile: entries equal the scraped ones") {
    val t = table("rolled", identityP, Map("write.max-records-per-file" -> "3"))
    val files = IceWrite.writeDataFiles(spark, t, rows(40), t.schema)
    assert(files.size > 4 && files.forall(_.recordCount <= 3L))
    assertScraped(t, files, t.schema)
  }

  test("no driver thread opens or lists a staging-dir path during an append or an MV refresh") {
    val cat = new FileCatalog(Files.createTempDirectory("graft-ws-io").toString)
    var src = cat.createTable(TableIdent(Seq("db"), "src"), schema, identityP)
    src = IceWrite.append(spark, src, rows(20))
    val mv = TableIdent(Seq("db"), "by_p")
    IceMV.create(spark, cat, mv, "SELECT p, count(*) AS n, sum(id) AS s FROM src GROUP BY p")
    IceMV.refresh(spark, cat, mv)
    val storage = IceMV.storageIdent(mv)
    def livePaths(t: IceTable): Set[String] =
      t.currentSnapshot(None).toSeq.flatMap(s => t.entries(s)).map(_.dataFile.filePath).toSet
    val before = livePaths(src) ++ livePaths(cat.loadTable(storage).get)

    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.set("fs.file.impl", classOf[CountingLocalFileSystem].getName)
    hconf.set("fs.file.impl.disable.cache", "true")
    CountingLocalFileSystem.calls.clear()
    val strategy = try {
      src = IceWrite.append(spark, src, rows(8, from = 100))
      IceMV.refresh(spark, cat, mv).strategy
    } finally {
      hconf.unset("fs.file.impl")
      hconf.unset("fs.file.impl.disable.cache")
    }
    assert(strategy.isInstanceOf[IceMV.IncrementalAggregate])
    val added = (livePaths(src) ++ livePaths(cat.loadTable(storage).get)) -- before
    val stagingDirs = added.map(p => new Path(p).getParent.toUri.getPath)
      .map(d => d.take(d.indexOf("/data/") + "/data/".length + 36))
    assert(added.count(p => !p.contains(cat.loadTable(storage).get.location)) == 4) // 4 partition files
    assert(added.exists(_.contains(cat.loadTable(storage).get.location)))
    val calls = CountingLocalFileSystem.calls.asScala.toSeq
      .filter(c => stagingDirs.exists(d => c.path.contains(d + "/") || c.path.endsWith(d)))
    val onDriver = calls.filter(c => c.onDriver &&
      Set("open", "listStatus", "listFiles", "listLocatedStatus").contains(c.op))
    assert(onDriver.isEmpty, s"driver IO under a staging dir: ${onDriver.take(5).mkString(", ")}")
    // the counting file system did see the write: the tasks opened the footers
    assert(calls.exists(c => !c.onDriver && c.op == "open"))
  }
}
