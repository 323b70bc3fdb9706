package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, LocalFileSystem, LocatedFileStatus, Path, RemoteIterator}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog._
import graft.spec._
import graft.spark.{IceScan, IceWrite}
import graft.table.IceTable
import graft.table.ManifestModel._

/** The local file system with every stat, listing and open recorded, so a
  * spec can see which paths a piece of code touched, and from which side:
  * a thread with no `TaskContext` is the driver (`fs.file.impl`). */
class CountingLocalFileSystem extends LocalFileSystem {
  private def seen(op: String, p: Path): Unit = CountingLocalFileSystem.calls.add(
    CountingLocalFileSystem.Call(op, p.toString, onDriver = org.apache.spark.TaskContext.get() == null))
  override def getFileStatus(p: Path): FileStatus = { seen("getFileStatus", p); super.getFileStatus(p) }
  override def listStatus(p: Path): Array[FileStatus] = { seen("listStatus", p); super.listStatus(p) }
  override def exists(p: Path): Boolean = { seen("exists", p); super.exists(p) }
  override def open(p: Path, bufferSize: Int): FSDataInputStream = { seen("open", p); super.open(p, bufferSize) }
  override def listFiles(p: Path, recursive: Boolean): RemoteIterator[LocatedFileStatus] = {
    seen("listFiles", p); super.listFiles(p, recursive)
  }
  override def listLocatedStatus(p: Path): RemoteIterator[LocatedFileStatus] = {
    seen("listLocatedStatus", p); super.listLocatedStatus(p)
  }
}

object CountingLocalFileSystem {
  final case class Call(op: String, path: String, onDriver: Boolean)
  val calls = new ConcurrentLinkedQueue[Call]()
}

/** The manifest-backed reader ([[IceScan.readFiles]]): planning a scan
  * touches no data or delete file, and the `_metadata.file_path` it
  * renders is the one positional-delete rows and DV keys already store. */
class ManifestReadSpec extends AnyFunSuite with BeforeAndAfterAll {

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
    NestedField(3, "v", required = false, IceType.StringT)))

  /** 40 identity partitions → 40 live data files, past Spark's
    * 32-path parallel-listing threshold; then a scoped equality delete and
    * a positional delete, so the scan plans both masks. */
  private def maskedTable(warehouse: String, name: String): IceTable = {
    import spark.implicits._
    val cat = new FileCatalog(warehouse)
    var t = cat.createTable(TableIdent(Seq("db"), name), schema,
      PartitionSpec(0, Seq(PartitionField(2, 1000, "p", graft.core.Transform.Identity))))
    t = IceWrite.append(spark, t,
      (0L until 200L).map(i => (i, (i % 40).toInt, s"r$i")).toDF("id", "p", "v"))
    t = IceWrite.appendEqualityDeletes(spark, t, Seq((5L, 5)).toDF("id", "p"), equalityIds = Seq(1, 2))
    IceWrite.appendPositionDeletes(spark, t, col("id") === 7L)
  }

  test("scan planning makes no stat or listing call on a data or delete file") {
    val t = maskedTable(Files.createTempDirectory("graft-io-wh").toString, "io")
    val live = t.entries(t.currentSnapshot(None).get)
    assert(live.count(_.dataFile.content == ContentData) > 32)
    assert(live.exists(_.dataFile.content == ContentEqualityDeletes) &&
      live.exists(_.dataFile.content == ContentPositionDeletes))
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.set("fs.file.impl", classOf[CountingLocalFileSystem].getName)
    hconf.set("fs.file.impl.disable.cache", "true")
    CountingLocalFileSystem.calls.clear()
    val (full, pruned) = try {
      val full = IceScan.scan(spark, t)
      val pruned = IceScan.scan(spark, t, Seq(col("p") === 5))
      // physical planning lists the relation's files too
      full.queryExecution.executedPlan
      pruned.queryExecution.executedPlan
      (full, pruned)
    } finally {
      hconf.unset("fs.file.impl")
      hconf.unset("fs.file.impl.disable.cache")
    }
    import scala.jdk.CollectionConverters._
    val dataDir = new Path(t.location).toUri.getPath + "/data/"
    val onTableFiles = CountingLocalFileSystem.calls.asScala.toSeq.filter(_.path.contains(dataDir))
    assert(onTableFiles.isEmpty,
      s"scan planning touched table files: ${onTableFiles.take(5).mkString(", ")}")
    assert(full.count() == 198L) // ids 5 and 7 masked
    assert(pruned.count() == 4L) // p = 5: ids 45, 85, 125, 165
  }

  test("a data file deleted outside the table fails at the action, naming the path") {
    val t = maskedTable(Files.createTempDirectory("graft-gone-wh").toString, "gone")
    val victim = t.entries(t.currentSnapshot(None).get)
      .filter(_.dataFile.content == ContentData).map(_.dataFile.filePath).head
    Files.delete(java.nio.file.Paths.get(new Path(victim).toUri.getPath))
    val df = IceScan.scan(spark, t) // planning never looks at the file
    val err = intercept[Exception](df.collect())
    val messages = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .map(e => String.valueOf(e.getMessage)).toSeq
    assert(messages.exists(_.contains(new Path(victim).getName)),
      s"error does not name ${new Path(victim).getName}: ${messages.mkString(" | ")}")
  }

  test("_metadata.file_path from the reader equals spark.read.parquet's, byte for byte") {
    val t = maskedTable(Files.createTempDirectory("graft-path-wh").toString, "paths")
    val live = t.entries(t.currentSnapshot(None).get)
    val data = live.filter(_.dataFile.content == ContentData)
    val pos = live.filter(_.dataFile.content == ContentPositionDeletes)
    def filePaths(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select(col("_metadata.file_path")).distinct().collect().map(_.getString(0)).toSet
    val dataSchema = IceScan.readSparkSchema(t, t.schema)
    val posSchema = IceWrite.PosDeleteSchema.toSpark
    val readerData = filePaths(IceScan.readFiles(spark, data, dataSchema))
    assert(readerData.size == data.size)
    assert(readerData == filePaths(spark.read.schema(dataSchema).parquet(data.map(_.dataFile.filePath): _*)))
    assert(filePaths(IceScan.readFiles(spark, pos, posSchema)) ==
      filePaths(spark.read.schema(posSchema).parquet(pos.map(_.dataFile.filePath): _*)))
    // the stored positional-delete rows name data files in that same form
    val stored = IceScan.readFiles(spark, pos, posSchema).select("file_path").collect()
      .map(_.getString(0)).toSet
    assert(stored.nonEmpty && stored.subsetOf(readerData))
  }
}
