package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.catalog._
import graft.core.Transform
import graft.spec._
import graft.spark.{IceScan, IceWrite}
import graft.table.{Maintenance, ManifestModel, Puffin, Roaring}
import graft.table.ManifestModel.{ContentPositionDeletes, FormatPuffin}

/** Iceberg-V3-style deletion vectors: the portable roaring codec, the Puffin
  * sidecar format, the write/merge path (one DV per data file), the
  * broadcast-filter read path with its distributed anti-join fallback, and
  * the parquet-positions → DV conversion maintenance op. All
  * beyond-reference (the reference panics on content=1 files,
  * iceberg-rust table.rs:422-424).
  */
class DeletionVectorSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  def freshCatalog(): FileCatalog =
    new FileCatalog(Files.createTempDirectory("graft-dv-wh").toString)

  def ordersSchema: IceSchema = IceSchema(0, Seq(
    NestedField(1, "id", required = false, IceType.LongT),
    NestedField(2, "customer_id", required = false, IceType.LongT),
    NestedField(3, "product_id", required = false, IceType.LongT),
    NestedField(4, "date", required = false, IceType.DateT),
    NestedField(5, "amount", required = false, IceType.IntT)))

  def daySpec: PartitionSpec =
    PartitionSpec(0, Seq(PartitionField(4, 1000, "date_day", Transform.Day)))

  def batch1(implicit s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      (1L, 1L, 1L, "2020-01-01", 1), (2L, 2L, 1L, "2020-01-01", 1),
      (3L, 3L, 1L, "2020-01-01", 3), (4L, 1L, 2L, "2020-02-02", 1),
      (5L, 1L, 1L, "2020-02-02", 2), (6L, 3L, 3L, "2020-02-02", 3))
      .toDF("id", "customer_id", "product_id", "date", "amount")
      .withColumn("date", to_date(col("date")))
  }

  private def dvEntries(t: graft.table.IceTable) =
    t.entries(t.currentSnapshot(None).get)
      .filter(e => e.dataFile.content == ContentPositionDeletes &&
        e.dataFile.fileFormat == FormatPuffin)

  // ---------- roaring codec ----------

  test("roaring 64-bit portable round-trip against a reference set model") {
    val rnd = new scala.util.Random(42)
    val cases: Seq[Seq[Long]] = Seq(
      Seq.empty[Long],
      Seq(0L),
      Seq(0L, 1L, 2L, 65535L, 65536L, 65537L),
      // dense block forcing a bitmap container (> 4096 in one 16-bit chunk)
      (0L until 5000L),
      // exactly the array/bitmap cutoff and one past it
      (0L until 4096L),
      (0L until 4097L),
      // multi-bucket: values beyond 2^32
      Seq(1L, (1L << 32) + 7L, (1L << 33) + 123456789L, (5L << 32)),
      // random spray across containers
      Seq.fill(20000)(rnd.nextLong(1L << 40)).map(math.abs(_)),
      // random dense cluster + sparse tail
      (100000L until 104200L) ++ Seq.fill(500)(math.abs(rnd.nextLong(1L << 50))))
    for (xs <- cases) {
      val model: Set[Long] = xs.toSet
      val bm = Roaring.Bitmap64(xs)
      assert(bm.cardinality == model.size.toLong, s"cardinality for |${model.size}|")
      assert(bm.toArray.toSeq == model.toSeq.sorted, "ascending traversal")
      val round = Roaring.Bitmap64.deserialize(bm.serialize)
      assert(round.toArray.toSeq == model.toSeq.sorted, "serialize/deserialize round-trip")
      // membership: every member + probes around the edges
      model.take(1000).foreach(v => assert(round.contains(v), s"contains($v)"))
      Seq.fill(1000)(math.abs(rnd.nextLong(1L << 50))).foreach { v =>
        assert(round.contains(v) == model.contains(v), s"probe($v)")
      }
    }
  }

  test("roaring union equals set union and keeps one-DV-per-file merges exact") {
    val rnd = new scala.util.Random(7)
    val a = Seq.fill(8000)(rnd.nextLong(1L << 34)).map(math.abs(_))
    val b = Seq.fill(8000)(rnd.nextLong(1L << 34)).map(math.abs(_)) ++ a.take(100)
    val u = Roaring.Bitmap64(a).union(Roaring.Bitmap64(b))
    val model = (a ++ b).toSet
    assert(u.cardinality == model.size.toLong)
    assert(u.toArray.toSeq == model.toSeq.sorted)
  }

  // ---------- puffin format ----------

  test("puffin write/read round-trip: footer directory, range reads, CRC guard") {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = Files.createTempDirectory("graft-puffin").toString
    val path = s"$dir/test.puffin"
    val bmA = Roaring.Bitmap64(Seq(1L, 5L, 9L, 70000L))
    val bmB = Roaring.Bitmap64(0L until 6000L)
    val blobs = Seq(
      Puffin.BlobSpec(Puffin.dvBlobBytes(bmA), Puffin.DeletionVectorV1,
        properties = Map("referenced-data-file" -> "f-a", "cardinality" -> "4")),
      Puffin.BlobSpec(Puffin.dvBlobBytes(bmB), Puffin.DeletionVectorV1,
        properties = Map("referenced-data-file" -> "f-b", "cardinality" -> "6000")))
    val (len, metas) = Puffin.write(conf, path, blobs, snapshotId = 11L, sequenceNumber = 3L)
    assert(new java.io.File(path).length() == len, "reported length matches the artifact")
    assert(metas.map(_.blobType).forall(_ == Puffin.DeletionVectorV1))
    assert(metas.head.offset == 4L, "first blob starts right after the magic")

    val footer = Puffin.readFooter(conf, path)
    assert(footer.map(m => (m.offset, m.length)) == metas.map(m => (m.offset, m.length)))
    assert(footer.map(_.properties("referenced-data-file")) == Seq("f-a", "f-b"))

    val backA = Puffin.dvFromBlob(Puffin.readBlobRange(conf, path, footer(0).offset, footer(0).length))
    val backB = Puffin.dvFromBlob(Puffin.readBlobRange(conf, path, footer(1).offset, footer(1).length))
    assert(backA.toArray.toSeq == Seq(1L, 5L, 9L, 70000L))
    assert(backB.cardinality == 6000L)

    // CRC guard: flip one payload byte inside blob B's vector
    val corrupted = Puffin.readBlobRange(conf, path, footer(1).offset, footer(1).length)
    corrupted(12) = (corrupted(12) ^ 0x5A).toByte
    val e = intercept[IllegalArgumentException](Puffin.dvFromBlob(corrupted))
    assert(e.getMessage.contains("CRC-32C"))
    // magic guard
    val badMagic = Puffin.readBlobRange(conf, path, footer(0).offset, footer(0).length)
    badMagic(4) = 0x00
    intercept[IllegalArgumentException](Puffin.dvFromBlob(badMagic))
  }

  // ---------- end-to-end write/read ----------

  test("deletion vectors mask exactly the predicate rows; merge keeps one DV per file") {
    implicit val s: SparkSession = spark
    val cat = freshCatalog()
    var table = cat.createTable(TableIdent(Seq("test"), "dv"), ordersSchema, daySpec)
    table = IceWrite.append(spark, table, batch1)

    // wave 1: product_id=1 rows (ids 1, 2, 3, 5) — DV commit
    table = IceWrite.appendDeletionVectors(spark, table, col("product_id") === 1)
    assert(IceScan.scan(spark, table).count() == 2)
    assert(IceScan.scan(spark, table).select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(4L, 6L))
    val wave1 = dvEntries(table)
    assert(wave1.nonEmpty && wave1.forall(_.dataFile.referencedDataFile.isDefined))
    assert(wave1.forall(e => e.dataFile.contentOffset.isDefined && e.dataFile.contentSizeInBytes.isDefined))

    // wave 2 on overlapping files: id=6 — the same data files get MERGED
    // replacement vectors, never a second DV per file (the V3 invariant)
    table = IceWrite.appendDeletionVectors(spark, table, col("id") === 6L)
    assert(IceScan.scan(spark, table).select("id").collect().map(_.getLong(0)).toSeq == Seq(4L))
    val wave2 = dvEntries(table)
    val perRef = wave2.groupBy(_.dataFile.referencedDataFile.get)
    assert(perRef.values.forall(_.size == 1), s"one DV per data file, got $perRef")
    // merged cardinality: 5 masked rows across the table
    assert(wave2.map(_.dataFile.recordCount).sum == 5L)

    // rows appended AFTER the vectors survive even when they match
    import s.implicits._
    table = IceWrite.append(spark, table, batch1.filter($"product_id" === 1L))
    assert(IceScan.scan(spark, table).filter(col("product_id") === 1).count() == 4)

    // deletion vectors compose with equality deletes
    table = IceWrite.appendEqualityDeletes(spark, table, Seq(4L).toDF("id"), equalityIds = Seq(1))
    assert(IceScan.scan(spark, table).count() == 4)
  }

  test("DV read path is a broadcast FILTER (no anti-join); fallback path agrees") {
    implicit val s: SparkSession = spark
    val cat = freshCatalog()
    var table = cat.createTable(TableIdent(Seq("test"), "dvplan"), ordersSchema, daySpec)
    table = IceWrite.append(spark, table, batch1)
    table = IceWrite.appendDeletionVectors(spark, table, col("product_id") === 1)

    val plan = IceScan.scan(spark, table).queryExecution.executedPlan.toString
    assert(!plan.contains("LeftAnti"),
      s"DV-only positional layer must not plan an anti-join:\n$plan")
    assert(plan.toLowerCase.contains("dvdeleted"),
      s"expected the dvdeleted filter in the plan:\n$plan")

    // parquet positional deletes on an identical table ride the same
    // filter under the gate, and anti-join past it
    var table2 = cat.createTable(TableIdent(Seq("test"), "dvplan2"), ordersSchema, daySpec)
    table2 = IceWrite.append(spark, table2, batch1)
    table2 = IceWrite.appendPositionDeletes(spark, table2, col("product_id") === 1)
    val plan2 = IceScan.scan(spark, table2).queryExecution.executedPlan.toString
    assert(!plan2.contains("LeftAnti") && plan2.toLowerCase.contains("dvdeleted"),
      s"parquet positional deletes mask through the dvdeleted filter:\n$plan2")
    spark.conf.set("spark.graft.delete.broadcast-threshold", "0")
    try assert(IceScan.scan(spark, table2).queryExecution.executedPlan.toString.contains("LeftAnti"),
      "parquet positional deletes anti-join past the gate")
    finally spark.conf.unset("spark.graft.delete.broadcast-threshold")

    // past the broadcast gate the fallback decodes DISTRIBUTED and
    // anti-joins — bit-identical result set
    val expected = IceScan.scan(spark, table).select("id").collect().map(_.getLong(0)).sorted.toSeq
    spark.conf.set("spark.graft.delete.broadcast-threshold", "0")
    try {
      val fb = IceScan.scan(spark, table)
      val fbPlan = fb.queryExecution.executedPlan.toString
      assert(fbPlan.contains("LeftAnti"), "fallback uses the anti-join shape")
      assert(fb.select("id").collect().map(_.getLong(0)).sorted.toSeq == expected)
    } finally spark.conf.unset("spark.graft.delete.broadcast-threshold")
  }

  test("a malformed delete broadcast threshold fails naming the key and the value") {
    val key = "spark.graft.delete.broadcast-threshold"
    for (v <- Seq("64MB", "-1", "1.5")) {
      spark.conf.set(key, v)
      try {
        val msg = intercept[IllegalArgumentException](
          IceScan.deleteFitsBroadcast(spark, 1L)).getMessage
        assert(msg.contains(key) && msg.contains(s"'$v'"), msg)
      } finally spark.conf.unset(key)
    }
    spark.conf.set(key, "0")
    try assert(!IceScan.deleteFitsBroadcast(spark, 1L) && IceScan.deleteFitsBroadcast(spark, 0L))
    finally spark.conf.unset(key)
    assert(IceScan.deleteFitsBroadcast(spark, 16L << 20) && !IceScan.deleteFitsBroadcast(spark, (16L << 20) + 1))
  }

  test("convertPositionDeletesToDVs folds parquet positions (and old DVs) into vectors") {
    implicit val s: SparkSession = spark
    val cat = freshCatalog()
    var table = cat.createTable(TableIdent(Seq("test"), "dvconv"), ordersSchema, daySpec)
    table = IceWrite.append(spark, table, batch1)
    // mixed carriers: a parquet positional wave AND a DV wave
    table = IceWrite.appendPositionDeletes(spark, table, col("id").isin(1L, 4L))
    table = IceWrite.appendDeletionVectors(spark, table, col("id") === 2L)
    assert(IceScan.scan(spark, table).select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(3L, 5L, 6L))

    val (before, after, vectorized) = Maintenance.convertPositionDeletesToDVs(spark, table)
    assert(before >= 1, "at least one parquet positional file before")
    assert(vectorized == 2L, "two parquet positions folded")
    table = table.refresh()
    val snap = table.currentSnapshot(None).get
    val remainingParquetPos = table.entries(snap).filter(e =>
      e.dataFile.content == ContentPositionDeletes && e.dataFile.fileFormat != FormatPuffin)
    assert(remainingParquetPos.isEmpty, "no parquet positional files survive the conversion")
    assert(after == dvEntries(table).size)
    assert(dvEntries(table).groupBy(_.dataFile.referencedDataFile.get).values.forall(_.size == 1))
    // result set unchanged
    assert(IceScan.scan(spark, table).select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(3L, 5L, 6L))
    // plan is now the pure filter shape
    val plan = IceScan.scan(spark, table).queryExecution.executedPlan.toString
    assert(!plan.contains("LeftAnti"), s"post-conversion plan must not anti-join:\n$plan")
  }

  test("snapshot expiration keeps a puffin file while ANY live DV references it") {
    implicit val s: SparkSession = spark
    val cat = freshCatalog()
    var table = cat.createTable(TableIdent(Seq("test"), "dvexp"), ordersSchema, daySpec)
    table = IceWrite.append(spark, table, batch1)
    // wave 1 vectors BOTH data files into puffin P1
    table = IceWrite.appendDeletionVectors(spark, table, col("id").isin(1L, 4L))
    val p1 = dvEntries(table).map(_.dataFile.filePath).distinct
    assert(p1.size == 1)
    // wave 2 merges only file A's vector into P2 — file B's DV entry still
    // points INTO P1, so P1 must survive expiration of the older snapshots
    table = IceWrite.appendDeletionVectors(spark, table, col("id") === 2L)
    table = Maintenance.expireSnapshots(spark, table, keepLast = 1)
    assert(new java.io.File(new java.net.URI(
      graft.spark.IceScan.qualifiedPath(spark.sparkContext.hadoopConfiguration, p1.head))
      .getPath).exists(), "P1 still referenced by the live file-B vector")
    assert(IceScan.scan(spark, table).select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(3L, 5L, 6L))
    // wave 3 merges file B's vector too — P1 leaves the live snapshot and
    // the next expiration physically removes it (path-level liveness: all
    // entries of one puffin file share its path)
    table = IceWrite.appendDeletionVectors(spark, table, col("id") === 5L)
    table = Maintenance.expireSnapshots(spark, table, keepLast = 1)
    assert(!new java.io.File(new java.net.URI(
      graft.spark.IceScan.qualifiedPath(spark.sparkContext.hadoopConfiguration, p1.head))
      .getPath).exists(), "P1 unreferenced after wave 3 — expiration removes it")
    assert(IceScan.scan(spark, table).select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(3L, 6L))
  }

  test("manifest round-trips the V3 DV fields; pre-DV manifests still read") {
    implicit val s: SparkSession = spark
    val cat = freshCatalog()
    var table = cat.createTable(TableIdent(Seq("test"), "dvmanifest"), ordersSchema, daySpec)
    table = IceWrite.append(spark, table, batch1)
    table = IceWrite.appendDeletionVectors(spark, table, col("id") === 1L)
    // force a cold re-read of every manifest: the Avro layer must yield the
    // same optional fields back
    graft.table.ManifestIO.clearCachesForTesting()
    val entries = dvEntries(table.refresh())
    assert(entries.size == 1)
    val d = entries.head.dataFile
    assert(d.fileFormat == FormatPuffin && d.content == ContentPositionDeletes)
    assert(d.referencedDataFile.isDefined && d.contentOffset.isDefined &&
      d.contentSizeInBytes.isDefined)
    assert(d.recordCount == 1L)
    // the blob is readable straight from the manifest coordinates
    val bm = Puffin.dvFromBlob(Puffin.readBlobRange(
      spark.sparkContext.hadoopConfiguration, d.filePath, d.contentOffset.get,
      d.contentSizeInBytes.get))
    assert(bm.cardinality == 1L)
  }
}
