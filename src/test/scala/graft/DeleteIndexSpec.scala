package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan, Union}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{FileCatalog, TableIdent}
import graft.spark.{IceMV, IceScan, IceWrite}
import graft.spark.expressions.DeleteCache
import graft.spec._
import graft.table.IceTable
import graft.table.ManifestModel._

/** Merge-on-read through the executor-side delete index: the index path,
  * the anti-join path past the broadcast gate and a row model agree bit
  * for bit, and the read plan stays one data scan however many delete
  * commits the table holds. */
class DeleteIndexSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .appName("delete-index-spec").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val Threshold = "spark.graft.delete.broadcast-threshold"

  private def newCatalog(): FileCatalog =
    new FileCatalog(java.nio.file.Files.createTempDirectory("delidx").toString)

  private def pastGate[A](body: => A): A = {
    spark.conf.set(Threshold, "0")
    try body finally spark.conf.unset(Threshold)
  }

  /** A row rendered exactly: doubles by their raw bits, so -0.0, 0.0 and
    * NaN payloads all stay apart. */
  private def exact(r: Row): String = r.toSeq.map {
    case d: Double => s"d${java.lang.Double.doubleToRawLongBits(d)}"
    case x => String.valueOf(x)
  }.mkString("|")

  private def rowsOf(df: DataFrame): Seq[String] = df.collect().map(exact).sorted.toSeq

  /** An equality delete of `keys` on the columns at `cols`, committed at `seq`. */
  private final case class Del(cols: Seq[Int], keys: Seq[Seq[Any]], seq: Long)

  /** Spark's key equality: null-safe, NaN equals NaN, -0.0 equals 0.0. */
  private def sameKey(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (null, _) | (_, null) => false
    case (x: Double, y: Double) => (x.isNaN && y.isNaN) || x == y
    case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.compareTo(y) == 0
    case (x, y) => x == y
  }

  /** The spec's rule on plain rows: a row written at data sequence `seq`
    * is gone iff a delete with a greater sequence number names its key. */
  private def model(rows: Seq[(Row, Long)], dels: Seq[Del]): Seq[String] =
    rows.filterNot { case (r, seq) =>
      dels.exists(d => d.seq > seq && d.keys.exists(k =>
        d.cols.zip(k).forall { case (c, v) => sameKey(r.get(c), v) }))
    }.map(r => exact(r._1)).sorted

  private def seqOf(t: IceTable): Long = t.currentSnapshot(None).get.sequenceNumber

  private val keysSchema = IceSchema(0, Seq(
    NestedField(1, "id", required = false, IceType.LongT),
    NestedField(2, "p", required = false, IceType.IntT),
    NestedField(3, "d", required = false, IceType.DoubleT),
    NestedField(4, "s", required = false, IceType.StringT),
    NestedField(5, "dt", required = false, IceType.DateT),
    NestedField(6, "dec", required = false, IceType.DecimalT(10, 2))))

  private def keysDf(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), keysSchema.toSpark)

  private def keyRow(id: Long): Row = {
    val i = id.toInt
    val ds: Seq[Any] = Seq(Double.NaN, -0.0, 0.0, null, 1.5, 2.5, 3.5)
    val ss: Seq[Any] = Seq("a", "b", null, "c", "zz")
    val dts: Seq[Any] = Seq(java.sql.Date.valueOf("2021-03-01"), java.sql.Date.valueOf("2021-03-02"), null)
    val decs: Seq[Any] = Seq(new java.math.BigDecimal("1.10"), new java.math.BigDecimal("2.20"), null)
    Row(id, i % 2, ds(i % ds.size), ss(i % ss.size), dts(i % dts.size), decs(i % decs.size))
  }

  test("index, anti-join fallback and a row model agree bit for bit across key types and delete kinds") {
    val cat = newCatalog()
    var t = cat.createTable(TableIdent(Seq("db"), "keys"), keysSchema,
      PartitionSpec(0, Seq(PartitionField(2, 1000, "p", graft.core.Transform.Identity))))
    var rows = Seq.empty[(Row, Long)]
    var dels = Seq.empty[Del]
    def append(rs: Seq[Row]): Unit = {
      t = IceWrite.append(spark, t, keysDf(rs)); rows ++= rs.map(_ -> seqOf(t))
    }
    def delete(cols: Seq[Int], keys: Seq[Seq[Any]]): Unit = {
      val fields = cols.map(c => keysSchema.fields(c))
      val df = spark.createDataFrame(java.util.Arrays.asList(keys.map(Row.fromSeq): _*),
        StructType(fields.map(f => keysSchema.toSpark(f.name))))
      t = IceWrite.appendEqualityDeletes(spark, t, df, equalityIds = fields.map(_.id))
      dels :+= Del(cols, keys, seqOf(t))
    }
    def check(what: String, df: => DataFrame, expected: Seq[String]): Unit = {
      val indexed = rowsOf(df)
      val joined = pastGate(rowsOf(df))
      assert(indexed == expected, s"$what: index path differs from the model")
      assert(joined == expected, s"$what: anti-join path differs from the model")
    }

    append((1L to 40L).map(keyRow))
    val beforeDeletes = t.currentSnapshot(None).get.snapshotId
    // doubles: NaN, -0.0 (also masks 0.0) and null keys
    delete(Seq(2), Seq(Seq(Double.NaN), Seq(-0.0), Seq(null)))
    // strings, a second equality-id group
    delete(Seq(3), Seq(Seq("b"), Seq(null)))
    // a two-column date + decimal key, nulls included
    delete(Seq(4, 5), Seq(Seq(java.sql.Date.valueOf("2021-03-02"), new java.math.BigDecimal("2.20")),
      Seq(null, null)))
    // re-inserted keys come back newer than their deletes and survive
    append((41L to 60L).map(keyRow))
    // scoped (the key covers the partition source) and global deletes
    delete(Seq(0, 1), Seq(Seq[Any](41L, 1), Seq[Any](44L, 0), Seq[Any](45L, 1)))
    assert(t.deleteFiles(t.currentSnapshot(None).get).exists(e =>
      e.dataFile.equalityIds == Seq(1, 2) && e.dataFile.partition.exists(_._2 != null)),
      "the (id, p) delete must be partition-scoped")
    delete(Seq(0), Seq(Seq(43L), Seq(47L)))
    // data and a delete of its own key in ONE commit: same sequence number,
    // so the delete masks only the older "zz" rows
    val fresh = Seq(Row(61L, 1, 9.5, "zz", null, null), Row(62L, 0, 9.5, "zz", null, null))
    val dataFiles = IceWrite.writeDataFiles(spark, t, keysDf(fresh), t.schema)
    val delFiles = IceWrite.writeDataFiles(spark, t,
      spark.createDataFrame(java.util.Arrays.asList(Row("zz")), StructType(Seq(keysSchema.toSpark("s")))),
      t.schema.project(Seq(4)), content = ContentEqualityDeletes, equalityIds = Seq(4))
    t = t.newTransaction(None).appendData(dataFiles).appendDeletes(delFiles).commit()
    rows ++= fresh.map(_ -> seqOf(t))
    dels :+= Del(Seq(3), Seq(Seq("zz")), seqOf(t))

    val expected = model(rows, dels)
    assert(expected.size > 10 && expected.size < rows.size, s"degenerate fixture: ${expected.size} of ${rows.size}")
    check("current snapshot", IceScan.scan(spark, t), expected)
    // time travel to before the first delete sees every row it held
    check("time travel", IceScan.scan(spark, t,
      options = IceScan.ScanOptions(snapshotId = Some(beforeDeletes))),
      model(rows.filter(_._2 <= 1L), Nil))
  }

  test("a parquet position delete and a deletion vector on one data file mask together") {
    import spark.implicits._
    val cat = newCatalog()
    val schema = IceSchema(0, Seq(
      NestedField(1, "id", required = false, IceType.LongT),
      NestedField(2, "v", required = false, IceType.StringT)))
    var t = cat.createTable(TableIdent(Seq("db"), "posdv"), schema, PartitionSpec(0, Nil))
    t = IceWrite.append(spark, t, (1L to 30L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
    val data = t.dataFiles(t.currentSnapshot(None).get).map(_.dataFile.filePath)
    assert(data.size == 1)
    t = IceWrite.appendPositionDeletes(spark, t, col("id") % 3 === 0)
    t = IceWrite.appendDeletionVectors(spark, t, col("id") % 5 === 0)
    val deletes = t.deleteFiles(t.currentSnapshot(None).get)
    assert(deletes.count(_.dataFile.fileFormat == FormatPuffin) == 1 &&
      deletes.count(_.dataFile.fileFormat != FormatPuffin) == 1)
    val expected = (1L to 30L).filter(i => i % 3 != 0 && i % 5 != 0).map(i => s"$i|v$i")
    assert(rowsOf(IceScan.scan(spark, t)) == expected.sorted)
    assert(pastGate(rowsOf(IceScan.scan(spark, t))) == expected.sorted)
  }

  private def relations(p: LogicalPlan): Seq[LogicalRelation] = p.collect { case r: LogicalRelation => r }
  private def antiJoins(p: LogicalPlan): Int = p.collect { case j: Join if j.joinType == LeftAnti => j }.size
  private def unions(p: LogicalPlan): Int = p.collect { case u: Union => u }.size

  test("the read plan is one data scan for 1, 8 and 32 equality-delete commits") {
    import spark.implicits._
    val schema = IceSchema(0, Seq(
      NestedField(1, "id", required = false, IceType.LongT),
      NestedField(2, "v", required = false, IceType.LongT)))
    for (k <- Seq(1, 8, 32)) {
      val cat = newCatalog()
      var t = cat.createTable(TableIdent(Seq("db"), s"k$k"), schema, PartitionSpec(0, Nil))
      t = IceWrite.append(spark, t, (1L to 100L).map(i => (i, i * 10)).toDF("id", "v"))
      // two groups: odd commits delete by id, even ones by v
      for (i <- 1 to k)
        t = if (i % 2 == 1) IceWrite.appendEqualityDeletes(spark, t, Seq(i.toLong).toDF("id"), Seq(1))
            else IceWrite.appendEqualityDeletes(spark, t, Seq(i * 10L).toDF("v"), Seq(2))
      val groups = math.min(k, 2)
      val df = IceScan.scan(spark, t)
      val plan = df.queryExecution.optimizedPlan
      val physical = df.queryExecution.executedPlan.toString
      assert(relations(plan).size == 1 && antiJoins(plan) == 0 && unions(plan) == 0,
        s"k=$k: expected one data scan and no anti-join or union:\n$plan")
      assert(df.inputFiles.forall(f => t.dataFiles(t.currentSnapshot(None).get)
        .exists(e => IceScan.qualifiedPath(spark.sparkContext.hadoopConfiguration, e.dataFile.filePath) == f)),
        s"k=$k: a delete file is read as a relation")
      assert(physical.split('\n').count(_.contains("FileScan")) == 1 &&
        !physical.contains("BroadcastExchange") && !physical.contains("LeftAnti"),
        s"k=$k: physical plan:\n$physical")
      assert(df.count() == 100 - k)
      pastGate {
        val gated = IceScan.scan(spark, t)
        val gplan = gated.queryExecution.optimizedPlan
        assert(antiJoins(gplan) == groups && unions(gplan) == 0,
          s"k=$k: expected $groups anti-joins and no union past the gate:\n$gplan")
        assert(gated.count() == 100 - k)
      }
    }
  }

  test("a 24-refresh aggregate MV's storage scan keeps the plan size of one refresh") {
    import spark.implicits._
    val cat = newCatalog()
    val schema = IceSchema(0, Seq(
      NestedField(1, "k", required = false, IceType.LongT),
      NestedField(2, "v", required = false, IceType.LongT)))
    var src = cat.createTable(TableIdent(Seq("db"), "src"), schema, PartitionSpec(0, Nil))
    src = IceWrite.append(spark, src, Seq((1L, 1L), (2L, 2L)).toDF("k", "v"))
    val mv = TableIdent(Seq("db"), "agg")
    IceMV.create(spark, cat, mv, "SELECT k, count(*) AS n, sum(v) AS total FROM src GROUP BY k")
    assert(IceMV.refresh(spark, cat, mv).strategy == IceMV.FullOverwrite)
    def storageNodes(): (Int, Int) = {
      val storage = cat.loadTable(IceMV.storageIdent(mv)).get
      val qe = IceScan.scan(spark, storage).queryExecution
      (qe.optimizedPlan.collect { case p => p }.size, qe.sparkPlan.collect { case p => p }.size)
    }
    var atOne: (Int, Int) = null
    for (r <- 1 to 24) {
      src = IceWrite.append(spark, src.refresh(), Seq((r % 3 + 1L, r.toLong)).toDF("k", "v"))
      assert(IceMV.refresh(spark, cat, mv).strategy.isInstanceOf[IceMV.IncrementalAggregate])
      if (r == 1) atOne = storageNodes()
    }
    assert(storageNodes() == atOne, s"plan nodes at 24 refreshes ${storageNodes()} vs one refresh $atOne")
    val got = IceMV.read(spark, cat, mv).collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = IceScan.scan(spark, src.refresh()).groupBy("k").agg(count(lit(1)), sum("v"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want)
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

  test("a count() over all three delete kinds starts the jobs of a table with none, and decodes each file once") {
    import spark.implicits._
    val cat = newCatalog()
    val schema = IceSchema(0, Seq(
      NestedField(1, "id", required = false, IceType.LongT),
      NestedField(2, "v", required = false, IceType.LongT)))
    def build(name: String): IceTable = {
      val t = cat.createTable(TableIdent(Seq("db"), name), schema, PartitionSpec(0, Nil))
      IceWrite.append(spark, t, (1L to 200L).map(i => (i, i % 7)).toDF("id", "v"))
    }
    val plain = build("plain")
    var masked = build("masked")
    masked = IceWrite.appendEqualityDeletes(spark, masked, Seq(3L, 4L).toDF("v"), Seq(2))
    masked = IceWrite.appendPositionDeletes(spark, masked, col("id") === 10L)
    masked = IceWrite.appendDeletionVectors(spark, masked, col("id") === 20L)
    val kinds = masked.deleteFiles(masked.currentSnapshot(None).get)
      .map(e => (e.dataFile.content, e.dataFile.fileFormat)).toSet
    assert(kinds.size == 3, s"expected all three delete kinds: $kinds")
    val expected = (1L to 200L).count(i => i % 7 != 3 && i % 7 != 4 && i != 10 && i != 20)
    val base = jobsDuring(assert(IceScan.scan(spark, plain).count() == 200L))
    val before = DeleteCache.decodes
    val withDeletes = jobsDuring(assert(IceScan.scan(spark, masked).count() == expected))
    assert(withDeletes == base, s"deletes added jobs: $withDeletes vs $base")
    val decoded = DeleteCache.decodes - before
    assert(decoded == 3, s"expected one decode per delete file, got $decoded")
    assert(IceScan.scan(spark, masked).count() == expected)
    assert(DeleteCache.decodes - before == decoded, "a second read decoded a delete file again")
  }

  test("incremental refreshes leave the cache manager as they found it") {
    import spark.implicits._
    val cat = newCatalog()
    val orders = IceSchema(0, Seq(
      NestedField(1, "id", required = false, IceType.LongT),
      NestedField(2, "product_id", required = false, IceType.LongT),
      NestedField(3, "amount", required = false, IceType.LongT)))
    val products = IceSchema(0, Seq(
      NestedField(1, "product_id", required = false, IceType.LongT),
      NestedField(2, "name", required = false, IceType.StringT)))
    var o = cat.createTable(TableIdent(Seq("db"), "orders"), orders, PartitionSpec(0, Nil))
    var p = cat.createTable(TableIdent(Seq("db"), "products"), products, PartitionSpec(0, Nil))
    o = IceWrite.append(spark, o, Seq((1L, 1L, 5L), (2L, 2L, 3L)).toDF("id", "product_id", "amount"))
    p = IceWrite.append(spark, p, Seq((1L, "a"), (2L, "b")).toDF("product_id", "name"))
    val joined = TableIdent(Seq("db"), "joined")
    IceMV.create(spark, cat, joined,
      "SELECT o.id, p.name, o.amount FROM orders o JOIN products p ON o.product_id = p.product_id")
    val agg = TableIdent(Seq("db"), "by_product")
    IceMV.create(spark, cat, agg,
      "SELECT product_id, count(*) AS n, sum(amount) AS total FROM orders GROUP BY product_id")
    IceMV.refresh(spark, cat, joined)
    IceMV.refresh(spark, cat, agg)
    val held = org.apache.spark.sql.GraftShim.cachedEntries(spark)
    // both sources change: each delta is read by two terms of the join's delta
    o = IceWrite.append(spark, o.refresh(), Seq((3L, 1L, 7L)).toDF("id", "product_id", "amount"))
    p = IceWrite.append(spark, p.refresh(), Seq((3L, "c")).toDF("product_id", "name"))
    assert(IceMV.refresh(spark, cat, joined).strategy == IceMV.IncrementalAppend)
    assert(org.apache.spark.sql.GraftShim.cachedEntries(spark) == held, "IncrementalAppend left a cache entry")
    assert(IceMV.refresh(spark, cat, agg).strategy.isInstanceOf[IceMV.IncrementalAggregate])
    assert(org.apache.spark.sql.GraftShim.cachedEntries(spark) == held, "IncrementalAggregate left a cache entry")
    assert(IceMV.read(spark, cat, joined).count() == 3L)
  }
}
