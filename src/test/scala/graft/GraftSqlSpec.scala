package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.spark.sql.GraftExtensions

/** Pure-SQL end-to-end through the Spark catalog plugin: DDL with partition
  * transforms, INSERT append/overwrite, SELECT through the pruned scan path
  * (mirrors the reference's SQL surface, planner.rs:81-416 + README
  * examples). */
class GraftSqlSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val warehouse = Files.createTempDirectory("sqlwh").toString

  private lazy val spark = {
    // withExtensions only takes effect on a FRESH session: a lingering
    // context/default session from an earlier suite (any custom testOnly
    // order putting a stop-happy suite first) would be reused without the
    // graft extensions and every SQL test here fails with "graft reads
    // require GraftExtensions" — drop it first
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.stop())
    SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.catalog.graft", "graft.spark.sql.GraftSparkCatalog")
      .config("spark.sql.catalog.graft.warehouse", warehouse)
      .withExtensions(new GraftExtensions)
      .appName("graft-sql-spec").getOrCreate()
  }

  override def afterAll(): Unit = spark.stop()

  test("README example via pure SQL: create, insert twice, aggregate") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql(
      """CREATE TABLE graft.db.orders (
        |  id BIGINT, customer_id BIGINT, product_id BIGINT, d DATE, amount INT
        |) PARTITIONED BY (days(d))""".stripMargin)
    spark.sql(
      """INSERT INTO graft.db.orders VALUES
        |(1, 1, 1, DATE'2020-01-01', 1), (2, 2, 1, DATE'2020-01-01', 1),
        |(3, 3, 1, DATE'2020-01-01', 3), (4, 1, 2, DATE'2020-02-02', 1),
        |(5, 1, 1, DATE'2020-02-02', 2), (6, 3, 3, DATE'2020-02-02', 3)""".stripMargin)
    val r1 = spark.sql(
      "SELECT product_id, sum(amount) FROM graft.db.orders GROUP BY product_id ORDER BY product_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1 == Map(1L -> 7L, 2L -> 1L, 3L -> 3L)) // reference README.md:156-247
    spark.sql(
      """INSERT INTO graft.db.orders VALUES
        |(7, 1, 3, DATE'2020-01-03', 1), (8, 2, 1, DATE'2020-01-03', 2),
        |(9, 2, 2, DATE'2020-01-03', 1)""".stripMargin)
    val r2 = spark.sql(
      "SELECT product_id, sum(amount) FROM graft.db.orders GROUP BY product_id ORDER BY product_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r2 == Map(1L -> 9L, 2L -> 2L, 3L -> 4L))
  }

  test("a metadata-answered aggregate is EXPLAIN-visible as GraftMetadataAnswer") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("CREATE TABLE graft.db.expl (id BIGINT, lang STRING) PARTITIONED BY (lang)")
    spark.sql("INSERT INTO graft.db.expl VALUES (1,'a'), (2,'b'), (3,'a')")
    // the manifest-answered plan must NAME itself: a user reading EXPLAIN
    // can tell a metadata-answered aggregate from a constant-folded one
    val df = spark.sql("SELECT lang, count(*) AS n FROM graft.db.expl GROUP BY lang")
    val explain = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExtendedMode)
    assert(explain.contains("GraftMetadataAnswer"), explain)
    assert(df.collect().map(r => (r.getString(0), r.getLong(1))).toSet
      == Set(("a", 2L), ("b", 1L)))
    // a genuinely scanned aggregate carries no such tag
    val scanned = spark.sql("SELECT count(*) AS n FROM graft.db.expl WHERE id > 1")
    assert(!scanned.queryExecution.explainString(
      org.apache.spark.sql.execution.ExtendedMode).contains("GraftMetadataAnswer"))
    assert(scanned.head().getLong(0) == 2L)
  }

  test("filters prune partitions through SQL; predicates still exact") {
    val n = spark.sql("SELECT count(*) AS n FROM graft.db.orders WHERE d = DATE'2020-01-03'")
      .head().getLong(0)
    assert(n == 3)
  }

  test("SQL partition filter prunes data files before the parquet scan") {
    // the pruned file list is the manifest-backed file index the
    // optimizer-time rewrite injected — count it from the optimized plan
    // (IO-level gate; AQE-independent, unlike FileSourceScanExec traversal)
    def scannedFiles(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation.asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
            .location.inputFiles.length
      }.sum
    val total = scannedFiles(spark.sql("SELECT id FROM graft.db.orders"))
    val pruned = spark.sql("SELECT id FROM graft.db.orders WHERE d = DATE'2020-01-03'")
    assert(total >= 3, s"expected one file per partition day, saw $total")
    assert(scannedFiles(pruned) < total,
      s"SQL WHERE on the partition column must skip files (${scannedFiles(pruned)} vs $total)")
    assert(pruned.collect().map(_.getLong(0)).toSet == Set(7L, 8L, 9L))
  }

  test("INSERT OVERWRITE replaces content in one transaction") {
    spark.sql("CREATE TABLE graft.db.tiny (k STRING, v BIGINT)")
    spark.sql("INSERT INTO graft.db.tiny VALUES ('a', 1), ('b', 2)")
    spark.sql("INSERT OVERWRITE graft.db.tiny VALUES ('c', 3)")
    val got = spark.sql("SELECT k, v FROM graft.db.tiny").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == Set(("c", 3L)))
  }

  test("bucket + truncate transforms via SQL DDL") {
    spark.sql(
      """CREATE TABLE graft.db.bucketed (id BIGINT, name STRING)
        |PARTITIONED BY (bucket(4, id), truncate(2, name))""".stripMargin)
    spark.sql("INSERT INTO graft.db.bucketed VALUES (1, 'alpha'), (2, 'beta'), (17, 'alps')")
    assert(spark.sql("SELECT count(*) FROM graft.db.bucketed").head().getLong(0) == 3)
    // same truncate prefix + same bucket → same partition dir
    val t = new graft.catalog.FileCatalog(warehouse)
      .loadTable(graft.catalog.TableIdent(Seq("db"), "bucketed")).get
    val parts = t.dataFiles(t.currentSnapshot(None).get).map(_.dataFile.partition.toMap)
    assert(parts.forall(p => p.contains("id_bucket_4") && p.contains("name_trunc_2")))
  }

  test("VERSION AS OF time travel via SQL") {
    spark.sql("CREATE TABLE graft.db.tt (x BIGINT)")
    spark.sql("INSERT INTO graft.db.tt VALUES (1), (2)")
    val t = new graft.catalog.FileCatalog(warehouse)
      .loadTable(graft.catalog.TableIdent(Seq("db"), "tt")).get
    val snap1 = t.currentSnapshot(None).get.snapshotId
    spark.sql("INSERT INTO graft.db.tt VALUES (3)")
    assert(spark.sql("SELECT count(*) FROM graft.db.tt").head().getLong(0) == 3)
    assert(spark.sql(s"SELECT count(*) FROM graft.db.tt VERSION AS OF $snap1")
      .head().getLong(0) == 2)
  }

  test("TIMESTAMP AS OF time travel via SQL") {
    spark.sql("CREATE TABLE graft.db.tst (x BIGINT)")
    spark.sql("INSERT INTO graft.db.tst VALUES (1), (2)")
    Thread.sleep(20) // commit timestamps have ms resolution
    val between = java.time.Instant.now()
    Thread.sleep(20)
    spark.sql("INSERT INTO graft.db.tst VALUES (3)")
    // render in UTC explicitly: the literal parses in the SESSION timezone
    // (UTC here), not the JVM default
    val ts = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
      .withZone(java.time.ZoneOffset.UTC).format(between)
    assert(spark.sql(s"SELECT count(*) FROM graft.db.tst TIMESTAMP AS OF '$ts'")
      .head().getLong(0) == 2)
    spark.sql("DROP TABLE graft.db.tst")
  }

  test("V3 column defaults: ADD COLUMN DEFAULT back-fills history; SET DEFAULT only moves future writes") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("CREATE TABLE graft.db.defs (k BIGINT, v STRING)")
    spark.sql("INSERT INTO graft.db.defs VALUES (1, 'a'), (2, 'b')")
    // ADD COLUMN ... DEFAULT: pre-evolution rows read the INITIAL default,
    // not null — without rewriting a single data file
    spark.sql("ALTER TABLE graft.db.defs ADD COLUMN bonus BIGINT DEFAULT 7")
    def rows() = spark.sql("SELECT k, bonus FROM graft.db.defs ORDER BY k").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSeq
    assert(rows() == Seq(1L -> Some(7L), 2L -> Some(7L)), rows())

    spark.sql("INSERT INTO graft.db.defs VALUES (3, 'c', 30)")
    // omitting the column fills the WRITE default
    spark.sql("INSERT INTO graft.db.defs (k, v) VALUES (4, 'd')")
    // an explicit NULL written AFTER the evolution survives (the fill is
    // per-file-absence, not a blanket coalesce)
    spark.sql("INSERT INTO graft.db.defs VALUES (5, 'e', NULL)")
    // SET DEFAULT moves only the WRITE default; history (rows 1-2) stays 7
    spark.sql("ALTER TABLE graft.db.defs ALTER COLUMN bonus SET DEFAULT 9")
    spark.sql("INSERT INTO graft.db.defs (k, v) VALUES (6, 'f')")
    assert(rows() == Seq(1L -> Some(7L), 2L -> Some(7L), 3L -> Some(30L),
      4L -> Some(7L), 5L -> None, 6L -> Some(9L)), rows())
    // aggregates see the filled values
    assert(spark.sql("SELECT sum(bonus) FROM graft.db.defs").head().getLong(0) == 60L)

    // defaults round-trip the metadata JSON (fresh catalog load)
    val t = new graft.catalog.FileCatalog(warehouse)
      .loadTable(graft.catalog.TableIdent(Seq("db"), "defs")).get
    val f = t.schema.fieldByName("bonus").get
    assert(f.initialDefault == Some(7L) && f.writeDefault == Some(9L), f)

    // DROP DEFAULT clears the write default (initial stays frozen)
    spark.sql("ALTER TABLE graft.db.defs ALTER COLUMN bonus DROP DEFAULT")
    val f2 = new graft.catalog.FileCatalog(warehouse)
      .loadTable(graft.catalog.TableIdent(Seq("db"), "defs")).get
      .schema.fieldByName("bonus").get
    assert(f2.initialDefault == Some(7L) && f2.writeDefault.isEmpty, f2)

    // CREATE TABLE with a DEFAULT column (string) — insert without it fills
    spark.sql("CREATE TABLE graft.db.defs2 (k BIGINT, s STRING DEFAULT 'x''y')")
    spark.sql("INSERT INTO graft.db.defs2 (k) VALUES (1)")
    assert(spark.sql("SELECT s FROM graft.db.defs2").head().getString(0) == "x'y")
  }

  test("V3 row lineage over SQL: UPDATE preserves _row_id; CDC emits update pairs") {
    import graft.spark.IceScan
    import org.apache.spark.sql.functions.col
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("""CREATE TABLE graft.db.rl (k BIGINT, v STRING)
                |TBLPROPERTIES ('write.row-lineage.enabled'='true')""".stripMargin)
    spark.sql("INSERT INTO graft.db.rl VALUES (1, 'a'), (2, 'b'), (3, 'c'), (4, 'd')")
    def load() = new graft.catalog.FileCatalog(warehouse)
      .loadTable(graft.catalog.TableIdent(Seq("db"), "rl")).get
    val t1 = load()
    val snap1 = t1.currentSnapshot(None).get.snapshotId
    def ids(t: graft.table.IceTable) =
      IceScan.scan(spark, t, options = IceScan.ScanOptions(rowLineage = true))
        .select("k", "_row_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pre = ids(t1)
    assert(pre.values.toSeq.sorted == (0L to 3L), pre)

    // UPDATE rewrites the row into a new file but KEEPS its _row_id
    spark.sql("UPDATE graft.db.rl SET v = 'B!' WHERE k = 2")
    spark.sql("DELETE FROM graft.db.rl WHERE k = 3")
    spark.sql("INSERT INTO graft.db.rl VALUES (9, 'z')")
    val t2 = load()
    val post = ids(t2)
    assert(post(2L) == pre(2L), "UPDATE must preserve the row id")
    assert(post(9L) == 4L, "insert continues from next-row-id")
    // the rewritten row's last-updated sequence advanced past its siblings
    val seqs = IceScan.scan(spark, t2, options = IceScan.ScanOptions(rowLineage = true))
      .select("k", "_last_updated_sequence_number").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(seqs(2L) > seqs(1L), seqs)

    // CDC pairs the update by _row_id; delete/insert tag normally
    val changes = IceScan.changelogWithUpdates(spark, t2, snap1)
      .collect().map(r => (r.getString(1), r.getLong(2), r.getString(3))).toSet
    assert(changes == Set(
      ("update_before", 2L, "b"), ("update_after", 2L, "B!"),
      ("delete", 3L, "c"), ("insert", 9L, "z")), changes)
    // and the pair shares one _row_id
    val updRows = IceScan.changelogWithUpdates(spark, t2, snap1)
      .filter(col("_change_type").startsWith("update"))
      .select("_row_id").collect().map(_.getLong(0)).distinct
    assert(updRows.toSeq == Seq(pre(2L)))
  }

  test("create_changelog_view(with_updates) registers the _row_id-paired CDC view") {
    import org.apache.spark.sql.functions.col
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("""CREATE TABLE graft.db.rlv (k BIGINT, v STRING)
                |TBLPROPERTIES ('write.row-lineage.enabled'='true')""".stripMargin)
    spark.sql("INSERT INTO graft.db.rlv VALUES (1, 'a'), (2, 'b')")
    val snap1 = new graft.catalog.FileCatalog(warehouse)
      .loadTable(graft.catalog.TableIdent(Seq("db"), "rlv")).get
      .currentSnapshot(None).get.snapshotId
    spark.sql("UPDATE graft.db.rlv SET v = 'A' WHERE k = 1")
    val view = spark.sql(
      s"CALL graft.system.create_changelog_view(table => 'db.rlv', " +
        s"after_snapshot_id => ${snap1}L, with_updates => true)").head().getString(0)
    val rows = spark.table(view)
      .select(col("_change_type"), col("k"), col("v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(rows == Set(("update_before", 1L, "a"), ("update_after", 1L, "A")), rows)
  }

  test("ALTER TABLE: add, rename (id-preserving), drop, type promotion, properties") {
    spark.sql("CREATE TABLE graft.db.evo (id INT, name STRING)")
    spark.sql("INSERT INTO graft.db.evo VALUES (1, 'a'), (2, 'b')")

    // add a column: old rows read as null
    spark.sql("ALTER TABLE graft.db.evo ADD COLUMN score DOUBLE")
    spark.sql("INSERT INTO graft.db.evo VALUES (3, 'c', 1.5)")
    val withScore = spark.sql("SELECT id, score FROM graft.db.evo ORDER BY id").collect()
    assert(withScore.map(r => if (r.isNullAt(1)) None else Some(r.getDouble(1))).toSeq ==
      Seq(None, None, Some(1.5)))

    // rename: files written BEFORE the rename keep reading (field-id
    // resolution, not name) — the core rename-safety property
    spark.sql("ALTER TABLE graft.db.evo RENAME COLUMN name TO label")
    val labels = spark.sql("SELECT label FROM graft.db.evo ORDER BY id").collect().map(_.getString(0))
    assert(labels.toSeq == Seq("a", "b", "c"))

    // int -> bigint promotion; old int32 files widen on read
    spark.sql("ALTER TABLE graft.db.evo ALTER COLUMN id TYPE BIGINT")
    assert(spark.sql("SELECT sum(id) FROM graft.db.evo").head().getLong(0) == 6L)

    // drop a column
    spark.sql("ALTER TABLE graft.db.evo DROP COLUMN score")
    assert(!spark.table("graft.db.evo").columns.contains("score"))
    assert(spark.sql("SELECT count(*) FROM graft.db.evo").head().getLong(0) == 3)

    // properties round-trip
    spark.sql("ALTER TABLE graft.db.evo SET TBLPROPERTIES ('write.parquet.compression-codec'='snappy')")
    val t = new graft.catalog.FileCatalog(warehouse)
      .loadTable(graft.catalog.TableIdent(Seq("db"), "evo")).get
    assert(t.metadata.properties("write.parquet.compression-codec") == "snappy")
    spark.sql("ALTER TABLE graft.db.evo UNSET TBLPROPERTIES ('write.parquet.compression-codec')")
    val t2 = new graft.catalog.FileCatalog(warehouse)
      .loadTable(graft.catalog.TableIdent(Seq("db"), "evo")).get
    assert(!t2.metadata.properties.contains("write.parquet.compression-codec"))
  }

  test("CREATE/REFRESH MATERIALIZED VIEW via SQL; incremental after append") {
    spark.sql("CREATE TABLE graft.db.sales (k STRING, v BIGINT)")
    spark.sql("INSERT INTO graft.db.sales VALUES ('a', 1), ('a', 2), ('b', 10)")
    spark.sql(
      "CREATE MATERIALIZED VIEW graft.db.sales_mv AS SELECT k, count(*) AS n, sum(v) AS s FROM db.sales GROUP BY k")
    val r1 = spark.sql("REFRESH MATERIALIZED VIEW graft.db.sales_mv").head()
    assert(r1.getString(0) == "FullOverwrite") // first refresh materializes
    spark.sql("INSERT INTO graft.db.sales VALUES ('a', 4), ('c', 7)")
    val r2 = spark.sql("REFRESH MATERIALIZED VIEW graft.db.sales_mv").head()
    assert(r2.getString(0).startsWith("IncrementalAggregate"))
    val cat = new graft.catalog.FileCatalog(warehouse)
    val mv = graft.spark.IceMV.read(spark, cat, graft.catalog.TableIdent(Seq("db"), "sales_mv"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(mv == Set(("a", 3L, 7L), ("b", 1L, 10L), ("c", 1L, 7L)))
  }

  test("MERGE INTO: update + delete + insert in one atomic commit") {
    spark.sql("CREATE TABLE graft.db.inv (sku STRING, qty BIGINT, price DOUBLE)")
    spark.sql("INSERT INTO graft.db.inv VALUES ('a', 10, 1.0), ('b', 5, 2.0), ('c', 1, 3.0)")
    import spark.implicits._
    Seq(("a", 7L, 1.5), ("c", 0L, 0.0), ("d", 4L, 4.0)).toDF("sku", "qty", "price")
      .createOrReplaceTempView("changes")
    val stats = spark.sql(
      """MERGE INTO graft.db.inv t USING changes s ON t.sku = s.sku
        |WHEN MATCHED AND s.qty = 0 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET qty = t.qty + s.qty, price = s.price
        |WHEN NOT MATCHED THEN INSERT (sku, qty, price) VALUES (s.sku, s.qty, s.price)""".stripMargin)
      .head()
    assert((stats.getLong(0), stats.getLong(1), stats.getLong(2)) == ((1L, 1L, 1L)))
    val got = spark.sql("SELECT sku, qty, price FROM graft.db.inv ORDER BY sku").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    // a updated (10+7, new price), b untouched, c deleted, d inserted
    assert(got == Seq(("a", 17L, 1.5), ("b", 5L, 2.0), ("d", 4L, 4.0)))
    // snapshot history shows ONE commit for the whole merge
    val t = new graft.catalog.FileCatalog(warehouse)
      .loadTable(graft.catalog.TableIdent(Seq("db"), "inv")).get
    assert(t.metadata.snapshots.size == 2) // insert + merge
  }

  test("MERGE WHEN NOT MATCHED BY SOURCE updates/deletes unreferenced target rows") {
    spark.sql("CREATE TABLE graft.db.stock (sku STRING, qty BIGINT)")
    spark.sql("INSERT INTO graft.db.stock VALUES ('a', 1), ('b', 2), ('c', 3), ('d', 4)")
    import spark.implicits._
    Seq(("a", 10L)).toDF("sku", "qty").createOrReplaceTempView("fresh")
    val stats = spark.sql(
      """MERGE INTO graft.db.stock t USING fresh s ON t.sku = s.sku
        |WHEN MATCHED THEN UPDATE SET qty = s.qty
        |WHEN NOT MATCHED BY SOURCE AND t.qty > 3 THEN DELETE
        |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET qty = 0""".stripMargin).head()
    assert((stats.getLong(0), stats.getLong(1), stats.getLong(2)) == ((3L, 1L, 0L)))
    val got = spark.sql("SELECT sku, qty FROM graft.db.stock ORDER BY sku").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    // a updated from source, b/c zeroed (not matched by source), d deleted
    assert(got == Seq(("a", 10L), ("b", 0L), ("c", 0L)))
  }

  test("MERGE clause with NULL condition falls through to next clause") {
    spark.sql("CREATE TABLE graft.db.nullc (sku STRING, qty BIGINT)")
    spark.sql("INSERT INTO graft.db.nullc VALUES ('a', 1), ('b', 2)")
    import spark.implicits._
    // flag is NULL for 'a': `AND s.flag > 0` is UNKNOWN there, so the row
    // must fall through to the unconditional UPDATE, not be dropped
    Seq(("a", Option.empty[Long]), ("b", Some(1L))).toDF("sku", "flag")
      .createOrReplaceTempView("flags")
    spark.sql(
      """MERGE INTO graft.db.nullc t USING flags s ON t.sku = s.sku
        |WHEN MATCHED AND s.flag > 0 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET qty = t.qty + 100""".stripMargin)
    val got = spark.sql("SELECT sku, qty FROM graft.db.nullc ORDER BY sku").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("a", 101L))) // b deleted (flag=1), a updated via fallthrough
  }

  test("MERGE throws on cardinality violation (one target row, two source matches)") {
    spark.sql("CREATE TABLE graft.db.card (sku STRING, qty BIGINT)")
    spark.sql("INSERT INTO graft.db.card VALUES ('a', 1)")
    import spark.implicits._
    Seq(("a", 5L), ("a", 9L)).toDF("sku", "qty").createOrReplaceTempView("dupsrc")
    val e = intercept[IllegalStateException] {
      spark.sql(
        """MERGE INTO graft.db.card t USING dupsrc s ON t.sku = s.sku
          |WHEN MATCHED THEN UPDATE SET qty = s.qty""".stripMargin)
    }
    assert(e.getMessage.contains("cardinality"))
  }

  test("MERGE UPDATE SET * and INSERT * resolve source columns by name") {
    spark.sql("CREATE TABLE graft.db.star (sku STRING, qty BIGINT)")
    spark.sql("INSERT INTO graft.db.star VALUES ('a', 1), ('b', 2)")
    import spark.implicits._
    Seq(("a", 10L), ("c", 30L)).toDF("sku", "qty").createOrReplaceTempView("starsrc")
    val stats = spark.sql(
      """MERGE INTO graft.db.star t USING starsrc s ON t.sku = s.sku
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin).head()
    assert((stats.getLong(0), stats.getLong(2)) == ((1L, 1L)))
    val got = spark.sql("SELECT sku, qty FROM graft.db.star ORDER BY sku").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("a", 10L), ("b", 2L), ("c", 30L)))
  }

  test("MERGE preserves unfired target rows sharing a key with a fired row") {
    spark.sql("CREATE TABLE graft.db.dupkey (sku STRING, qty BIGINT)")
    spark.sql("INSERT INTO graft.db.dupkey VALUES ('a', 1), ('a', 2), ('b', 5)")
    import spark.implicits._
    Seq("a").toDF("sku").createOrReplaceTempView("onekey")
    // only the qty=1 sibling fires; the key-wide equality delete must not
    // swallow the qty=2 sibling that fell through every clause
    spark.sql(
      """MERGE INTO graft.db.dupkey t USING onekey s ON t.sku = s.sku
        |WHEN MATCHED AND t.qty = 1 THEN UPDATE SET qty = 100""".stripMargin)
    val got = spark.sql("SELECT sku, qty FROM graft.db.dupkey ORDER BY sku, qty").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("a", 2L), ("a", 100L), ("b", 5L)))
  }

  test("optimizer-time rewrite handles self-joins, subqueries, unions, insert-from-self") {
    spark.sql("CREATE TABLE graft.db.edge (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graft.db.edge VALUES (1, 10), (2, 20), (3, 30)")
    // self-join: two independent relation instances of the same table
    val selfJoin = spark.sql(
      """SELECT a.k, a.v, b.v AS v2 FROM graft.db.edge a
        |JOIN graft.db.edge b ON a.k = b.k - 1""".stripMargin).collect()
    assert(selfJoin.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet ==
      Set((1L, 10L, 20L), (2L, 20L, 30L)))
    // IN-subquery over the same graft table
    val sub = spark.sql(
      "SELECT k FROM graft.db.edge WHERE k IN (SELECT k - 1 FROM graft.db.edge WHERE v > 15)")
      .collect().map(_.getLong(0)).toSet
    assert(sub == Set(1L, 2L))
    // union of two filtered reads
    val uni = spark.sql(
      "SELECT k FROM graft.db.edge WHERE k = 1 UNION ALL SELECT k FROM graft.db.edge WHERE v = 30")
      .collect().map(_.getLong(0)).toSet
    assert(uni == Set(1L, 3L))
    // INSERT ... SELECT from the SAME table: read pins the pre-insert snapshot
    spark.sql("INSERT INTO graft.db.edge SELECT k + 10, v FROM graft.db.edge")
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.edge").head().getLong(0) == 6)
  }

  test("SQL DELETE masks rows via positional deletes; no data rewrite") {
    spark.sql("CREATE TABLE graft.db.dels (k BIGINT, v STRING)")
    spark.sql("INSERT INTO graft.db.dels VALUES (1, 'a'), (2, 'b'), (3, 'c'), (4, 'd')")
    val r = spark.sql("DELETE FROM graft.db.dels WHERE k % 2 = 0").collect()
    assert(r.head.getLong(0) == 2) // rows_deleted
    assert(spark.sql("SELECT k FROM graft.db.dels").collect().map(_.getLong(0)).toSet == Set(1L, 3L))
    // merge-on-read: original data files survive, only a delete file was added
    val t = new graft.catalog.FileCatalog(warehouse)
      .loadTable(graft.catalog.TableIdent(Seq("db"), "dels")).get
    val entries = t.entries(t.currentSnapshot(None).get)
    assert(entries.exists(_.dataFile.content == graft.table.ManifestModel.ContentPositionDeletes))
    // alias-qualified predicate binds too; deleting the same rows again is 0
    assert(spark.sql("DELETE FROM graft.db.dels t WHERE t.k = 100").head().getLong(0) == 0)
  }

  test("SQL DELETE under write.delete.format=puffin commits deletion vectors") {
    spark.sql("CREATE TABLE graft.db.dvdels (k BIGINT, v STRING)")
    spark.sql("ALTER TABLE graft.db.dvdels SET TBLPROPERTIES ('write.delete.format'='puffin')")
    spark.sql("INSERT INTO graft.db.dvdels VALUES (1, 'a'), (2, 'b'), (3, 'c'), (4, 'd'), (5, 'e')")
    assert(spark.sql("DELETE FROM graft.db.dvdels WHERE k % 2 = 0").head().getLong(0) == 2)
    assert(spark.sql("SELECT k FROM graft.db.dvdels").collect().map(_.getLong(0)).toSet ==
      Set(1L, 3L, 5L))
    // a second wave on the same files MERGES (one vector per data file)
    assert(spark.sql("DELETE FROM graft.db.dvdels WHERE k = 5").head().getLong(0) == 1)
    assert(spark.sql("SELECT k FROM graft.db.dvdels").collect().map(_.getLong(0)).toSet ==
      Set(1L, 3L))
    val t = new graft.catalog.FileCatalog(warehouse)
      .loadTable(graft.catalog.TableIdent(Seq("db"), "dvdels")).get
    val dels = t.entries(t.currentSnapshot(None).get)
      .filter(_.dataFile.content == graft.table.ManifestModel.ContentPositionDeletes)
    assert(dels.nonEmpty &&
      dels.forall(_.dataFile.fileFormat == graft.table.ManifestModel.FormatPuffin),
      s"every positional delete should be a puffin vector, got $dels")
    assert(dels.groupBy(_.dataFile.referencedDataFile).values.forall(_.size == 1))
    assert(dels.map(_.dataFile.recordCount).sum == 3L)
  }

  test("SQL UPDATE rewrites matched rows atomically (delete + new generation)") {
    spark.sql("CREATE TABLE graft.db.upd (k BIGINT, v BIGINT, note STRING)")
    spark.sql("INSERT INTO graft.db.upd VALUES (1, 10, 'x'), (2, 20, 'y'), (3, 30, 'z')")
    val before = new graft.catalog.FileCatalog(warehouse)
      .loadTable(graft.catalog.TableIdent(Seq("db"), "upd")).get
    val snapsBefore = before.metadata.snapshots.size
    val r = spark.sql("UPDATE graft.db.upd SET v = v * 10, note = concat(note, '!') WHERE k >= 2")
    assert(r.head().getLong(0) == 2) // rows_updated
    val got = spark.sql("SELECT k, v, note FROM graft.db.upd ORDER BY k").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getString(2)))
    assert(got.toSeq == Seq((1L, 10L, "x"), (2L, 200L, "y!"), (3L, 300L, "z!")))
    // one transaction: exactly one new snapshot holds both delete + data files
    val after = new graft.catalog.FileCatalog(warehouse)
      .loadTable(graft.catalog.TableIdent(Seq("db"), "upd")).get
    assert(after.metadata.snapshots.size == snapsBefore + 1)
    // updating an updated row composes (reads through the MoR mask)
    spark.sql("UPDATE graft.db.upd SET v = v + 1 WHERE k = 2")
    assert(spark.sql("SELECT v FROM graft.db.upd WHERE k = 2").head().getLong(0) == 201L)
    // a typo'd SET target must error, not silently rewrite unchanged rows
    val e = intercept[IllegalArgumentException] {
      spark.sql("UPDATE graft.db.upd SET vv = 0 WHERE k = 1")
    }
    assert(e.getMessage.contains("vv"))
  }

  test("native expressions are SQL functions: dotq, iceberg_bucket") {
    assert(spark.sql("SELECT dotq(array(1L, 2L, 3L), array(4L, 5L, 6L)) AS d")
      .head().getLong(0) == 32L)
    // parity with the programmatic transform kernel
    val viaSql = spark.sql("SELECT iceberg_bucket(8, CAST(42 AS BIGINT)) AS b").head().getInt(0)
    assert(viaSql == graft.spark.expressions.BucketKernel.bucketLong(42L, 8))
  }

  test("metadata tables: snapshots, history, files, manifests, refs via SQL") {
    spark.sql("CREATE TABLE graft.db.meta (k BIGINT, v STRING)")
    spark.sql("INSERT INTO graft.db.meta VALUES (1, 'a')")
    spark.sql("INSERT INTO graft.db.meta VALUES (2, 'b')")
    val snaps = spark.sql(
      "SELECT snapshot_id, parent_id, sequence_number, operation FROM graft.db.meta.snapshots ORDER BY sequence_number")
      .collect()
    assert(snaps.length == 2)
    assert(snaps(0).isNullAt(1) && snaps(1).getLong(1) == snaps(0).getLong(0)) // parent chain
    assert(snaps.forall(_.getString(3) == "append"))
    val hist = spark.sql("SELECT snapshot_id, is_current_ancestor FROM graft.db.meta.history").collect()
    assert(hist.length == 2 && hist.forall(_.getBoolean(1)))
    val files = spark.sql(
      "SELECT file_path, record_count FROM graft.db.meta.files WHERE content = 0").collect()
    assert(files.length == 2 && files.map(_.getLong(1)).sum == 2)
    // readable per-column metrics decoded from the stats bytes
    val metrics = spark.sql(
      "SELECT lower_bounds, upper_bounds, null_value_counts FROM graft.db.meta.files WHERE content = 0 ORDER BY file_path")
      .collect()
    assert(metrics.exists(r => r.getString(0).contains("k=1") && r.getString(0).contains("v=a")),
      metrics.map(_.getString(0)).mkString("; "))
    assert(metrics.forall(r => r.getString(2).contains("k=0")),
      metrics.map(_.getString(2)).mkString("; "))
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.meta.manifests").head().getLong(0) >= 1)
    val refs = spark.sql("SELECT name, type FROM graft.db.meta.refs").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(refs.contains(("main", "branch")))
    // filters compose with metadata relations like any other
    val latest = spark.sql(
      "SELECT max(snapshot_id) FROM graft.db.meta.snapshots WHERE sequence_number = 2").head().getLong(0)
    assert(latest == snaps(1).getLong(0))
    // entries: the raw MoR surface — a DELETE adds a content=1 entry whose
    // sequence number exceeds the masked data entries'
    spark.sql("DELETE FROM graft.db.meta WHERE k = 1")
    val entries = spark.sql(
      "SELECT content, sequence_number FROM graft.db.meta.entries ORDER BY sequence_number")
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(entries.count(_._1 == 1) == 1, entries.mkString(","))
    assert(entries.filter(_._1 == 1).head._2 > entries.filter(_._1 == 0).map(_._2).max)
    // all_data_files spans every snapshot (DATA files only): snapshot 1
    // references 1 file, snapshot 2 and the delete snapshot reference 2;
    // the delete file itself lives in all_delete_files / all_files
    val all = spark.sql(
      """SELECT reference_snapshot_id, count(*) AS n
        |FROM graft.db.meta.all_data_files GROUP BY 1 ORDER BY n""".stripMargin)
      .collect().map(_.getLong(1))
    assert(all.toSeq == Seq(1L, 2L, 2L), all.mkString(","))
    assert(spark.sql("SELECT count(*) FROM graft.db.meta.all_delete_files")
      .head().getLong(0) == 1)
    assert(spark.sql("SELECT count(*) FROM graft.db.meta.all_files").head().getLong(0) == 6)
    assert(spark.sql("SELECT count(DISTINCT path) FROM graft.db.meta.all_manifests")
      .head().getLong(0) >=
      spark.sql("SELECT count(*) FROM graft.db.meta.manifests").head().getLong(0))
    // metadata_log_entries: one row per superseded metadata version, the
    // newest carrying the pre-delete snapshot as its latest
    val log = spark.sql(
      "SELECT file, latest_snapshot_id FROM graft.db.meta.metadata_log_entries ORDER BY timestamp")
      .collect()
    assert(log.length >= 3, s"expected >=3 metadata log rows, got ${log.length}")
    assert(log.head.isNullAt(1), "creation-time metadata has no snapshot")
  }

  test("rewrite_data_files binpacks small files, keeps history and MoR safety") {
    spark.sql("""CREATE TABLE graft.db.binp (k BIGINT, grp STRING)
                |PARTITIONED BY (grp)""".stripMargin)
    // partition a: 3 small files; partition b: 1 file (untouched)
    spark.sql("INSERT INTO graft.db.binp VALUES (1, 'a'), (10, 'b')")
    spark.sql("INSERT INTO graft.db.binp VALUES (2, 'a')")
    spark.sql("INSERT INTO graft.db.binp VALUES (3, 'a')")
    val cat = new graft.catalog.FileCatalog(warehouse)
    def t = cat.loadTable(graft.catalog.TableIdent(Seq("db"), "binp")).get
    val preSnap = t.metadata.currentSnapshotId.get
    val bPath = t.entries(t.currentSnapshot(None).get)
      .map(_.dataFile).find(_.partition.exists(p => p._2 == "b")).get.filePath
    val r = spark.sql("CALL graft.system.rewrite_data_files(`table` => 'db.binp')").head()
    assert(r.getLong(0) == 4 && r.getLong(1) == 2, s"binpack summary: $r")
    // partition b's file survived byte-identical (same path, not rewritten)
    val after = t
    val afterFiles = after.entries(after.currentSnapshot(None).get).map(_.dataFile)
    assert(afterFiles.map(_.filePath).contains(bPath), "untouched partition must keep its file")
    // data intact, history still readable at the pre-compaction snapshot
    assert(spark.sql("SELECT sum(k) FROM graft.db.binp").head().getLong(0) == 16)
    assert(spark.sql(s"SELECT count(*) FROM graft.db.binp VERSION AS OF $preSnap")
      .head().getLong(0) == 4)
    // a second run is a no-op (nothing left to binpack)
    val r2 = spark.sql("CALL graft.system.rewrite_data_files(`table` => 'db.binp')").head()
    assert(r2.getLong(0) == 2 && r2.getLong(1) == 2, s"idempotent summary: $r2")
    // CDC across the rewrite window is NET EMPTY: the rewritten files enter
    // at a new sequence number but carry only old rows — the changelog must
    // not re-emit them as inserts (the append-only fast path is op-gated)
    spark.sql(
      s"""CALL graft.system.create_changelog_view(`table` => 'db.binp',
         |after_snapshot_id => $preSnap, view_name => 'binp_w')""".stripMargin)
    assert(spark.sql("SELECT count(*) FROM binp_w").head().getLong(0) == 0,
      "binpack rewrite must produce no changelog events")
    // MoR tables refuse (deletes must be folded by full compact first)
    spark.sql("DELETE FROM graft.db.binp WHERE k = 2")
    val e = intercept[Exception](
      spark.sql("CALL graft.system.rewrite_data_files(`table` => 'db.binp')"))
    assert(e.getMessage.contains("compact"), e.getMessage)
    spark.sql("DROP TABLE graft.db.binp")
  }

  test("rewrite_position_delete_files consolidates DELETE residue via SQL") {
    spark.sql("CREATE TABLE graft.db.pdrw (k BIGINT, v STRING)")
    spark.sql("INSERT INTO graft.db.pdrw VALUES (1, 'a'), (2, 'b'), (3, 'c'), (4, 'd')")
    // three row-level DELETEs → three positional delete files
    spark.sql("DELETE FROM graft.db.pdrw WHERE k = 1")
    spark.sql("DELETE FROM graft.db.pdrw WHERE k = 2")
    spark.sql("DELETE FROM graft.db.pdrw WHERE k = 3")
    def posFiles = spark.sql(
      "SELECT count(*) FROM graft.db.pdrw.entries WHERE content = 1 AND status != 2")
      .head().getLong(0)
    assert(posFiles == 3, s"expected 3 delete files, saw $posFiles")
    val r = spark.sql(
      "CALL graft.system.rewrite_position_delete_files(`table` => 'db.pdrw')").head()
    assert(r.getLong(0) == 3 && r.getLong(1) == 1 && r.getLong(2) == 0, s"summary: $r")
    assert(posFiles == 1, s"expected 1 consolidated delete file, saw $posFiles")
    assert(spark.sql("SELECT k FROM graft.db.pdrw").collect().map(_.getLong(0)).toSeq == Seq(4L))
    spark.sql("DROP TABLE graft.db.pdrw")
  }

  test("convert_equality_deletes collapses MERGE residue to positional masks via SQL") {
    spark.sql("CREATE TABLE graft.db.ceq (k BIGINT, v STRING)")
    spark.sql("INSERT INTO graft.db.ceq VALUES (1, 'a'), (2, 'b'), (3, 'c'), (4, 'd')")
    // MERGE writes an equality-delete file for the matched keys
    spark.sql("CREATE OR REPLACE TEMP VIEW ceq_src AS SELECT * FROM VALUES " +
      "(1, 'a2'), (5, 'e') AS s(k, v)")
    spark.sql("""MERGE INTO graft.db.ceq t USING ceq_src s ON t.k = s.k
      |WHEN MATCHED THEN UPDATE SET v = s.v
      |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""".stripMargin)
    def delFiles(content: Int) = spark.sql(
      s"SELECT count(*) FROM graft.db.ceq.entries WHERE content = $content AND status != 2")
      .head().getLong(0)
    assert(delFiles(2) >= 1, "MERGE must leave equality-delete residue")
    val r = spark.sql(
      "CALL graft.system.convert_equality_deletes(`table` => 'db.ceq')").head()
    assert(r.getLong(0) >= 1 && r.getLong(2) >= 1, s"summary: $r")
    assert(delFiles(2) == 0, "equality residue must be gone")
    assert(delFiles(1) == r.getLong(1), "positional tree must match the summary")
    // semantics preserved: updated row shows the merged value, k=5 inserted
    assert(spark.sql("SELECT k, v FROM graft.db.ceq ORDER BY k").collect()
      .map(row => (row.getLong(0), row.getString(1))).toSeq ==
      Seq((1L, "a2"), (2L, "b"), (3L, "c"), (4L, "d"), (5L, "e")))
    spark.sql("DROP TABLE graft.db.ceq")
  }

  test("ancestors_of and create_changelog_view procedures") {
    spark.sql("CREATE TABLE graft.db.lineage (k BIGINT, v STRING)")
    spark.sql("INSERT INTO graft.db.lineage VALUES (1, 'a')")
    spark.sql("INSERT INTO graft.db.lineage VALUES (2, 'b')")
    spark.sql("INSERT INTO graft.db.lineage VALUES (3, 'c')")
    val anc = spark.sql("CALL graft.system.ancestors_of(`table` => 'db.lineage')")
      .collect().map(_.getLong(0))
    assert(anc.length == 3, s"expected 3 ancestors, got ${anc.length}")
    // newest first, each row's parent is the next row
    val cat = new graft.catalog.FileCatalog(warehouse)
    val t = cat.loadTable(graft.catalog.TableIdent(Seq("db"), "lineage")).get
    assert(anc.head == t.metadata.currentSnapshotId.get)
    // pinning to the middle snapshot lists only its chain
    assert(spark.sql(
      s"CALL graft.system.ancestors_of(`table` => 'db.lineage', snapshot_id => ${anc(1)})")
      .collect().length == 2)
    // changelog view over (first, current]: rows 2 and 3 as inserts
    val first = anc.last
    val vn = spark.sql(
      s"CALL graft.system.create_changelog_view(`table` => 'db.lineage', after_snapshot_id => $first)")
      .head().getString(0)
    assert(vn == "lineage_changes")
    val changes = spark.sql(s"SELECT k, _change_type FROM $vn ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(changes == Seq((2L, "insert"), (3L, "insert")), changes.mkString(","))
    // a delete makes the next window produce a 'delete' row
    val mid = t.metadata.currentSnapshotId.get
    spark.sql("DELETE FROM graft.db.lineage WHERE k = 1")
    spark.sql(
      s"""CALL graft.system.create_changelog_view(`table` => 'db.lineage',
         |after_snapshot_id => $mid, view_name => 'del_window')""".stripMargin)
    val dels = spark.sql("SELECT k, _change_type FROM del_window").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(dels == Seq((1L, "delete")), dels.mkString(","))
    // rollback_to_timestamp: the second snapshot's commit time restores k<=2
    val midTs = t.metadata.snapshots(anc(1)).timestampMs
    spark.sql(
      s"CALL graft.system.rollback_to_timestamp(`table` => 'db.lineage', timestamp_ms => $midTs)")
    assert(spark.sql("SELECT count(*) FROM graft.db.lineage").head().getLong(0) == 2)
    spark.sql("DROP TABLE graft.db.lineage")
  }

  test("SHOW TABLES and DROP TABLE work") {
    spark.sql("CREATE TABLE graft.db.ephemeral (x INT)")
    val tables = spark.sql("SHOW TABLES IN graft.db").collect().map(_.getString(1)).toSet
    assert(tables.contains("ephemeral"))
    spark.sql("DROP TABLE graft.db.ephemeral")
    val after = spark.sql("SHOW TABLES IN graft.db").collect().map(_.getString(1)).toSet
    assert(!after.contains("ephemeral"))
  }

  test("MERGE with pruned target scan: untouched-partition rows fully preserved") {
    spark.sql("""CREATE TABLE graft.db.mprune (k BIGINT, grp STRING, v BIGINT)
                |PARTITIONED BY (grp)""".stripMargin)
    spark.sql("""INSERT INTO graft.db.mprune VALUES
                |(1, 'a', 10), (2, 'a', 20), (100, 'b', 1000), (200, 'b', 2000)""".stripMargin)
    // source touches only keys 1..2 (partition 'a'); the bounds-pruned
    // target scan must not lose partition 'b' rows, matched siblings, or
    // the not-matched insert
    spark.sql("SELECT * FROM VALUES (2, 'a', 21), (3, 'a', 31) AS s(k, grp, v)")
      .createOrReplaceTempView("mprune_src")
    spark.sql("""MERGE INTO graft.db.mprune t USING mprune_src s ON t.k = s.k
                |WHEN MATCHED THEN UPDATE SET v = s.v
                |WHEN NOT MATCHED THEN INSERT (k, grp, v) VALUES (s.k, s.grp, s.v)""".stripMargin)
    val rows = spark.sql("SELECT k, grp, v FROM graft.db.mprune ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(rows == Seq((1L, "a", 10L), (2L, "a", 21L), (3L, "a", 31L),
      (100L, "b", 1000L), (200L, "b", 2000L)))
    spark.sql("DROP TABLE graft.db.mprune")
  }

  test("plain views over SQL: CREATE VIEW, SELECT inlines current data, OR REPLACE versions, DROP") {
    spark.sql("CREATE TABLE graft.db.vsrc (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graft.db.vsrc VALUES (1, 10), (2, 20)")
    spark.sql("CREATE VIEW graft.db.v_doubled AS SELECT k, v * 2 AS v2 FROM vsrc")
    // the view reads CURRENT data at each query (D5)
    assert(spark.sql("SELECT sum(v2) FROM graft.db.v_doubled").head().getLong(0) == 60)
    spark.sql("INSERT INTO graft.db.vsrc VALUES (3, 30)")
    assert(spark.sql("SELECT sum(v2) FROM graft.db.v_doubled").head().getLong(0) == 120)
    // views compose with ordinary SQL (join back against the base table)
    val joined = spark.sql(
      """SELECT t.k, t.v, w.v2 FROM graft.db.vsrc t
        |JOIN graft.db.v_doubled w ON t.k = w.k ORDER BY t.k""".stripMargin).collect()
    assert(joined.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((1L, 10L, 20L), (2L, 20L, 40L), (3L, 30L, 60L)))
    // OR REPLACE appends a metadata version and changes the definition
    spark.sql("CREATE OR REPLACE VIEW graft.db.v_doubled AS SELECT k, v * 3 AS v2 FROM vsrc")
    assert(spark.sql("SELECT sum(v2) FROM graft.db.v_doubled").head().getLong(0) == 180)
    val cat = new graft.catalog.FileCatalog(warehouse)
    val vm = cat.loadView(graft.catalog.TableIdent(Seq("db"), "v_doubled")).get
    assert(vm.currentVersionId == 2L && vm.versionLog.map(_.versionId) == Seq(1L, 2L))
    spark.sql("DROP VIEW graft.db.v_doubled")
    assert(cat.loadView(graft.catalog.TableIdent(Seq("db"), "v_doubled")).isEmpty)
    spark.sql("DROP TABLE graft.db.vsrc")
  }

  test("CTAS and REPLACE TABLE AS SELECT, plain and partitioned") {
    spark.sql("CREATE TABLE graft.db.ctas AS SELECT id, id * 2 AS v FROM range(10)")
    assert(spark.table("graft.db.ctas").count() == 10)
    // RTAS swaps schema and content
    spark.sql("REPLACE TABLE graft.db.ctas AS SELECT id, CAST(id AS STRING) AS s FROM range(5)")
    val replaced = spark.table("graft.db.ctas")
    assert(replaced.columns.toSeq == Seq("id", "s") && replaced.count() == 5)
    // partitioned CTAS: transform survives into the table's spec and writes
    spark.sql(
      """CREATE TABLE graft.db.pctas PARTITIONED BY (bucket(4, id))
        |AS SELECT id, id * 3 AS v FROM range(20)""".stripMargin)
    assert(spark.table("graft.db.pctas").count() == 20)
    val cat = new graft.catalog.FileCatalog(warehouse)
    val t = cat.loadTable(graft.catalog.TableIdent(Seq("db"), "pctas")).get
    assert(t.spec.fields.map(_.transform) == Seq(graft.core.Transform.Bucket(4)))
    spark.sql("DROP TABLE graft.db.ctas")
    spark.sql("DROP TABLE graft.db.pctas")
  }

  test("DESCRIBE EXTENDED reports manifest-exact statistics without data IO") {
    spark.sql("CREATE TABLE graft.db.dstats (k BIGINT, v STRING)")
    spark.sql("INSERT INTO graft.db.dstats VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    val rows = spark.sql("DESCRIBE EXTENDED graft.db.dstats").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows.contains("k") && rows.contains("v"))
    // DescribeTableExec asks the DSv2 scan for estimateStatistics — served
    // from the manifests (exact rows + bytes), not a data scan
    val stats = rows.getOrElse("Statistics", "")
    assert(stats.contains("3 rows"), s"expected manifest row count in: $stats")
    // DESCRIBE also works on metadata tables and views (the same
    // DescribeTableExec stats probe hits their scan builders)
    assert(spark.sql("DESCRIBE EXTENDED graft.db.dstats.snapshots").collect().nonEmpty)
    spark.sql("CREATE VIEW graft.db.dstats_v AS SELECT k FROM dstats")
    assert(spark.sql("DESCRIBE EXTENDED graft.db.dstats_v").collect().nonEmpty)
    spark.sql("DROP VIEW graft.db.dstats_v")
    spark.sql("DROP TABLE graft.db.dstats")
  }

  test("SHOW PARTITIONS lists manifest-derived partition tuples") {
    spark.sql(
      """CREATE TABLE graft.db.showp (k BIGINT, lang STRING, d DATE)
        |PARTITIONED BY (lang, days(d))""".stripMargin)
    spark.sql(
      """INSERT INTO graft.db.showp VALUES
        |(1, 'en', DATE'2024-01-01'), (2, 'en', DATE'2024-01-02'),
        |(3, 'fr', DATE'2024-01-01')""".stripMargin)
    // day-transform values surface as epoch-day ordinals — the transform's
    // Iceberg result type is int (reference types.rs:454), same as the
    // manifest representation (2024-01-01 = day 19723)
    val parts = spark.sql("SHOW PARTITIONS graft.db.showp")
      .collect().map(_.getString(0)).toSet
    assert(parts == Set(
      "lang=en/d_day=19723", "lang=en/d_day=19724", "lang=fr/d_day=19723"),
      s"unexpected partitions: $parts")
    // mutation surface rejects: partitions are data-derived
    val e = intercept[Exception](
      spark.sql("ALTER TABLE graft.db.showp DROP PARTITION (lang='en', d_day=19723)"))
    assert(e.getMessage.contains("derived from data"))
    spark.sql("DROP TABLE graft.db.showp")
  }

  test("CALL procedures: expire_snapshots, compact, rollback_to_snapshot, zorder") {
    spark.sql("CREATE TABLE graft.db.proc (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graft.db.proc VALUES (1, 10)")
    spark.sql("INSERT INTO graft.db.proc VALUES (2, 20)")
    spark.sql("INSERT INTO graft.db.proc VALUES (3, 30)")
    val cat = new graft.catalog.FileCatalog(warehouse)
    def t = cat.loadTable(graft.catalog.TableIdent(Seq("db"), "proc")).get
    // commit order = sequence order (snapshot IDs themselves are random)
    val snaps = t.metadata.snapshots.values.toSeq.sortBy(_.sequenceNumber).map(_.snapshotId)

    // rollback: second snapshot's state becomes current
    val rb = spark.sql(
      s"CALL graft.system.rollback_to_snapshot(`table` => 'db.proc', snapshot_id => ${snaps(1)})")
      .head()
    assert(rb.getLong(1) == snaps(1))
    assert(spark.table("graft.db.proc").count() == 2)
    // roll forward again
    spark.sql(s"CALL graft.system.rollback_to_snapshot(`table` => 'db.proc', snapshot_id => ${snaps(2)})")
    assert(spark.table("graft.db.proc").count() == 3)

    // compact: three single-row files become one balanced set
    val c = spark.sql("CALL graft.system.compact(`table` => 'db.proc')").head()
    assert(c.getLong(0) == 3 && c.getLong(1) < 3, s"compact: $c")
    assert(spark.table("graft.db.proc").count() == 3)

    // expire: compaction's replace left a single snapshot lineage; after two
    // more appends, retain_last = 1 expires the rest
    spark.sql("INSERT INTO graft.db.proc VALUES (4, 40)")
    spark.sql("INSERT INTO graft.db.proc VALUES (5, 50)")
    val e = spark.sql(
      "CALL graft.system.expire_snapshots(`table` => 'db.proc', retain_last => 1)").head()
    assert(e.getLong(1) == 1, s"expected one remaining snapshot: $e")
    assert(spark.table("graft.db.proc").count() == 5)

    // zorder compaction through SQL; content intact, files clustered
    val z = spark.sql(
      "CALL graft.system.compact_zorder(`table` => 'db.proc', columns => 'k,v')").head()
    assert(z.getLong(1) >= 1)
    assert(spark.sql("SELECT sum(v) FROM graft.db.proc").head().getLong(0) == 150)

    // discovery surface
    val procs = spark.sql("SHOW PROCEDURES IN graft.system").collect()
    assert(procs.length == graft.spark.sql.GraftProcedures.names.size, procs.mkString(", "))
    spark.sql("DROP TABLE graft.db.proc")
  }

  test("add_files imports external parquet in place; reads resolve by name") {
    import org.apache.spark.sql.functions._
    // external data WITHOUT parquet field ids, flat layout
    val ext = warehouse + "/external_flat"
    spark.range(10).select(col("id"), (col("id") * 7).as("v"))
      .repartition(2).write.mode("overwrite").parquet(ext)
    spark.sql("CREATE TABLE graft.db.imported (id BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graft.db.imported VALUES (100, 700)")
    val r = spark.sql(
      s"CALL graft.system.add_files(`table` => 'db.imported', source_dir => '$ext')").head()
    assert(r.getLong(0) >= 1 && r.getLong(1) == 10, s"add_files summary: $r")
    // imported files lack field ids → the name-mapped scan must read VALUES,
    // not nulls; the native pre-import row must still be there too
    val rows = spark.sql("SELECT id, v FROM graft.db.imported ORDER BY id").collect()
    assert(rows.length == 11)
    assert(rows.take(10).forall(x => x.getLong(1) == x.getLong(0) * 7), rows.mkString(","))
    assert(rows.last.getLong(0) == 100 && rows.last.getLong(1) == 700)
    // native writes after import also read fine (mixed file population)
    spark.sql("INSERT INTO graft.db.imported VALUES (200, 1400)")
    assert(spark.sql("SELECT count(*) FROM graft.db.imported").head().getLong(0) == 12)
    assert(spark.sql("SELECT sum(v) FROM graft.db.imported").head().getLong(0)
      == (0 until 10).map(_ * 7).sum + 700 + 1400)
    // rename is rejected on a name-mapped table
    val e = intercept[Exception](
      spark.sql("ALTER TABLE graft.db.imported RENAME COLUMN v TO w"))
    assert(e.getMessage.contains("name-mapped"), e.getMessage)
    spark.sql("DROP TABLE graft.db.imported")
  }

  test("create_tag, create_branch, drop_ref procedures manage snapshot refs") {
    spark.sql("CREATE TABLE graft.db.refproc (k BIGINT)")
    spark.sql("INSERT INTO graft.db.refproc VALUES (1)")
    spark.sql("INSERT INTO graft.db.refproc VALUES (2)")
    val cat = new graft.catalog.FileCatalog(warehouse)
    def t = cat.loadTable(graft.catalog.TableIdent(Seq("db"), "refproc")).get
    val firstSnap = t.metadata.snapshots.values.toSeq.sortBy(_.sequenceNumber).head.snapshotId
    spark.sql(s"CALL graft.system.create_tag(`table` => 'db.refproc', name => 'v1', snapshot_id => $firstSnap)")
    spark.sql("CALL graft.system.create_branch(`table` => 'db.refproc', name => 'dev')")
    val refs = spark.sql("SELECT name, type, snapshot_id FROM graft.db.refproc.refs").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(refs.exists(r => r._1 == "v1" && r._2 == "tag" && r._3 == firstSnap), refs)
    assert(refs.exists(r => r._1 == "dev" && r._2 == "branch"), refs)
    // time travel by ref NAME: the tag pins the one-row first snapshot
    assert(spark.sql("SELECT count(*) FROM graft.db.refproc VERSION AS OF 'v1'")
      .head().getLong(0) == 1)
    // the tag protects its snapshot from expiration
    spark.sql("CALL graft.system.expire_snapshots(`table` => 'db.refproc', retain_last => 1)")
    assert(t.snapshotById(firstSnap).isDefined, "tagged snapshot must survive expiration")
    spark.sql("CALL graft.system.drop_ref(`table` => 'db.refproc', name => 'v1')")
    assert(!t.metadata.refs.contains("v1"))
    // digits-only ref names stay reachable: VERSION AS OF tries refs first,
    // so tag '123' must not be misread as a snapshot-id lookup
    spark.sql(s"CALL graft.system.create_tag(`table` => 'db.refproc', name => '123', snapshot_id => $firstSnap)")
    assert(spark.sql("SELECT count(*) FROM graft.db.refproc VERSION AS OF '123'")
      .head().getLong(0) == 1)
    // ref creation is validated at COMMIT time, not just against the loaded
    // copy: a second create of the same name racing the first must conflict
    val m = t.metadata
    intercept[graft.catalog.CommitConflictException] {
      cat.updateTable(graft.catalog.CommitTable(t.ident,
        Seq(graft.catalog.TableRequirement.AssertRefSnapshotId("123", None)),
        Seq(graft.catalog.TableUpdate.SetSnapshotRef("123", m.currentSnapshotId.get, "tag"))))
    }
    // a ref can never dangle: pointing at a snapshot that does not exist
    // (e.g. concurrently expired) conflicts at apply time
    intercept[graft.catalog.CommitConflictException] {
      cat.updateTable(graft.catalog.CommitTable(t.ident,
        Seq(graft.catalog.TableRequirement.AssertRefSnapshotId("ghost", None)),
        Seq(graft.catalog.TableUpdate.SetSnapshotRef("ghost", 987654321L, "tag"))))
    }
    spark.sql("DROP TABLE graft.db.refproc")
  }

  test("branch_/tag_ identifiers: branch writes isolate from main; tags are read-only") {
    spark.sql("CREATE TABLE graft.db.brt (k BIGINT)")
    spark.sql("INSERT INTO graft.db.brt VALUES (1), (2)")
    spark.sql("CALL graft.system.create_branch(`table` => 'db.brt', name => 'dev')")
    spark.sql("CALL graft.system.create_tag(`table` => 'db.brt', name => 'v1')")
    // write to the branch: main stays put, the branch sees both generations
    spark.sql("INSERT INTO graft.db.brt.branch_dev VALUES (3), (4)")
    assert(spark.sql("SELECT count(*) FROM graft.db.brt").head().getLong(0) == 2)
    assert(spark.sql("SELECT sum(k) FROM graft.db.brt.branch_dev").head().getLong(0) == 10)
    // tag pins the creation-time state and rejects writes
    assert(spark.sql("SELECT count(*) FROM graft.db.brt.tag_v1").head().getLong(0) == 2)
    val e = intercept[Exception](spark.sql("INSERT INTO graft.db.brt.tag_v1 VALUES (9)"))
    assert(e.getMessage.contains("read-only"), e.getMessage)
    // writing to main afterwards does not disturb the branch
    spark.sql("INSERT INTO graft.db.brt VALUES (5)")
    assert(spark.sql("SELECT sum(k) FROM graft.db.brt.branch_dev").head().getLong(0) == 10)
    assert(spark.sql("SELECT sum(k) FROM graft.db.brt").head().getLong(0) == 8)
    spark.sql("DROP TABLE graft.db.brt")
  }

  test("ALTER TABLE ADD/DROP PARTITION FIELD evolves the spec; mixed layouts read and prune") {
    def scannedFiles(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation.asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
            .location.inputFiles.length
      }.sum
    spark.sql(
      """CREATE TABLE graft.db.specevo (k BIGINT, lang STRING, d DATE)
        |PARTITIONED BY (lang)""".stripMargin)
    spark.sql(
      """INSERT INTO graft.db.specevo VALUES
        |(1, 'en', DATE'2024-01-01'), (2, 'fr', DATE'2024-02-01')""".stripMargin)
    spark.sql("ALTER TABLE graft.db.specevo ADD PARTITION FIELD days(d)")
    spark.sql(
      """INSERT INTO graft.db.specevo VALUES
        |(3, 'en', DATE'2024-03-01'), (4, 'fr', DATE'2024-04-01')""".stripMargin)
    val cat = new graft.catalog.FileCatalog(warehouse)
    def t = cat.loadTable(graft.catalog.TableIdent(Seq("db"), "specevo")).get
    assert(t.spec.fields.map(_.name) == Seq("lang", "d_day"))
    // every row from both layouts reads
    assert(spark.sql("SELECT sum(k) FROM graft.db.specevo").head().getLong(0) == 10)
    // pruning still works per spec: a lang filter prunes across BOTH layouts
    val all = scannedFiles(spark.sql("SELECT k FROM graft.db.specevo"))
    val byLang = scannedFiles(spark.sql("SELECT k FROM graft.db.specevo WHERE lang = 'en'"))
    assert(byLang < all, s"lang filter should prune files ($byLang vs $all)")
    // a d filter prunes new-layout files; old-layout files are kept (their
    // manifests cannot prove absence) — never LOST
    val byDay = spark.sql("SELECT k FROM graft.db.specevo WHERE d = DATE'2024-03-01'")
    assert(byDay.collect().map(_.getLong(0)).toSeq == Seq(3L))
    // DROP returns to the original spec; the reused field keeps its id
    spark.sql("ALTER TABLE graft.db.specevo DROP PARTITION FIELD d_day")
    assert(t.spec.fields.map(_.name) == Seq("lang"))
    assert(t.metadata.partitionSpecs.size == 3) // original, +day, back
    spark.sql("INSERT INTO graft.db.specevo VALUES (5, 'en', DATE'2024-05-01')")
    assert(spark.sql("SELECT sum(k) FROM graft.db.specevo").head().getLong(0) == 15)
    // manifest rewrite on a MIXED-spec table: foreign-spec manifests carry
    // over untouched (their partition records cannot be re-encoded)
    spark.sql("CALL graft.system.rewrite_manifests(`table` => 'db.specevo')")
    assert(spark.sql("SELECT sum(k) FROM graft.db.specevo").head().getLong(0) == 15)
    spark.sql("DROP TABLE graft.db.specevo")
  }

  test("write-audit-publish: branch write, audit, fast_forward main") {
    spark.sql("CREATE TABLE graft.db.wap (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graft.db.wap VALUES (1, 10)")
    spark.sql("CALL graft.system.create_branch(`table` => 'db.wap', name => 'staging')")
    // WRITE: new data lands on the branch only
    spark.sql("INSERT INTO graft.db.wap.branch_staging VALUES (2, 20), (3, 30)")
    assert(spark.sql("SELECT count(*) FROM graft.db.wap").head().getLong(0) == 1)
    // AUDIT: validate the staged state through plain SQL
    assert(spark.sql("SELECT sum(v) FROM graft.db.wap.branch_staging").head().getLong(0) == 60)
    // PUBLISH: fast-forward main atomically
    val r = spark.sql(
      "CALL graft.system.fast_forward(`table` => 'db.wap', branch => 'main', to => 'staging')").head()
    assert(r.getString(0) == "main")
    assert(spark.sql("SELECT sum(v) FROM graft.db.wap").head().getLong(0) == 60)
    // a DIVERGED branch refuses to fast-forward (not an ancestor)
    spark.sql("INSERT INTO graft.db.wap VALUES (4, 40)") // main moves ahead
    spark.sql("INSERT INTO graft.db.wap.branch_staging VALUES (5, 50)") // staging diverges
    val e = intercept[Exception](spark.sql(
      "CALL graft.system.fast_forward(`table` => 'db.wap', branch => 'main', to => 'staging')"))
    assert(e.getMessage.contains("not a fast-forward"), e.getMessage)
    spark.sql("DROP TABLE graft.db.wap")
  }

  test("register_table attaches an existing table to a second catalog without data movement") {
    spark.sql("CREATE TABLE graft.db.regsrc (k BIGINT, v STRING)")
    spark.sql("INSERT INTO graft.db.regsrc VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    val mdPath = new java.io.File(s"$warehouse/db/regsrc/metadata").listFiles()
      .filter(_.getName.endsWith(".metadata.json")).map(_.getAbsolutePath).sorted.last
    val wh2 = Files.createTempDirectory("regwh2").toString
    spark.conf.set("spark.sql.catalog.graft2", "graft.spark.sql.GraftSparkCatalog")
    spark.conf.set("spark.sql.catalog.graft2.warehouse", wh2)
    val row = spark.sql(s"CALL graft2.system.register_table(`table` => 'db.regsrc', " +
      s"metadata_location => '$mdPath')").head()
    assert(row.getLong(1) >= 1, "registered table must report its data files")
    // full read through the NEW catalog — zero files were copied
    assert(spark.sql("SELECT sum(k) FROM graft2.db.regsrc").head().getLong(0) == 6)
    // the pointers are independent after registration: a write through the
    // second catalog is invisible to the first
    spark.sql("INSERT INTO graft2.db.regsrc VALUES (4, 'd')")
    assert(spark.sql("SELECT count(*) FROM graft2.db.regsrc").head().getLong(0) == 4)
    assert(spark.sql("SELECT count(*) FROM graft.db.regsrc").head().getLong(0) == 3)
    // double registration is rejected
    intercept[Exception](spark.sql(
      s"CALL graft2.system.register_table(`table` => 'db.regsrc', metadata_location => '$mdPath')"))
    spark.sql("DROP TABLE graft.db.regsrc")
  }

  test("cherrypick_snapshot publishes staged appends onto main") {
    spark.sql("CREATE TABLE graft.db.cherry (k BIGINT)")
    spark.sql("INSERT INTO graft.db.cherry VALUES (1)")
    val cat = new graft.catalog.FileCatalog(warehouse)
    def t = cat.loadTable(graft.catalog.TableIdent(Seq("db"), "cherry")).get
    spark.sql("CALL graft.system.create_branch(`table` => 'db.cherry', name => 'audit')")
    spark.sql("INSERT INTO graft.db.cherry.branch_audit VALUES (2)")
    val staged = t.metadata.refs("audit").snapshotId
    // staged parent IS the current head → publish is a pointer move
    val r1 = spark.sql(s"CALL graft.system.cherrypick_snapshot(`table` => 'db.cherry', " +
      s"snapshot_id => $staged)").head()
    assert(r1.getLong(1) == staged)
    assert(spark.sql("SELECT sum(k) FROM graft.db.cherry").head().getLong(0) == 3)
    // diverge: stage more branch work, then advance main independently
    spark.sql("INSERT INTO graft.db.cherry.branch_audit VALUES (3)")
    val staged2 = t.metadata.refs("audit").snapshotId
    spark.sql("INSERT INTO graft.db.cherry VALUES (10)")
    assert(!t.metadata.currentSnapshotId.contains(staged2))
    val r2 = spark.sql(s"CALL graft.system.cherrypick_snapshot(`table` => 'db.cherry', " +
      s"snapshot_id => $staged2)").head()
    // re-appended as a NEW snapshot — history is not rewritten
    assert(r2.getLong(0) == staged2 && r2.getLong(1) != staged2)
    assert(spark.sql("SELECT sum(k) FROM graft.db.cherry").head().getLong(0) == 16)
    // a RETRIED cherry-pick must reject, not duplicate rows: the pointer-
    // moved snapshot is in main's ancestry, the re-appended one is recorded
    // in source-snapshot-id provenance
    for (sid <- Seq(staged, staged2)) {
      val dup = intercept[Exception](spark.sql(
        s"CALL graft.system.cherrypick_snapshot(`table` => 'db.cherry', snapshot_id => $sid)"))
      assert(dup.getMessage.contains("already been applied"), dup.getMessage)
    }
    assert(spark.sql("SELECT sum(k) FROM graft.db.cherry").head().getLong(0) == 16)
    // a non-append snapshot on a diverged head is rejected: UPDATE makes an
    // overwrite snapshot; roll main back, diverge it, then try to replay
    spark.sql("UPDATE graft.db.cherry SET k = 100 WHERE k = 10")
    val overwriteSnap = t.metadata.currentSnapshotId.get
    val priorSnap = t.snapshotById(overwriteSnap).get.parentSnapshotId.get
    spark.sql(s"CALL graft.system.rollback_to_snapshot(`table` => 'db.cherry', snapshot_id => $priorSnap)")
    spark.sql("INSERT INTO graft.db.cherry VALUES (20)") // diverge past the rollback
    val e = intercept[Exception](spark.sql(
      s"CALL graft.system.cherrypick_snapshot(`table` => 'db.cherry', snapshot_id => $overwriteSnap)"))
    assert(e.getMessage.contains("append"), e.getMessage)
    spark.sql("DROP TABLE graft.db.cherry")
  }

  test("ALTER TABLE WRITE ORDERED BY installs a sort order that tightens file bounds") {
    spark.sql("CREATE TABLE graft.db.wsort (id BIGINT, v BIGINT)")
    spark.sql("ALTER TABLE graft.db.wsort WRITE ORDERED BY id DESC NULLS LAST")
    val cat = new graft.catalog.FileCatalog(warehouse)
    def t = cat.loadTable(graft.catalog.TableIdent(Seq("db"), "wsort")).get
    val o = t.metadata.sortOrders(t.metadata.defaultSortOrderId)
    assert(o.fields.map(f => (f.sourceId, f.direction, f.nullOrder)) ==
      Seq((1, "desc", "nulls-last")))
    // clustered write: disjoint per-file id ranges under the sorted path
    spark.range(1, 1001).selectExpr("id", "id AS v").createOrReplaceTempView("wsrc")
    spark.sql("INSERT INTO graft.db.wsort SELECT * FROM wsrc")
    assert(spark.sql("SELECT count(*) FROM graft.db.wsort").head().getLong(0) == 1000)
    spark.sql("ALTER TABLE graft.db.wsort WRITE UNORDERED")
    assert(t.metadata.sortOrders(t.metadata.defaultSortOrderId).fields.isEmpty)
    spark.sql("DROP TABLE graft.db.wsort")
  }

  test("rewrite_manifests and compute_stats: metadata-only commits, MoR preserved") {
    spark.sql("CREATE TABLE graft.db.rman (k BIGINT, v BIGINT)")
    (1 to 5).foreach(i => spark.sql(s"INSERT INTO graft.db.rman VALUES ($i, ${i * 10})"))
    spark.sql("DELETE FROM graft.db.rman WHERE k = 2") // MoR positional delete
    assert(spark.sql("SELECT sum(v) FROM graft.db.rman").head().getLong(0) == 130)
    val cat = new graft.catalog.FileCatalog(warehouse)
    def t = cat.loadTable(graft.catalog.TableIdent(Seq("db"), "rman")).get
    val dataPaths = t.dataFiles(t.currentSnapshot(None).get).map(_.dataFile.filePath).toSet

    val r = spark.sql("CALL graft.system.rewrite_manifests(`table` => 'db.rman')").head()
    assert(r.getLong(1) <= r.getLong(0), s"rewrite summary: $r")
    // SAME data files, fresh manifests, delete still masks row 2 (sequence
    // numbers survived the rewrite), history intact
    assert(t.dataFiles(t.currentSnapshot(None).get).map(_.dataFile.filePath).toSet == dataPaths)
    assert(spark.sql("SELECT sum(v) FROM graft.db.rman").head().getLong(0) == 130)
    assert(t.metadata.snapshots.size >= 7) // nothing expired

    val s = spark.sql("CALL graft.system.compute_stats(`table` => 'db.rman')").head()
    assert(s.getLong(0) == 5, s"files_updated: $s")
    val ndvs = t.dataFiles(t.currentSnapshot(None).get).map(_.dataFile.distinctCounts)
    assert(ndvs.forall(_.nonEmpty), "every data file should carry NDVs")
    assert(spark.sql("SELECT sum(v) FROM graft.db.rman").head().getLong(0) == 130)
    spark.sql("DROP TABLE graft.db.rman")
  }

  test("remove_orphan_files deletes failed-write leftovers, keeps live data") {
    spark.sql("CREATE TABLE graft.db.orph (k BIGINT)")
    spark.sql("INSERT INTO graft.db.orph VALUES (1), (2)")
    spark.sql("INSERT INTO graft.db.orph VALUES (3)")
    // plant a stale staged file — a crashed write's leftover
    val stray = new java.io.File(s"$warehouse/db/orph/data/00000000-dead-beef/part-0.parquet")
    stray.getParentFile.mkdirs()
    java.nio.file.Files.write(stray.toPath, Array[Byte](1, 2, 3))
    stray.setLastModified(System.currentTimeMillis() - 10 * 60 * 1000)
    // catalog-internal CAS artifacts are NOT orphans even when old: deleting
    // a version lock would let a stale committer re-claim that version
    val metaDir = new java.io.File(s"$warehouse/db/orph/metadata")
    val lock = metaDir.listFiles().filter(_.getName.endsWith(".version.lock")).head
    val staged = new java.io.File(metaDir, "99999-feed.metadata.json.tmp")
    java.nio.file.Files.write(staged.toPath, Array[Byte](7))
    Seq(lock, staged).foreach(_.setLastModified(System.currentTimeMillis() - 10 * 60 * 1000))
    val r = spark.sql(
      "CALL graft.system.remove_orphan_files(`table` => 'db.orph', older_than_ms => 60000)").head()
    assert(r.getLong(0) == 1 && r.getLong(1) == 3, s"orphan summary: $r")
    assert(!stray.exists)
    assert(lock.exists && staged.exists, "catalog CAS files must survive orphan cleanup")
    staged.delete()
    // live data intact, and BOTH snapshots still read (history untouched)
    assert(spark.sql("SELECT count(*) FROM graft.db.orph").head().getLong(0) == 3)
    val cat = new graft.catalog.FileCatalog(warehouse)
    val first = cat.loadTable(graft.catalog.TableIdent(Seq("db"), "orph")).get
      .metadata.snapshots.values.toSeq.sortBy(_.sequenceNumber).head.snapshotId
    assert(spark.sql(s"SELECT count(*) FROM graft.db.orph VERSION AS OF $first")
      .head().getLong(0) == 2)
    spark.sql("DROP TABLE graft.db.orph")
  }

  test("ALTER TABLE RENAME TO moves the catalog pointer, not the data") {
    spark.sql("CREATE TABLE graft.db.rnsrc (k BIGINT, v STRING)")
    spark.sql("INSERT INTO graft.db.rnsrc VALUES (1, 'a'), (2, 'b')")
    val dataFilesBefore = new java.io.File(s"$warehouse/db/rnsrc/data").listFiles().toSet
    spark.sql("ALTER TABLE graft.db.rnsrc RENAME TO db.rndst")
    // old name is gone from catalog + listings; new name reads the same rows
    intercept[Exception](spark.sql("SELECT * FROM graft.db.rnsrc").collect())
    assert(!spark.sql("SHOW TABLES IN graft.db").collect().map(_.getString(1)).contains("rnsrc"))
    assert(spark.sql("SELECT sum(k) FROM graft.db.rndst").head().getLong(0) == 3)
    // zero data movement: files still under the ORIGINAL location
    assert(new java.io.File(s"$warehouse/db/rnsrc/data").listFiles().toSet == dataFilesBefore)
    // writes after the rename land at the original location too, and read back
    spark.sql("INSERT INTO graft.db.rndst VALUES (3, 'c')")
    assert(spark.sql("SELECT sum(k) FROM graft.db.rndst").head().getLong(0) == 6)
    // destination collision is rejected
    spark.sql("CREATE TABLE graft.db.rnother (k BIGINT)")
    val e = intercept[Exception](spark.sql("ALTER TABLE graft.db.rndst RENAME TO db.rnother"))
    assert(e.getMessage.contains("already exists"), e.getMessage)
    spark.sql("DROP TABLE graft.db.rnother")
    spark.sql("DROP TABLE graft.db.rndst")
  }

  test("partitions metadata table rolls up live files per partition") {
    spark.sql(
      """CREATE TABLE graft.db.pmeta (k BIGINT, grp STRING)
        |PARTITIONED BY (grp)""".stripMargin)
    spark.sql("INSERT INTO graft.db.pmeta VALUES (1, 'a'), (2, 'a'), (3, 'b')")
    spark.sql("INSERT INTO graft.db.pmeta VALUES (4, 'a')")
    val rows = spark.sql(
      """SELECT partition, record_count, file_count FROM graft.db.pmeta.partitions
        |ORDER BY partition""".stripMargin).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    assert(rows.toSeq == Seq(("{grp=a}", 3L, 2), ("{grp=b}", 1L, 1)), rows.mkString(", "))
    spark.sql("DROP TABLE graft.db.pmeta")
  }

  test("pipeline operators are SQL-reachable: q24/q47/q98/q99 parity") {
    import org.apache.spark.sql.functions._
    import graft.pipeline.{Dedup, TrainingSet, UrlOps}
    val sfDir = "/root/testdata/sf0.001"
    assume(new java.io.File(sfDir).isDirectory, s"$sfDir not present")
    Tables.documents(spark, sfDir).createOrReplaceTempView("documents_v")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq

    // q24: near-dup pairs — pure SQL vs the Scala API, hash-equal
    val sqlPairs = spark.sql(
      "SELECT * FROM minhash_pairs('documents_v', 'doc_id', 'text', 0.5) ORDER BY id_a, id_b")
    val apiPairs = Dedup.minhashNearDups(Tables.documents(spark, sfDir),
      "doc_id", "text", threshold = 0.5).orderBy("id_a", "id_b")
    assert(rows(sqlPairs) == rows(apiPairs))
    assert(sqlPairs.count() > 0, "parity is vacuous on an empty pair set")

    // q47: duplicate clusters
    val sqlClus = spark.sql(
      "SELECT cluster_id, id AS doc_id FROM dup_clusters('documents_v', 'doc_id', 'text', 0.5) " +
        "ORDER BY cluster_id, doc_id")
    val apiClus = Dedup.dupClusters(Dedup.minhashNearDups(
        Tables.documents(spark, sfDir), "doc_id", "text", threshold = 0.5))
      .select(col("cluster_id"), col("id").as("doc_id"))
      .orderBy("cluster_id", "doc_id")
    assert(rows(sqlClus) == rows(apiClus))
    assert(sqlClus.count() > 0)

    // q98: leakage-free split
    val sqlSplit = spark.sql(
      "SELECT doc_id, group_id, split FROM " +
        "leakage_split('documents_v', 'doc_id', 'text', 0.5, 0.8, 0.1, 0.1) ORDER BY doc_id")
    val apiSplit = TrainingSet.leakageFreeSplit(Tables.documents(spark, sfDir),
        Dedup.minhashNearDups(Tables.documents(spark, sfDir), "doc_id", "text",
          threshold = 0.5),
        "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select(col("doc_id"), col("group_id"), col("split")).orderBy("doc_id")
    assert(rows(sqlSplit) == rows(apiSplit))

    // q119: unicode-script profile — row-equal to the Scala API
    val sqlScript = spark.sql(
      "SELECT * FROM script_profile('documents_v', 'doc_id', 'text') ORDER BY doc_id")
    val apiScript = graft.pipeline.TextOps.scriptProfile(
        Tables.documents(spark, sfDir), "doc_id", "text").orderBy("doc_id")
    assert(rows(sqlScript) == rows(apiScript))
    assert(sqlScript.count() > 0)

    // q116: temperature resampling — row-equal to the Scala API, and the
    // SQL surface must reproduce the upsampling epochs, not just the rows
    val sqlTemp = spark.sql(
      """SELECT lang, epoch, count(1) AS n_kept, sum(doc_id) AS id_sum
        |FROM temperature_mix('documents_v', 'doc_id', 'lang', 0.5D, 4.0D)
        |GROUP BY lang, epoch ORDER BY lang, epoch""".stripMargin)
    val apiTemp = TrainingSet.temperatureMix(
        Tables.documents(spark, sfDir), "doc_id", "lang")
      .groupBy(col("lang"), col("epoch"))
      .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum"))
      .orderBy("lang", "epoch")
    assert(rows(sqlTemp) == rows(apiTemp))
    assert(sqlTemp.count() > 0)

    // q99: per-domain quota cap, composed ENTIRELY in SQL from the scalar
    // URL functions + quality_score + cap_per_group (the fixture URL frame
    // is the only Scala-side input — the operators are what's under test)
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), UrlOps.syntheticUrl(col("doc_id")).as("url"))
      .createOrReplaceTempView("urls_v")
    spark.sql("CREATE OR REPLACE TEMP VIEW dom_v AS " +
      "SELECT doc_id, registrable_domain(host_of(canonical_url(url))) AS domain FROM urls_v")
    spark.sql("CREATE OR REPLACE TEMP VIEW scored_v AS " +
      "SELECT d.doc_id, d.domain, q.quality FROM dom_v d " +
      "JOIN quality_score('documents_v', 'doc_id', 'text') q ON d.doc_id = q.doc_id")
    val sqlCap = spark.sql(
      """SELECT domain, count(1) AS n_kept, sum(doc_id) AS kept_id_sum,
        |       min(quality) AS cutoff_quality
        |FROM cap_per_group('scored_v', 'domain', 'quality', 'doc_id', 100)
        |GROUP BY domain ORDER BY domain""".stripMargin)
    val apiCap = SparkEntry.queries("q99_domain_cap")(spark, sfDir)
    assert(rows(sqlCap) == rows(apiCap))
    assert(sqlCap.count() > 0)
  }

  test("dedup/tokenizer TVFs are SQL-reachable and parity-equal to the Scala API") {
    import graft.pipeline.{BpeOps, Dedup}
    val sfDir = "/root/testdata/sf0.001"
    assume(new java.io.File(sfDir).isDirectory, s"$sfDir not present")
    Tables.documents(spark, sfDir).createOrReplaceTempView("documents_v")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq

    assert(rows(spark.sql(
      "SELECT * FROM jaccard_join('documents_v', 'doc_id', 'text', 1, 2) ORDER BY id_a, id_b"))
      == rows(Dedup.jaccardJoinExact(Tables.documents(spark, sfDir), "doc_id", "text",
        tNum = 1, tDen = 2).orderBy("id_a", "id_b")))

    assert(rows(spark.sql(
      "SELECT * FROM containment_join('documents_v', 'doc_id', 'text', 10, 1, 5) " +
        "ORDER BY src_id, sup_id"))
      == rows(Dedup.containmentJoin(Tables.documents(spark, sfDir), "doc_id", "text",
        maxDf = 10, tNum = 1, tDen = 5).orderBy("src_id", "sup_id")))

    assert(rows(spark.sql(
      "SELECT * FROM simhash_pairs('documents_v', 'doc_id', 'text', 1) ORDER BY id_a, id_b"))
      == rows(Dedup.simhashNearDups(
        Dedup.simhash16(Tables.documents(spark, sfDir), "doc_id", "text"),
        "doc_id", maxHamming = 1).orderBy("id_a", "id_b")))

    assert(rows(spark.sql(
      "SELECT * FROM exact_clusters('documents_v', 'doc_id', 'text') ORDER BY content_hash"))
      == rows(Dedup.exactClusters(Tables.documents(spark, sfDir), "doc_id", "text")
        .orderBy("content_hash")))

    val merges = BpeOps.train(Tables.documents(spark, sfDir), "text", 32)
    assert(rows(spark.sql(
      "SELECT * FROM bpe_token_counts('documents_v', 'doc_id', 'text', 32) ORDER BY doc_id"))
      == rows(BpeOps.tokenCounts(Tables.documents(spark, sfDir), "doc_id", "text", merges)
        .orderBy("doc_id")))

    val model = BpeOps.trainModel(Tables.documents(spark, sfDir), "text", 32)
    assert(rows(spark.sql(
      "SELECT * FROM pack_token_ids('documents_v', 'doc_id', 'text', 'source', 32, 512, 2) " +
        "ORDER BY source, bucket, pack_id"))
      == rows(BpeOps.packTokenIds(Tables.documents(spark, sfDir), "doc_id", "text",
        "source", model, 512, 2).orderBy("source", "bucket", "pack_id")))

    // byte-level mode: parity with the Scala API AND the zero-unk guarantee
    // holds through the SQL surface
    locally {
      import org.apache.spark.sql.functions.{col, size, sum, filter => afilter}
      val byteModel = BpeOps.trainModelBytes(Tables.documents(spark, sfDir), "text", 32)
      val sqlBytes = spark.sql(
        "SELECT * FROM bpe_byte_token_counts('documents_v', 'doc_id', 'text', 32) ORDER BY doc_id")
      assert(rows(sqlBytes)
        == rows(BpeOps.withTokenIdsBytes(
            Tables.documents(spark, sfDir).select(col("doc_id"), col("text")),
            "text", byteModel, "__tok")
          .select(col("doc_id"),
            size(col("__tok")).cast("long").as("n_bpe_tokens"),
            size(afilter(col("__tok"), x => x === 0)).cast("long").as("n_unk"))
          .orderBy("doc_id")))
      assert(sqlBytes.agg(sum(col("n_unk"))).collect()(0).getLong(0) == 0L)
    }

    // unigram-LM mode: parity with the Scala API AND the training-corpus
    // zero-unk guarantee holds through the SQL surface
    locally {
      import org.apache.spark.sql.functions.{col, sum}
      val uniModel = graft.pipeline.UnigramOps.trainModel(
        Tables.documents(spark, sfDir), "text", 128)
      val sqlUni = spark.sql(
        "SELECT * FROM unigram_token_counts('documents_v', 'doc_id', 'text', 128) ORDER BY doc_id")
      assert(rows(sqlUni)
        == rows(graft.pipeline.UnigramOps.tokenCounts(
            Tables.documents(spark, sfDir), "doc_id", "text", uniModel)
          .orderBy("doc_id")))
      assert(sqlUni.agg(sum(col("n_unk"))).collect()(0).getLong(0) == 0L)
    }
  }

  test("similarity-search TVFs are SQL-reachable and parity-equal to the Scala API") {
    import graft.pipeline.Embeddings
    import org.apache.spark.sql.functions.col
    val sfDir = "/root/testdata/sf0.001"
    assume(new java.io.File(sfDir).isDirectory, s"$sfDir not present")
    Tables.embeddings(spark, sfDir).createOrReplaceTempView("embeddings_v")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq
    def prep = Embeddings.prepare(Tables.embeddings(spark, sfDir), "vec_id", "embedding")

    assert(rows(spark.sql(
      "SELECT * FROM ann_brute('embeddings_v', 'vec_id', 'embedding', 3, 'vec_id < 10') " +
        "ORDER BY query_id, rnk"))
      == rows(Embeddings.bruteForceTopK(prep, "vec_id", 3, col("vec_id") < 10)
        .orderBy("query_id", "rnk")))

    assert(rows(spark.sql(
      "SELECT * FROM ann_ivf('embeddings_v', 'vec_id', 'embedding', 3, 4, 2, 'vec_id < 10') " +
        "ORDER BY query_id, rnk"))
      == rows(Embeddings.ivfTopKProbed(prep, "vec_id", 3, 4, col("vec_id") < 10, 2)
        .orderBy("query_id", "rnk")))

    assert(rows(spark.sql(
      "SELECT * FROM knn_graph('embeddings_v', 'vec_id', 'embedding', 3, 4) " +
        "ORDER BY id_a, id_b"))
      == rows(Embeddings.knnGraph(prep, "vec_id", 3, 4).orderBy("id_a", "id_b")))

    assert(rows(spark.sql(
      "SELECT * FROM semantic_dedup('embeddings_v', 'vec_id', 'embedding', 4, 0.35) " +
        "ORDER BY vec_id"))
      == rows(Embeddings.semanticDedup(prep, "vec_id", 4, 0.35).orderBy("vec_id")))

    assert(rows(spark.sql(
      "SELECT vec_id, array_join(pq_codes, ' ') AS codes " +
        "FROM pq_encode('embeddings_v', 'vec_id', 'embedding', 8, 16) ORDER BY vec_id"))
      == rows(Embeddings.pqEncode(prep, "vec_id", 8, 16)
        .select(col("vec_id"), org.apache.spark.sql.functions
          .array_join(col("pq_codes"), " ").as("codes")).orderBy("vec_id")))

    assert(rows(spark.sql(
      "SELECT * FROM pq_topk('embeddings_v', 'vec_id', 'embedding', 3, 'vec_id < 10', 8, 16) " +
        "ORDER BY query_id, rnk"))
      == rows(Embeddings.pqTopK(prep, "vec_id", 3, col("vec_id") < 10, 8, 16)
        .orderBy("query_id", "rnk")))

    assert(rows(spark.sql(
      "SELECT * FROM pq_topk_ivf('embeddings_v', 'vec_id', 'embedding', 3, " +
        "'vec_id < 10', 4, 2, 8, 16) ORDER BY query_id, rnk"))
      == rows(Embeddings.pqTopKIVF(prep, "vec_id", 3, col("vec_id") < 10, 4, 2, 8, 16)
        .orderBy("query_id", "rnk")))

    assert(rows(spark.sql(
      "SELECT * FROM pq_topk_ivf_trained('embeddings_v', 'vec_id', 'embedding', 3, " +
        "'vec_id < 10', 4, 2, 8, 16, 2) ORDER BY query_id, rnk"))
      == rows(Embeddings.pqTopKIVFTrained(prep, "vec_id", 3, col("vec_id") < 10, 4, 2, 8, 16, 2)
        .orderBy("query_id", "rnk")))

    assert(rows(spark.sql(
      "SELECT * FROM mmr_rerank('embeddings_v', 'vec_id', 'embedding', " +
        "'vec_id = 0', 20, 5, 0.5) ORDER BY rnk"))
      == rows(Embeddings.mmrRerank(prep, "vec_id", col("vec_id") === 0, 20, 5, 0.5)
        .orderBy("rnk")))

    {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions.row_number
      import graft.pipeline.TextOps
      Tables.documents(spark, sfDir).createOrReplaceTempView("documents_v")
      val sparse = TextOps.bm25TopK(Tables.documents(spark, sfDir),
          "doc_id", "text", Seq("dup", "table", "query"), 20)
        .select(col("doc_id"), row_number()
          .over(Window.orderBy(col("bm25_q").desc, col("doc_id").asc)).as("rnk"))
      val dense = Embeddings.bruteForceTopK(prep, "vec_id", 20, col("vec_id") === 0)
        .select(col("neighbor_id").as("doc_id"), col("rnk"))
      assert(rows(spark.sql(
        "SELECT * FROM hybrid_rrf_topk('documents_v', 'doc_id', 'text', 'dup,table,query', " +
          "'embeddings_v', 'vec_id', 'embedding', 'vec_id = 0', 20, 60, 10) ORDER BY rnk"))
        == rows(TextOps.rrfFuse(Seq(sparse, dense), "doc_id", "rnk", 60, 10).orderBy("rnk")))

      assert(rows(spark.sql(
        "SELECT * FROM maxsim_topk('documents_v', 'doc_id', 'text', " +
          "'q_a:agg group zebra;q_b:merge join', 4, 16) ORDER BY qid, rnk"))
        == rows(Embeddings.maxSimTopK(Tables.documents(spark, sfDir), "doc_id", "text",
          Seq(("q_a", "agg group zebra"), ("q_b", "merge join")), 4, 16)
          .orderBy("qid", "rnk")))
    }
  }

  test("ANN parameters fail fast, naming the parameter and value, from Scala and SQL") {
    import graft.pipeline.Embeddings
    import org.apache.spark.sql.functions.col
    val sfDir = "/root/testdata/sf0.001"
    assume(new java.io.File(sfDir).isDirectory, s"$sfDir not present")
    Tables.embeddings(spark, sfDir).createOrReplaceTempView("embeddings_v")
    def prep = Embeddings.prepare(Tables.embeddings(spark, sfDir), "vec_id", "embedding")
    def rejects(expected: String)(call: => Any): Unit = {
      val e = intercept[Exception](call)
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).toSeq
      assert(msgs.exists(_.contains(expected)), s"'$expected' not in: ${msgs.mkString(" | ")}")
    }
    val q = col("vec_id") < 10
    rejects("cells=0")(Embeddings.ivfTopK(prep, "vec_id", 3, cells = 0, q))
    rejects("k=0")(Embeddings.pqEncode(prep, "vec_id", m = 8, k = 0))
    rejects("m=0")(Embeddings.pqTopK(prep, "vec_id", 3, q, m = 0))
    rejects("planes=0")(Embeddings.annTopK(prep, "vec_id", 3, planes = 0, q))
    rejects("planes=64")(Embeddings.nearDupPairsLSH(prep, "vec_id", 0.5, planes = 64))
    rejects("nprobe=0")(Embeddings.pqTopKIVF(prep, "vec_id", 3, q, cells = 4, nprobe = 0))
    rejects("k=-1")(Embeddings.bruteForceTopK(prep, "vec_id", -1, q))
    rejects("topK=0")(Embeddings.pqTopKIVFTrained(prep, "vec_id", 0, q))
    rejects("nprobe=0")(spark.sql("SELECT * FROM ann_ivf('embeddings_v', 'vec_id', " +
      "'embedding', 3, 4, 0, 'vec_id < 10')").collect())
    rejects("k=0")(spark.sql("SELECT * FROM pq_topk('embeddings_v', 'vec_id', " +
      "'embedding', 3, 'vec_id < 10', 8, 0)").collect())
    spark.catalog.clearCache()
  }

  test("similarity-join sizes fail fast, naming the parameter and value, from Scala and SQL") {
    import graft.pipeline.Dedup
    import spark.implicits._
    val docs = Seq(1L -> "a b c d e", 2L -> "a b c d f").toDF("doc_id", "text")
    docs.createOrReplaceTempView("sizes_docs_v")
    def rejects(expected: String)(call: => Any): Unit = {
      val e = intercept[Exception](call)
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).toSeq
      assert(msgs.exists(_.contains(expected)), s"'$expected' not in: ${msgs.mkString(" | ")}")
    }
    val sigs = Dedup.simhash64(docs, "doc_id", "text")
    rejects("shingleSize=0")(Dedup.minhashNearDups(docs, "doc_id", "text", shingleSize = 0))
    rejects("bands=0")(Dedup.minhashNearDups(docs, "doc_id", "text", bands = 0))
    rejects("numHashes=0")(Dedup.minhashNearDups(docs, "doc_id", "text", numHashes = 0))
    rejects("bands=32")(Dedup.minhashNearDups(docs, "doc_id", "text", numHashes = 16, bands = 32))
    rejects("bands=3")(Dedup.buildNearDupIndex(docs, "doc_id", "text", numHashes = 16, bands = 3))
    rejects("threshold=NaN")(Dedup.minhashNearDups(docs, "doc_id", "text", threshold = Double.NaN))
    rejects("threshold=0.0")(Dedup.probeNearDupsIndexed(docs,
      Dedup.buildNearDupIndex(docs, "doc_id", "text"), "doc_id", "text", threshold = 0.0))
    rejects("maxDf=1")(Dedup.containmentJoin(docs, "doc_id", "text", maxDf = 1))
    rejects("segmentBits=64")(Dedup.simhashNearDups(sigs, "doc_id", maxHamming = 0,
      numSegments = 1, segmentBits = 64))
    rejects("numSegments=5")(Dedup.simhashNearDups(sigs, "doc_id", maxHamming = 3,
      numSegments = 5, segmentBits = 16))
    rejects("threshold=1.5")(spark.sql(
      "SELECT * FROM minhash_pairs('sizes_docs_v', 'doc_id', 'text', 1.5)").collect())
    rejects("maxDf=1")(spark.sql(
      "SELECT * FROM containment_join('sizes_docs_v', 'doc_id', 'text', 1, 1, 5)").collect())
    rejects("maxHamming=-1")(spark.sql(
      "SELECT * FROM simhash_pairs('sizes_docs_v', 'doc_id', 'text', -1)").collect())
    spark.catalog.clearCache()
  }

  test("time-series TVFs are SQL-reachable and parity-equal to the Scala API") {
    import graft.pipeline.TimeSeries
    import org.apache.spark.sql.functions.{col, expr}
    val sfDir = "/root/testdata/sf0.001"
    assume(new java.io.File(sfDir).isDirectory, s"$sfDir not present")
    val ev = Tables.events(spark, sfDir)
    ev.createOrReplaceTempView("events_v")
    spark.sql("CREATE OR REPLACE TEMP VIEW clicks_v AS " +
      "SELECT event_id, user_id, ts FROM events_v WHERE event_type = 'click'")
    spark.sql("CREATE OR REPLACE TEMP VIEW errors_v AS " +
      "SELECT user_id, ts, value AS err_value FROM events_v WHERE event_type = 'error'")
    spark.sql("CREATE OR REPLACE TEMP VIEW outages_v AS " +
      "SELECT user_id, ts AS win_start, ts + INTERVAL 4 HOURS AS win_end " +
      "FROM events_v WHERE event_type = 'error'")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq

    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts"), col("value").as("err_value"))
    assert(rows(spark.sql(
      "SELECT * FROM asof_join('clicks_v', 'errors_v', 'user_id', 'ts', " +
        "'err_value', 'err_value') ORDER BY event_id"))
      == rows(TimeSeries.asofJoin(clicks, errors, Seq("user_id"), "ts",
        Seq("err_value"), tieBreak = Seq("err_value")).orderBy("event_id")))

    val outages = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts").as("win_start"),
        (col("ts") + expr("INTERVAL 4 HOURS")).as("win_end"))
    assert(rows(spark.sql(
      "SELECT * FROM range_join('clicks_v', 'outages_v', 'user_id', 'ts', " +
        "'win_start', 'win_end', 14400) ORDER BY event_id, win_start"))
      == rows(TimeSeries.rangeJoinBinned(clicks, outages, Seq("user_id"),
        "ts", "win_start", "win_end", binSeconds = 4 * 3600)
        .orderBy("event_id", "win_start")))

    assert(rows(spark.sql(
      "SELECT * FROM sessionize('events_v', 'user_id', 'ts', " +
        "\"INTERVAL '6' HOUR\", 'event_id') ORDER BY user_id, ts, event_id"))
      == rows(TimeSeries.sessionize(ev, Seq("user_id"), "ts",
        expr("INTERVAL '6' HOUR"), tieBreak = Seq("event_id"))
        .orderBy("user_id", "ts", "event_id")))

    assert(rows(spark.sql(
      "SELECT * FROM funnel('events_v', 'user_id', 'ts', 'event_type', " +
        "'view,click,purchase', \"INTERVAL '1' DAY\") ORDER BY user_id"))
      == rows(TimeSeries.funnel(ev, Seq("user_id"), "ts", "event_type",
        Seq("view", "click", "purchase"),
        window = Some(expr("INTERVAL '1' DAY"))).orderBy("user_id")))

    assert(rows(spark.sql(
      "SELECT * FROM cohort_retention('events_v', 'user_id', 'ts', " +
        "\"event_type = 'signup'\") ORDER BY cohort_week, period_idx"))
      == rows(TimeSeries.cohortRetention(ev, Seq("user_id"), "ts",
        col("event_type") === "signup").orderBy("cohort_week", "period_idx")))
  }

  test("text-analysis TVFs are SQL-reachable and parity-equal to the Scala API") {
    import graft.pipeline.{TextOps, TrainingSet}
    import org.apache.spark.sql.functions.col
    val sfDir = "/root/testdata/sf0.001"
    assume(new java.io.File(sfDir).isDirectory, s"$sfDir not present")
    val docs = Tables.documents(spark, sfDir)
    docs.createOrReplaceTempView("documents_v")
    spark.sql("CREATE OR REPLACE TEMP VIEW train_v AS " +
      "SELECT * FROM documents_v WHERE doc_id % 10 <> 0")
    spark.sql("CREATE OR REPLACE TEMP VIEW eval_v AS " +
      "SELECT * FROM documents_v WHERE doc_id % 10 = 0")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq

    assert(rows(spark.sql(
      "SELECT * FROM text_stats('documents_v', 'doc_id', 'text') ORDER BY doc_id"))
      == rows(TextOps.textStats(docs, "doc_id", "text").orderBy("doc_id")))
    assert(rows(spark.sql(
      "SELECT * FROM lang_id('documents_v', 'doc_id', 'text') ORDER BY doc_id"))
      == rows(TextOps.langId(docs, "doc_id", "text").orderBy("doc_id")))
    assert(rows(spark.sql(
      "SELECT * FROM gopher_rules('documents_v', 'doc_id', 'text') ORDER BY doc_id"))
      == rows(TextOps.gopherRules(docs, "doc_id", "text").orderBy("doc_id")))
    assert(rows(spark.sql(
      "SELECT * FROM remove_dup_spans('documents_v', 'doc_id', 'text', 10) ORDER BY doc_id"))
      == rows(TextOps.removeDupSpans(docs, "doc_id", "text", span = 10).orderBy("doc_id")))
    assert(rows(spark.sql(
      "SELECT * FROM c4_line_filter('documents_v', 'doc_id', 'text', 3, 5) ORDER BY doc_id"))
      == rows(TextOps.c4LineFilter(docs, "doc_id", "text").orderBy("doc_id")))
    assert(rows(spark.sql(
      "SELECT * FROM decontaminate('train_v', 'eval_v', 'doc_id', 'text', 3) ORDER BY doc_id"))
      == rows(TrainingSet.contaminatedIds(docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0), "doc_id", "text", 3).orderBy("doc_id")))
    assert(rows(spark.sql(
      "SELECT * FROM dsir_weights('train_v', 'eval_v', 'doc_id', 'text') ORDER BY doc_id"))
      == rows(TrainingSet.dsirWeights(docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0), "doc_id", "text").orderBy("doc_id")))
    spark.sql("CREATE OR REPLACE TEMP VIEW words_v AS " +
      "SELECT explode(filter(split(lower(text), ' '), x -> x != '')) AS word " +
      "FROM documents_v")
    assert(rows(spark.sql(
      "SELECT * FROM heavy_hitters('words_v', 'word', 4, 1024, 10)"))
      == rows(graft.pipeline.Profile.cmsHeavyHitters(
        spark.table("words_v"), "word", 4, 1024, 10)))
    // slice-of-13 gives GENUINELY empty arrays for doc_id % 13 == 0
    // (sequence(1, 0) would descend to [1, 0], never empty)
    spark.sql("CREATE OR REPLACE TEMP VIEW idseq_v AS " +
      "SELECT doc_id, slice(sequence(1, 13), 1, CAST(doc_id % 13 AS INT)) AS ids " +
      "FROM documents_v")
    assert(rows(spark.sql(
      "SELECT doc_id, chunk_idx, chunk FROM chunk_sequences('idseq_v', 'ids', 4, 3) " +
        "ORDER BY doc_id, chunk_idx"))
      == rows(TrainingSet.chunkSequences(spark.table("idseq_v"), "ids", "chunk", 4, 3)
        .select(col("doc_id"), col("chunk_idx"), col("chunk"))
        .orderBy("doc_id", "chunk_idx")))
  }

  test("SQL pipeline functions reject non-literal or wrong-arity arguments loudly") {
    // self-contained view: the test must not depend on earlier tests (or
    // testdata presence) having created documents_v — arity/literal errors
    // should surface, not TABLE_OR_VIEW_NOT_FOUND
    import spark.implicits._
    Seq((1L, "a")).toDF("doc_id", "text").createOrReplaceTempView("reject_v")
    val e1 = intercept[Exception](
      spark.sql("SELECT * FROM minhash_pairs('reject_v', 'doc_id', 'text')"))
    assert(e1.getMessage.contains("minhash_pairs"), e1.getMessage)
    val e2 = intercept[Exception](
      spark.sql("SELECT * FROM cap_per_group('reject_v', 'a', 'b', 'c', 'notanint')"))
    assert(e2.getMessage.contains("cap_per_group"), e2.getMessage)
  }

  test("tokenize_apply serves persisted models of both families without retraining") {
    import graft.pipeline.{BpeOps, UnigramOps}
    import graft.spark.sql.GraftPipelineFunctions
    import org.apache.spark.sql.functions.col
    val sfDir = "/root/testdata/sf0.001"
    assume(new java.io.File(sfDir).isDirectory, s"$sfDir not present")
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    // train on HALF the corpus, apply to the OTHER half: row equality with
    // the in-memory model proves the TVF tokenized from the DIR — a model
    // (re)trained on the applied half would merge differently
    val trainHalf = docs.filter(col("doc_id") % 2 === 0)
    val applyHalf = docs.filter(col("doc_id") % 2 === 1)
    applyHalf.createOrReplaceTempView("tok_apply_v")
    val base = java.nio.file.Files.createTempDirectory("tok_models").toString
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq

    val bpeM = BpeOps.trainModel(trainHalf, "text", numMerges = 32)
    BpeOps.saveModel(spark, bpeM, s"$base/bpe")
    val bpeSql = s"SELECT * FROM tokenize_apply('$base/bpe', 'tok_apply_v', 'doc_id', 'text')"
    assert(rows(spark.sql(bpeSql + " ORDER BY doc_id")) ==
      rows(BpeOps.withTokenIds(applyHalf, "text", bpeM, "token_ids")
        .drop("text").orderBy("doc_id")))

    // the byte mode rides the MODEL (stamped by trainModelBytes) — no
    // caller-remembered flag to forget at save time
    val byteM = BpeOps.trainModelBytes(trainHalf, "text", numMerges = 32)
    BpeOps.saveModel(spark, byteM, s"$base/bpeb")
    assert(rows(spark.sql(
      s"SELECT * FROM tokenize_apply('$base/bpeb', 'tok_apply_v', 'doc_id', 'text') ORDER BY doc_id")) ==
      rows(BpeOps.withTokenIdsBytes(applyHalf, "text", byteM, "token_ids")
        .drop("text").orderBy("doc_id")),
      "byte-mode marker must route the apply through toByteSymbols")

    val uniM = UnigramOps.trainModel(trainHalf, "text", vocabSize = 128)
    UnigramOps.saveModel(spark, uniM, s"$base/uni")
    assert(rows(spark.sql(
      s"SELECT * FROM tokenize_apply('$base/uni', 'tok_apply_v', 'doc_id', 'text') ORDER BY doc_id")) ==
      rows(UnigramOps.withPieceIds(applyHalf, "text", uniM, "token_ids")
        .drop("text").orderBy("doc_id")),
      "a pieces/ dir must sniff as a unigram model")

    // no-retraining evidence beyond cross-corpus parity: a memoized
    // re-issue plans with ZERO Spark jobs (no load, no train, no scan)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val b0 = GraftPipelineFunctions.tvfBuilds.get()
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sql(bpeSql).queryExecution.analyzed // analysis runs the builder
      Thread.sleep(500) // listener bus is async
      assert(GraftPipelineFunctions.tvfBuilds.get() == b0,
        "re-issued tokenize_apply must serve from the memo")
      assert(jobs.get() == 0,
        s"memoized tokenize_apply analysis ran ${jobs.get()} jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("nb_classify_apply serves a persisted NB model without retraining; nb_classify parity") {
    import graft.pipeline.QualityNB
    import graft.spark.sql.GraftPipelineFunctions
    import org.apache.spark.sql.functions.{col, when}
    val sfDir = "/root/testdata/sf0.001"
    assume(new java.io.File(sfDir).isDirectory, s"$sfDir not present")
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    docs.createOrReplaceTempView("nb_apply_v")
    spark.sql("CREATE OR REPLACE TEMP VIEW nb_train_v AS " +
      "SELECT doc_id, text, CASE WHEN doc_id % 7 = 0 THEN 'ref' ELSE 'crawl' END AS cls " +
      "FROM nb_apply_v WHERE doc_id % 2 = 0")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq

    // trainer TVF parity with the Scala API
    val labeled = docs.filter(col("doc_id") % 2 === 0)
      .withColumn("cls", when(col("doc_id") % 7 === 0, "ref").otherwise("crawl"))
    val model = QualityNB.train(labeled, "doc_id", "text", "cls")
    val scalaRows = rows(QualityNB.classify(docs, "doc_id", "text", model).orderBy("doc_id"))
    assert(rows(spark.sql(
      "SELECT * FROM nb_classify('nb_apply_v', 'nb_train_v', 'doc_id', 'text', 'cls') " +
        "ORDER BY doc_id")) == scalaRows)

    // persistence round-trip: the SQL apply from the DIR equals both the
    // loaded-model Scala path and the in-JVM trained model (lossless save)
    val base = java.nio.file.Files.createTempDirectory("qnb_models").toString
    QualityNB.saveModel(spark, model, s"$base/qnb")
    val applySql =
      s"SELECT * FROM nb_classify_apply('$base/qnb', 'nb_apply_v', 'doc_id', 'text')"
    assert(rows(spark.sql(applySql + " ORDER BY doc_id")) == scalaRows)

    // zero-training evidence: a memoized re-issue plans with ZERO jobs
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val b0 = GraftPipelineFunctions.tvfBuilds.get()
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sql(applySql).queryExecution.analyzed // analysis runs the builder
      Thread.sleep(500) // listener bus is async
      assert(GraftPipelineFunctions.tvfBuilds.get() == b0,
        "re-issued nb_classify_apply must serve from the memo")
      assert(jobs.get() == 0,
        s"memoized nb_classify_apply analysis ran ${jobs.get()} jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("ppl_score_apply serves a persisted quality-LM without retraining; ppl_buckets parity") {
    import graft.pipeline.QualityLM
    import graft.spark.sql.GraftPipelineFunctions
    import org.apache.spark.sql.functions.col
    val sfDir = "/root/testdata/sf0.001"
    assume(new java.io.File(sfDir).isDirectory, s"$sfDir not present")
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    docs.createOrReplaceTempView("ppl_apply_v")
    spark.sql("CREATE OR REPLACE TEMP VIEW ppl_ref_v AS " +
      "SELECT * FROM ppl_apply_v WHERE doc_id % 7 = 0")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq

    // trainer TVF parity with the Scala API
    val model = QualityLM.train(docs.filter(col("doc_id") % 7 === 0), "doc_id", "text")
    val scalaRows = rows(QualityLM.buckets(docs, "doc_id", "text", model).orderBy("doc_id"))
    assert(rows(spark.sql(
      "SELECT * FROM ppl_buckets('ppl_apply_v', 'ppl_ref_v', 'doc_id', 'text') ORDER BY doc_id"))
      == scalaRows)

    // per-group variant parity (documents carry a lang column)
    val docsLang = Tables.documents(spark, sfDir).select(col("doc_id"), col("lang"), col("text"))
    docsLang.createOrReplaceTempView("ppl_lang_v")
    assert(rows(spark.sql(
      "SELECT * FROM ppl_buckets_by('ppl_lang_v', 'ppl_ref_v', 'doc_id', 'text', 'lang') " +
        "ORDER BY doc_id"))
      == rows(QualityLM.bucketsBy(docsLang, "doc_id", "text", "lang",
        QualityLM.train(docsLang.filter(col("doc_id") % 7 === 0), "doc_id", "text"))
        .orderBy("doc_id")))

    // persistence round-trip: the SQL apply from the DIR equals both the
    // loaded-model Scala path and the in-JVM trained model (lossless save)
    val base = java.nio.file.Files.createTempDirectory("qlm_models").toString
    QualityLM.saveModel(spark, model, s"$base/qlm")
    val applySql =
      s"SELECT * FROM ppl_score_apply('$base/qlm', 'ppl_apply_v', 'doc_id', 'text')"
    assert(rows(spark.sql(applySql + " ORDER BY doc_id")) == scalaRows)
    assert(rows(QualityLM.buckets(docs, "doc_id", "text",
      QualityLM.loadModel(spark, s"$base/qlm")).orderBy("doc_id")) == scalaRows)

    // a non-model dir fails loudly, not with a schema error downstream
    val bad = intercept[Exception](QualityLM.loadModel(spark, s"$base/nope"))
    assert(bad.getMessage != null)

    // zero-training evidence: a memoized re-issue plans with ZERO jobs
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val b0 = GraftPipelineFunctions.tvfBuilds.get()
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sql(applySql).queryExecution.analyzed // analysis runs the builder
      Thread.sleep(500) // listener bus is async
      assert(GraftPipelineFunctions.tvfBuilds.get() == b0,
        "re-issued ppl_score_apply must serve from the memo")
      assert(jobs.get() == 0,
        s"memoized ppl_score_apply analysis ran ${jobs.get()} jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("foreign V2 version tokens: property-versioned tables memoize, versionless never do") {
    import graft.spark.sql.GraftPipelineFunctions.foreignV2Token
    // a connector exposing a snapshot-ish property gets a STABLE token —
    // stale-detection rides the property like graft tables ride snapshots
    val versioned = new java.util.HashMap[String, String]()
    versioned.put("current-snapshot-id", "42")
    assert(foreignV2Token("cat.t", versioned) == foreignV2Token("cat.t", versioned))
    versioned.put("current-snapshot-id", "43")
    assert(foreignV2Token("cat.t", versioned).endsWith(":43"))
    // no version signal → per-call nonce: the memo can never serve a stale
    // plan for a mutable foreign table (ADVICE r13) — it just rebuilds
    val bare = new java.util.HashMap[String, String]()
    assert(foreignV2Token("cat.t", bare) != foreignV2Token("cat.t", bare))
  }

  test("expensive TVF builds memoize per (args, table-version); mutation invalidates") {
    import graft.spark.sql.GraftPipelineFunctions
    val sfDir = "/root/testdata/sf0.001"
    assume(new java.io.File(sfDir).isDirectory, s"$sfDir not present")
    def builds() = GraftPipelineFunctions.tvfBuilds.get()

    Tables.documents(spark, sfDir).createOrReplaceTempView("memo_docs")
    val q = "SELECT * FROM dup_clusters('memo_docs', 'doc_id', 'text', 0.5)"
    val b0 = builds()
    val first = spark.sql(q).collect().map(_.toString).sorted.toSeq
    assert(first.nonEmpty, "memo gate is vacuous on an empty cluster set")
    assert(builds() == b0 + 1, "first issue must run the clustering build")
    // verbatim re-issue AND an EXPLAIN both re-analyze — the r12 footgun —
    // and must now plan from the memo without re-running the loop
    val second = spark.sql(q).collect().map(_.toString).sorted.toSeq
    spark.sql("EXPLAIN " + q).collect()
    assert(second == first)
    assert(builds() == b0 + 1, "re-issue/EXPLAIN must not rebuild")
    // different literal args are a different memo entry
    spark.sql("SELECT * FROM dup_clusters('memo_docs', 'doc_id', 'text', 0.4)").collect()
    assert(builds() == b0 + 2)
    // re-registering the view with a DIFFERENT definition invalidates
    Tables.documents(spark, sfDir).limit(30).createOrReplaceTempView("memo_docs")
    spark.sql(q).collect()
    assert(builds() == b0 + 3, "view redefinition must invalidate the memo")

    // graft-table mutation: an INSERT moves the snapshot and invalidates
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("CREATE TABLE graft.db.memo_t (doc_id BIGINT, text STRING)")
    spark.sql("INSERT INTO graft.db.memo_t VALUES " +
      "(1, 'aa bb cc dd ee'), (2, 'aa bb cc dd ee')")
    val qt = "SELECT * FROM dup_clusters('graft.db.memo_t', 'doc_id', 'text', 0.2)"
    val b1 = builds()
    val preRows = spark.sql(qt).collect().length
    assert(builds() == b1 + 1)
    assert(preRows == 2, "both planted duplicates cluster")
    spark.sql(qt).collect()
    assert(builds() == b1 + 1, "unchanged snapshot must memo-hit")
    spark.sql("INSERT INTO graft.db.memo_t VALUES (3, 'aa bb cc dd ee')")
    val postRows = spark.sql(qt).collect().length
    assert(builds() == b1 + 2, "snapshot moved — the memo must rebuild")
    assert(postRows == 3, "the rebuilt result must see the inserted row")
    spark.sql("DROP TABLE graft.db.memo_t")
  }
}
