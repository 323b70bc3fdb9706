package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Session-conf hygiene: graft operations must not leak settings into
  * unrelated reads/writes in the same long-lived session. The two
  * deliberately-persistent flags (`spark.sql.parquet.fieldId.read.*`),
  * which every table-file read sets on the caller's session, are pinned as
  * behavioral no-ops for non-graft reads. They have to live on the caller's
  * session: a per-relation option is ignored (ParquetFileFormat overwrites
  * these keys from the session conf when building the reader), and a
  * relation planned on a child session that holds the flags reads a
  * renamed column as all nulls once the caller's session runs the action,
  * with the vectorized reader on and off (both checked on Spark 4.1.2).
  */
class ConfHygieneSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .appName("conf-hygiene-spec").getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  override def afterAll(): Unit = spark.stop()

  test("Tables.events reads nanos timestamps without touching session conf") {
    // conf.getOption surfaces the built-in DEFAULT (false) — assert the
    // value stays at that default through plan + execution
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "false")
    val n = Tables.events(spark, sf).count()
    assert(n > 0)
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "false",
      "events read leaked spark.sql.legacy.parquet.nanosAsLong into the session")
  }

  test("write path restores outputTimestampType and fieldId.write after the action") {
    import spark.implicits._
    import graft.catalog.{FileCatalog, TableIdent}
    import graft.spec._
    val cat = new FileCatalog(Files.createTempDirectory("hygiene-wh").toString)
    val schema = IceSchema(0, Seq(
      NestedField(1, "id", required = false, IceType.LongT),
      NestedField(2, "v", required = false, IceType.StringT)))
    val t = cat.createTable(TableIdent(Seq("db"), "h"), schema, PartitionSpec(0, Nil))
    val before = (
      spark.conf.getOption("spark.sql.parquet.outputTimestampType"),
      spark.conf.getOption("spark.sql.parquet.fieldId.write.enabled"))
    graft.spark.IceWrite.append(spark, t, (1L to 10L).map(i => (i, s"r$i")).toDF("id", "v"))
    val after = (
      spark.conf.getOption("spark.sql.parquet.outputTimestampType"),
      spark.conf.getOption("spark.sql.parquet.fieldId.write.enabled"))
    assert(after == before, s"write leaked session confs: before=$before after=$after")
  }

  test("dupClusters loop confs are invisible to a concurrent query on the caller session") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // a chain long enough that the loop spans many rounds (and real wall
    // time), so the concurrent probes below genuinely overlap it
    val n = 2000
    val pairs = (0 until n).map(i => (i.toLong, i.toLong + 1)).toDF("id_a", "id_b")
    val parBefore = spark.conf.get("spark.sql.shuffle.partitions")
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    val loop = scala.concurrent.Future {
      graft.pipeline.Dedup.dupClusters(pairs, maxIters = 100)
        .groupBy("cluster_id").count().collect()
    }(scala.concurrent.ExecutionContext.global)
    // while the loop runs (it sizes ITS shuffles to 1 partition and turns
    // AQE off on ITS child session), the caller session must keep planning
    // with its own width — both the conf values and an actual shuffle
    var probes = 0
    while (!loop.isCompleted) {
      assert(spark.conf.get("spark.sql.shuffle.partitions") == parBefore,
        "loop leaked shuffle width into the caller session")
      assert(spark.conf.get("spark.sql.adaptive.enabled") == aqeBefore,
        "loop leaked AQE toggle into the caller session")
      // inspect the PLANNED shuffle width (exchanges appear in executedPlan;
      // AQE legitimately coalesces tiny shuffles at RUNTIME, so the leak
      // under test is the hashpartitioning width the planner wrote down)
      val shuffled = spark.range(100).groupBy(col("id") % 10).count()
      val widths = """hashpartitioning\([^)]*, (\d+)\)""".r
        .findAllMatchIn(shuffled.queryExecution.executedPlan.toString)
        .map(_.group(1).toInt).toList
      assert(widths.nonEmpty && widths.forall(_ == parBefore.toInt),
        s"concurrent query was PLANNED under the loop's shuffle width: $widths")
      probes += 1
    }
    val clusters = scala.concurrent.Await.result(
      loop, scala.concurrent.duration.Duration.Inf)
    assert(clusters.map(_.getLong(1)).sum == n + 1) // one chain, all nodes
    assert(probes > 0, "loop finished before any concurrent probe ran")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == parBefore)
    assert(spark.conf.get("spark.sql.adaptive.enabled") == aqeBefore)
  }

  test("non-graft parquet reads behave identically after a graft scan planned AND executed") {
    import spark.implicits._
    import graft.catalog.{FileCatalog, TableIdent}
    import graft.spec._
    // a plain name-resolved parquet dataset, written before any graft activity
    val plainDir = Files.createTempDirectory("hygiene-plain").toString + "/t"
    (1 to 100).map(i => (i, s"name-$i")).toDF("k", "name")
      .write.mode("overwrite").parquet(plainDir)
    val baseline = spark.read.parquet(plainDir).orderBy("k").collect().toSeq
    val watchedKeys = Seq("spark.sql.parquet.outputTimestampType",
      "spark.sql.parquet.fieldId.write.enabled",
      "spark.sql.legacy.parquet.nanosAsLong")
    val confBefore = watchedKeys.map(k => k -> spark.conf.get(k))

    // graft scan: plan + execute (this is what sets fieldId.read.* flags)
    val cat = new FileCatalog(Files.createTempDirectory("hygiene-wh2").toString)
    val schema = IceSchema(0, Seq(
      NestedField(1, "id", required = false, IceType.LongT),
      NestedField(2, "v", required = false, IceType.StringT)))
    var t = cat.createTable(TableIdent(Seq("db"), "g"), schema, PartitionSpec(0, Nil))
    t = graft.spark.IceWrite.append(spark, t,
      (1L to 10L).map(i => (i, s"r$i")).toDF("id", "v"))
    assert(graft.spark.IceScan.scan(spark, t).count() == 10)

    // the same non-graft read — schema, values, and row order must be
    // unaffected by the (intentionally persistent, no-op-without-field-ids)
    // fieldId.read flags
    val again = spark.read.parquet(plainDir).orderBy("k").collect().toSeq
    assert(again == baseline, "non-graft parquet read changed after a graft scan")
    // the write/read cycle must leave every watched conf at its pre-graft
    // value — the intentionally-persistent fieldId.read flags are the ONLY
    // graft residue, and they are no-ops for field-id-less schemas
    val confAfter = watchedKeys.map(k => k -> spark.conf.get(k))
    assert(confAfter == confBefore,
      s"graft activity changed session confs: before=$confBefore after=$confAfter")
  }
}
