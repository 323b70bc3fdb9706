package perfbench

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode

import graft.SparkEntry

/** `pipeline`: named `SparkEntry` queries over the generated corpus tables,
  * each op one query run into the noop sink, in whole rounds (every query
  * once per round, in a seeded order). */
final class Pipeline(ctx: Ctx) extends Workload {
  import ctx.{spark, tracer}
  private val data = ctx.work.resolve("data").toString
  private val names: Seq[String] =
    ctx.plan.get("queries").elements().asScala.map(_.asText).toSeq

  /** The fixture is the input tables: open each (parquet footers only). */
  def setup(): Unit = Seq("documents", "embeddings", "customer").foreach { t =>
    require(graft.Tables.t(spark, data, t).schema.nonEmpty, s"input table $t has no columns")
  }

  /** Correctness pass before the window (it doubles as the warm-up): each
    * query's result goes to parquet next to its oracle SQL, which run.py
    * runs in DuckDB and compares cell by cell. The first run of a query in
    * a JVM is mostly code generation and JIT on the driver, so the pass
    * runs the queries side by side to keep the process short; the window
    * runs them one at a time. */
  override def prepare(): Unit = {
    val out = ctx.work.resolve("out")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      spark.sparkContext.defaultParallelism)
    try names.map { q =>
      pool.submit(new Runnable {
        def run(): Unit = SparkEntry.queries(q)(spark, data).write.parquet(out.resolve(q).toString)
      })
    }.foreach(_.get())
    finally pool.shutdown()
    val oracle = Main.mapper.createObjectNode()
    names.foreach(q => oracle.put(q, SparkEntry.oracleSql(q)))
    Files.write(out.resolve("oracle_sql.json"), Main.mapper.writeValueAsBytes(oracle))
  }

  def run(op: JsonNode): Option[Seq[Long]] = {
    val q = op.get("name").asText
    tracer.span("pipeline", q)(
      SparkEntry.queries(q)(spark, data).write.format("noop").mode("overwrite").save())
    None
  }

  def finish(out: ObjectNode): Unit = ()
}
