package graft

import org.apache.spark.sql.SparkSession

/** Dev-only plan dumper (not part of the driver contract): writes
  * `.explain("formatted")` for declared queries to
  * `<SPARK_GRAFT_PLANS_DIR>/<query>_<suffix>.txt` (default `plans/r19` in
  * the working tree that runs it) so
  * optimization claims ("2 Exchange -> 1", "SortMergeJoin ->
  * BroadcastHashJoin") are checkable without running Spark. Spark runs on
  * `SPARK_GRAFT_CPUS` cores (default: all of this machine's). Run:
  *   SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_PLANS_DIR=plans/<change> \
  *     sbt "runMain graft.Plans before q86_fuzzy_join,q77_jaccard_join"
  */
object Plans {
  /** Queries whose declared form `localCheckpoint`s (truncating the
    * interesting plan to a `Scan ExistingRDD`): dump only the LAZY inner
    * plan — the operator's plan builder called with an `identity` pin —
    * under `<query>__inner_<suffix>.txt`. Their outer form is never built:
    * building it runs the whole job chain just to print the checkpoint
    * scan. */
  private def innerPlans(sfDir: String)
      : Map[String, SparkSession => org.apache.spark.sql.DataFrame] = Map(
    "q86_fuzzy_join" -> (s => graft.pipeline.FuzzyJoin.editDistanceJoinPlan(identity)(
      Tables.customer(s, sfDir).filter(org.apache.spark.sql.functions.col("c_custkey") % 3 === 0),
      "c_custkey", "c_name", maxDist = 2)),
    "q77_jaccard_join" -> (s => graft.pipeline.Dedup.jaccardJoinPlan(identity)(
      graft.pipeline.Dedup.docShingleArrays(Tables.documents(s, sfDir), "doc_id", "text", 3),
      "doc_id", 1, 2)),
    "q78_containment" -> (s => graft.pipeline.Dedup.containmentJoinPlan(
      graft.pipeline.Dedup.docShingleArrays(Tables.documents(s, sfDir), "doc_id", "text", 3),
      "doc_id", 10, 1, 5)),
    "q24_minhash_dedup" -> (s => graft.pipeline.Dedup.minhashNearDups(
      Tables.documents(s, sfDir), "doc_id", "text", 3, 16, 4, 0.5)),
    "q73_knn_graph" -> (s => graft.pipeline.Embeddings.knnGraphLazy(
      graft.pipeline.Embeddings.prepare(Tables.embeddings(s, sfDir), "vec_id", "embedding"),
      "vec_id", k = 3, cells = 8))
  )

  def main(args: Array[String]): Unit = {
    val suffix = args.headOption.getOrElse("before")
    val only = args.lift(1).map(_.split(',').toSet)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .withExtensions(new graft.spark.sql.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // round-parameterized via env (ADVICE r18): default to the current round
    val dir = java.nio.file.Paths.get(sys.props("user.dir"))
      .resolve(sys.env.getOrElse("SPARK_GRAFT_PLANS_DIR", "plans/r19"))
    java.nio.file.Files.createDirectories(dir)
    val inner = innerPlans(sfDir)
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) && !inner.contains(name) }
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          // queryExecution.explainString gives the formatted text without
          // printing to stdout
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.write(dir.resolve(s"${name}_$suffix.txt"),
            txt.getBytes("UTF-8"))
          println(s"[plans] wrote ${name}_$suffix.txt")
        } catch {
          case e: Throwable => System.err.println(s"[plans] $name failed: $e")
        }
        spark.catalog.clearCache()
      }
    inner
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        try {
          val txt = fn(spark).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.write(dir.resolve(s"${name}__inner_$suffix.txt"),
            txt.getBytes("UTF-8"))
          println(s"[plans] wrote ${name}__inner_$suffix.txt")
        } catch {
          case e: Throwable => System.err.println(s"[plans] $name inner failed: $e")
        }
        spark.catalog.clearCache()
      }
    spark.stop()
  }
}
