package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge into Spark's `private[sql]` classic API: converts a public
  * `Column` to its Catalyst `Expression` (needed by graft's driver-side
  * stats pruning, which pattern-matches predicate trees).
  */
object GraftShim {
  def expression(c: Column): Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** Eagerly converts a Column's node tree to a Catalyst expression
    * (`ColumnNodeToExpressionConverter` is `private[sql]`). Unlike
    * [[expression]], whose lazy `ColumnNodeExpression` wrapper only
    * unwraps on Dataset API paths, the result can be spliced into a
    * PARSED plan — the seam graft's injected SQL functions use to re-root
    * a Column-tree operator on the caller's argument expressions. */
  def resolvableExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter.apply(c.node)

  /** Wraps a (possibly unresolved) Catalyst expression as a public Column —
    * lets graft rebuild parsed SQL plans node-by-node as DataFrame ops, with
    * the analyzer resolving names against the rebuilt children.
    */
  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** `e` with NaN and -0.0 normalized as Spark normalizes join keys
    * (`NormalizeFloatingNumbers.normalize` is `private[sql]`). */
  def normalizeFloats(e: Expression): Expression =
    org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)

  /** A task-serializable Hadoop-configuration accessor (the underlying
    * `SerializableConfiguration` is `private[spark]`, so it rides inside a
    * serializable thunk) — lets executor-side blob readers (deletion-vector
    * fallback decode) open the same FileSystem the driver planned against,
    * remote stores included. */
  def serializableHadoopConf(spark: SparkSession): () => org.apache.hadoop.conf.Configuration =
    serializableConf(spark.sparkContext.hadoopConfiguration)

  def serializableConf(conf: org.apache.hadoop.conf.Configuration): () => org.apache.hadoop.conf.Configuration = {
    val wrapped = new org.apache.spark.util.SerializableConfiguration(conf)
    () => wrapped.value
  }

  /** Spark's own write-stats tracker (files, bytes and rows written: the
    * SQL write metrics and each task's output metrics) over a serialized
    * copy of `conf`, plus an accessor to that same copy (the wrapper is
    * `private[spark]`) — a second tracker that captures the accessor
    * shares the one copy in the task binary. */
  def basicWriteStatsTracker(conf: org.apache.hadoop.conf.Configuration)
      : (org.apache.spark.sql.execution.datasources.WriteJobStatsTracker,
         () => org.apache.hadoop.conf.Configuration) = {
    import org.apache.spark.sql.execution.datasources.BasicWriteJobStatsTracker
    val wrapped = new org.apache.spark.util.SerializableConfiguration(conf)
    (new BasicWriteJobStatsTracker(wrapped, BasicWriteJobStatsTracker.metrics), () => wrapped.value)
  }

  /** Resolves a registered DSv2 catalog plugin by name (`catalogManager` is
    * `private[sql]`) — used by graft's SQL commands to reach the graft
    * catalog instance behind `spark.sql.catalog.<name>`.
    */
  def v2Catalog(spark: SparkSession, name: String): org.apache.spark.sql.connector.catalog.CatalogPlugin =
    spark.sessionState.catalogManager.catalog(name)

  /** Runs an unresolved logical plan through the session's analyzer
    * (`Dataset.ofRows` is `private[sql]`) — lets graft execute a parsed and
    * rewritten SQL plan without round-tripping through SQL text.
    */
  def ofRows(spark: SparkSession, plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A schema with every field nullable at every depth (`asNullable` is
    * `private[spark]`) — how file sources expose a user-specified schema,
    * so a relation built from a table schema reads like a path-built one. */
  def nullable(s: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    s.asNullable

  /** Registers a listener summing a per-task metric (e.g.
    * `executorCpuTime`, `inputMetrics.recordsRead`) into the returned
    * accumulator — the shared half of the bench/smoke CPU-attribution
    * protocol; bracket reads with [[drainListenerBus]]. */
  def addTaskMetricListener(spark: SparkSession)(
      metric: org.apache.spark.executor.TaskMetrics => Long): java.util.concurrent.atomic.AtomicLong = {
    val acc = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) acc.addAndGet(metric(e.taskMetrics))
    })
    acc
  }

  /** Drains the async listener bus (`LiveListenerBus.waitUntilEmpty` is
    * `private[spark]`): a caller reading listener-accumulated task metrics
    * (executor CPU time per bench/smoke phase) right after an action needs
    * the in-flight task-end events delivered first, or the attribution
    * bleeds into the next phase. */
  def drainListenerBus(spark: SparkSession): Unit =
    try spark.sparkContext.listenerBus.waitUntilEmpty()
    catch { case _: java.util.concurrent.TimeoutException => }

  /** Whether this exact plan is still registered with the CacheManager —
    * lets an operator-level cache registry notice that
    * `spark.catalog.clearCache()` (the bench/verify per-query hygiene)
    * dropped its entry, instead of silently handing out an uncached frame. */
  def planIsCached(df: Dataset[_]): Boolean = df match {
    case d: org.apache.spark.sql.classic.Dataset[_] =>
      d.sparkSession.sharedState.cacheManager.lookupCachedData(d).isDefined
    case _ => false
  }

  /** How many plans the session's CacheManager holds — the bound an
    * operator-level cache registry keeps. */
  def cachedEntries(spark: SparkSession): Int = spark match {
    case s: org.apache.spark.sql.classic.SparkSession => s.sharedState.cacheManager.numCachedEntries
    case _ => 0
  }
}
