package graft.spark

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.{Column, DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAlias, UnresolvedAttribute, UnresolvedFunction, UnresolvedRelation, UnresolvedStar}
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression, Literal, SortOrder => CatalystSortOrder}
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.functions._

import graft.catalog.{Catalog, TableIdent}
import graft.spec.{IceSchema, IceType, PartitionSpec}
import graft.table.{IceTable, ManifestModel}

/** Materialized views with full + incremental refresh (reference:
  * datafusion_iceberg/src/materialized_view/mod.rs:32-214 and
  * delta_queries/{transform.rs,aggregate_functions.rs,delta_node.rs}).
  *
  * An MV is a SQL view plus a hidden Iceberg storage table
  * (`<name>__storage`) holding the materialized rows, plus a refresh state
  * (source table uuid → last-seen snapshot id) stored as a table property —
  * the Spark analogue of the reference's snapshot-summary RefreshState
  * (materialized_view_metadata.rs:40-90, storage_table.rs:28-60).
  *
  * Incremental maintenance is snapshot-diff based (no watermarks — S4): a
  * source's delta is an [[IceScan]] pinned to the sequence range
  * (lastRefresh, current]. Instead of the reference's PosDelta plan-rewrite
  * machinery (transform.rs:27-377), we exploit that every
  * Project/Filter/Inner-Join/Union plan is MULTILINEAR in its source
  * occurrences, so
  *   Δ(Q(A, B)) = Q(ΔA, B_old) ∪ Q(A_old, ΔB) ∪ Q(ΔA, ΔB)
  * generalizes to a union over all non-empty subsets of changed source
  * occurrences — each term is the same plan rebuilt over different
  * bindings. This yields exactly the reference's join expansion (J2,
  * transform.rs:381-477) without custom logical nodes; Spark caches the
  * delta scans instead of ForkNode channels (M3 → .cache()).
  *
  * Aggregates merge with the stored table per aggregate_functions.rs:5-100:
  * count/sum → stored + delta, min/max → least/greatest; changed groups are
  * replaced via an equality delete on the group keys committed ATOMICALLY
  * with the merged rows (same sequence number, so the delete masks only the
  * previous generation — equality deletes apply strictly below their
  * sequence, table.rs:498-531).
  */
object IceMV {

  /** Refresh strategy classification (A3, materialized_view/mod.rs:370-415). */
  sealed trait Strategy
  case object Fresh extends Strategy
  /** Plan shape unsupported for deltas (window fns, outer joins, distinct,
    * nested/unmergeable aggregates) → recompute + replace. */
  case object FullOverwrite extends Strategy
  /** Sort present: result recomputed and replaced (an MV table is unordered;
    * the reference likewise degrades Sort to overwrite). */
  case object IncrementalOverwrite extends Strategy
  /** Pure SPJU plan: delta rows are appended. */
  case object IncrementalAppend extends Strategy
  /** Single top-level aggregate with mergeable functions. */
  final case class IncrementalAggregate(groupNames: Seq[String], merges: Seq[(String, String)]) extends Strategy

  final case class RefreshResult(strategy: Strategy, rowsWritten: Long)

  /** True when `analyzed` can emit more rows than it reads — a
    * row-multiplying join, a generator (explode and friends, which only
    * become [[Generate]] during analysis), or an [[Expand]] (grouping
    * sets/rollup/cube). Semi/anti joins never multiply rows (output ⊆ left
    * input), which keeps MoR delete-masked sources — whose scans carry
    * anti-join folds — eligible for the manifest-bound count-skip. */
  private[graft] def expandsRows(analyzed: LogicalPlan): Boolean = analyzed.exists {
    case j: Join => j.joinType match {
      case org.apache.spark.sql.catalyst.plans.LeftSemi |
           org.apache.spark.sql.catalyst.plans.LeftAnti => false
      case _ => true
    }
    // LATERAL correlated subqueries are their own node (not a Join
    // subclass) and multiply rows like any inner/outer join
    case _: LateralJoin => true
    case _: Generate => true
    case _: Expand => true
    // UNPIVOT only becomes Expand in the OPTIMIZER (RewriteUnpivot) — on
    // the analyzed plan it is its own node, and it multiplies rows by the
    // value-column count (ADVICE r15)
    case _: Unpivot => true
    case _ => false
  }

  /** True when every leaf of `analyzed` is a file-relation scan — i.e. one
    * of the resolved Iceberg sources whose rows the manifest bound counted.
    * Any other leaf (Range, VALUES/LocalRelation, an empty-table
    * placeholder) contributes rows the bound never saw, so the bound is not
    * an upper bound and the count-skip is ineligible (ADVICE r15). */
  private[graft] def boundedLeaves(analyzed: LogicalPlan): Boolean =
    analyzed.collectLeaves().forall {
      case _: org.apache.spark.sql.execution.datasources.LogicalRelation => true
      case _: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation => true
      case _: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => true
      case _ => false
    }

  /** Largest file count the manifest-exact row bound may pick without a
    * sizing count(): an expansion-free refresh up to this × ~4M input rows
    * skips the count job; past it, the exact count() returns. */
  private val BoundHintMaxFiles = 32

  /** [[BoundHintMaxFiles]] for plans containing a Filter: the bound is an
    * upper bound but no longer TIGHT — a highly selective filter over e.g.
    * 100M input rows would otherwise size ~25 near-empty files that tax
    * every future MoR fold (ADVICE r15). Filtered plans only skip the
    * sizing count() when the bound pins the write to a couple of files,
    * where even 100% selectivity can't under-fill badly. */
  private val BoundHintFilteredMaxFiles = 2

  /** Bound-derived output-file hint, or None when only a count() can size
    * the write. The input-row bound is TIGHT for non-aggregating
    * expansion-free plans (project/filter/window keep row counts) — those
    * cap at [[BoundHintMaxFiles]] ([[BoundHintFilteredMaxFiles]] when a
    * Filter makes the bound loose). An Aggregate may collapse the bound by
    * orders of magnitude, and sizing multiple files from it would spray
    * under-filled data AND delete files into every future scan's MoR fold
    * — aggregating plans therefore only skip the count when the bound
    * already pins ONE file (the delete-keys write shares the hint, and
    * its rows equal the aggregated rows exactly). Plans with non-source
    * leaves (Range, VALUES) never skip — their rows aren't in the bound
    * ([[boundedLeaves]]). */
  private[graft] def boundHint(analyzed: LogicalPlan, bound: => Long): Option[Int] =
    if (expandsRows(analyzed) || !boundedLeaves(analyzed)) None
    else {
      val hint = IceWrite.fileCountHint(bound)
      if (analyzed.exists { case _: Aggregate => true; case _ => false })
        hint.filter(_ == 1)
      else if (analyzed.exists { case _: Filter => true; case _ => false })
        hint.filter(_ <= BoundHintFilteredMaxFiles)
      else hint.filter(_ <= BoundHintMaxFiles)
    }

  /** Parsed-plan memo for STANDING MVs/views (VERDICT r15 #8): production
    * MVs refresh repeatedly, and every refresh used to re-parse the view
    * SQL and re-derive the occurrence walk, the distinct rewrite and the
    * strategy classification. All five are PURE in the SQL string GIVEN a
    * parser configuration, so the memo keys on (session identity, SQL) —
    * the TVF-memo convention: parser conf lives on the session (ANSI
    * double-quoted identifiers and friends), and keying per session keeps
    * two differently-configured sessions from trading trees. A REPLACEd
    * view presents new SQL and misses naturally. Bounded at 64 entries,
    * cleared at cap. */
  private[graft] final case class ParsedMv(
      original: LogicalPlan,
      distinctRw: Option[(Aggregate, Seq[String], Seq[(String, String)])],
      occurrences: Seq[TableIdent],
      classifyOriginal: Strategy,
      classifyRewritten: Strategy)
  // WEAK session keys (the writeSessionFor pattern — VERDICT r16 #5): an
  // identity-hash string key could recur after the session is GC'd and hand
  // a new session a tree parsed under the old session's parser config; the
  // weak reference ties each inner memo's lifetime to its session instead.
  // Parsed (unresolved) trees hold no session reference, so values never
  // pin their own key.
  private val parseMemo =
    new java.util.WeakHashMap[SparkSession, java.util.concurrent.ConcurrentHashMap[String, ParsedMv]]()
  /** Diagnostic counter: real (non-memo) view-SQL parses — the
    * zero-re-analysis gate reads it (the tvfBuilds convention). */
  private[graft] val mvParses = new java.util.concurrent.atomic.AtomicLong
  private[graft] def parsedMv(spark: SparkSession, sql: String): ParsedMv = {
    // the global lock covers only the weak-map lookup; the expensive parse
    // + classify runs under the inner map's per-bin computeIfAbsent, so two
    // sessions (or two MVs of one session) never convoy on each other
    val inner = parseMemo.synchronized {
      val cur = parseMemo.get(spark)
      if (cur != null) cur
      else {
        val fresh = new java.util.concurrent.ConcurrentHashMap[String, ParsedMv]()
        parseMemo.put(spark, fresh)
        fresh
      }
    }
    if (inner.size() > 64) inner.clear()
    inner.computeIfAbsent(sql, { _ =>
      mvParses.incrementAndGet()
      val original = spark.sessionState.sqlParser.parsePlan(sql)
      val rw = original match {
        case a: Aggregate => distinctRewrite(a)
        case _ => None
      }
      // the distinct rewrite keeps the child, so occurrences are identical
      // on both variants
      ParsedMv(original, rw, sourceOccurrences(original),
        classify(original), rw.map(r => classify(r._1)).getOrElse(classify(original)))
    })
  }

  private val StatePropKey = "graft.mv.refresh-state"
  private val AvgPropKey = "graft.mv.avg-cols"
  private val DistinctPropKey = "graft.mv.distinct"
  private val mapper = new ObjectMapper()

  /** Distinct-count MV metadata: the distinct-key storage columns and the
    * visible outputs as (name, kind) with kind ∈ group |
    * count_distinct:<col> | count | sum | min | max. */
  private def readDistinct(storage: IceTable): Option[(Seq[String], Seq[(String, String)])] =
    storage.metadata.properties.get(DistinctPropKey).map { json =>
      import scala.jdk.CollectionConverters._
      val n = mapper.readTree(json)
      // legacy single-key layout: {"dk": "x", outs kind "count_distinct"}
      val dks = Option(n.get("dks"))
        .map(_.elements().asScala.map(_.asText()).toSeq)
        .getOrElse(Seq(n.get("dk").asText()))
      val outs = n.get("outs").elements().asScala.map { o =>
        val kind = o.get("kind").asText() match {
          case "count_distinct" => s"count_distinct:${dks.head}"
          case k => k
        }
        (o.get("vis").asText(), kind)
      }.toSeq
      (dks, outs)
    }

  private def writeDistinct(dks: Seq[String], outs: Seq[(String, String)]): String = {
    val root = mapper.createObjectNode()
    val dkArr = root.putArray("dks")
    dks.foreach(dkArr.add)
    val arr = root.putArray("outs")
    outs.foreach { case (vis, kind) =>
      val o = arr.addObject(); o.put("vis", vis); o.put("kind", kind)
    }
    mapper.writeValueAsString(root)
  }

  /** count(DISTINCT x) support (BEYOND the reference, whose
    * aggregate_functions.rs rejects distinct): rewrites the aggregate to
    * (groups, x) granularity — distinct counts are then DERIVABLE (row
    * counts per group) and every other aggregate stays additively mergeable,
    * so the standard incremental machinery applies to the rewritten plan.
    * Returns (rewritten aggregate, distinct-key columns, visible outputs);
    * None when the plan has no distinct aggs or an unsupported shape
    * (single-column count(DISTINCT x) aggs — over one OR SEVERAL distinct
    * columns, stored at (groups, x, y, ...) granularity — combined with
    * count/sum/min/max qualify; avg+distinct degrades to full refresh).
    */
  private[graft] def distinctRewrite(a: Aggregate): Option[(Aggregate, Seq[String], Seq[(String, String)])] = {
    val hasDistinct = a.aggregateExpressions.exists {
      case Alias(f: UnresolvedFunction, _) => f.isDistinct
      case _ => false
    }
    if (!hasDistinct) return None
    val groupNames = a.groupingExpressions.map {
      case att: UnresolvedAttribute => att.nameParts.last
      case _ => return None
    }
    var dks = Vector.empty[String]
    val outs: Seq[(String, String)] = a.aggregateExpressions.map {
      case att: UnresolvedAttribute => att.nameParts.last -> "group"
      case Alias(att: UnresolvedAttribute, nm) if groupNames.contains(att.nameParts.last) => nm -> "group"
      case Alias(f: UnresolvedFunction, nm) =>
        val fn = f.nameParts.last.toLowerCase(java.util.Locale.ROOT)
        if (f.isDistinct) {
          if (fn != "count" || f.arguments.size != 1) return None
          f.arguments.head match {
            case att: UnresolvedAttribute =>
              val c = att.nameParts.last
              if (groupNames.contains(c)) return None // constant per group
              if (!dks.contains(c)) dks :+= c
              nm -> s"count_distinct:$c"
            case _ => return None
          }
        } else if (Seq("count", "sum", "min", "max").contains(fn)) nm -> fn
        else return None
      case _ => return None
    }
    if (dks.isEmpty) return None
    // distinct keys double as storage columns under their own names — a
    // visible output with the same name would collide
    if (outs.exists(o => dks.contains(o._1))) return None
    val rewritten = a.copy(
      groupingExpressions = a.groupingExpressions ++ dks.map(c => UnresolvedAttribute(Seq(c))),
      aggregateExpressions = a.aggregateExpressions.filter {
        case Alias(f: UnresolvedFunction, _) => !f.isDistinct
        case _ => true
      } ++ dks.map(c => UnresolvedAttribute(Seq(c))))
    Some((rewritten, dks, outs))
  }

  /** (visibleName, sumCol, cntCol, visibleTypeJson) for decomposed avgs. */
  private def readAvgCols(storage: IceTable): Seq[(String, String, String, String)] =
    storage.metadata.properties.get(AvgPropKey).toSeq.flatMap { json =>
      import scala.jdk.CollectionConverters._
      mapper.readTree(json).elements().asScala.map(n =>
        (n.get("vis").asText(), n.get("sum").asText(), n.get("cnt").asText(),
          n.get("type").asText())).toSeq
    }

  def storageIdent(ident: TableIdent): TableIdent =
    TableIdent(ident.namespace, ident.name + "__storage")

  // -------------------------------------------------------------------
  // create / read
  // -------------------------------------------------------------------

  /** Creates the view + empty storage table. First refresh materializes.
    * Aggregate MVs with avg outputs store an exact (sum, count)
    * decomposition instead of the avg itself; DECIMAL avgs reconstruct by
    * decimal division at read, everything else through double — both
    * bit-exact with a full recompute. */
  def create(spark: SparkSession, catalog: Catalog, ident: TableIdent, sql: String): Unit = {
    val parsed = parsedMv(spark, sql)
    val out = fullCompute(spark, catalog, ident, sql)

    // count(DISTINCT x): persist at (groups, x) granularity — the rewritten
    // plan is plain-mergeable, distinct counts derive at read
    val distinctInfo = parsed.distinctRw
    val strategy =
      if (distinctInfo.isDefined) parsed.classifyRewritten else parsed.classifyOriginal
    val avgVis: Seq[String] = strategy match {
      case IncrementalAggregate(_, merges) => merges.collect { case (n, "avg") => n }
      case _ => Nil
    }
    // every avg decomposes — including DECIMAL, whose exact (sum DECIMAL,
    // count LONG) pair reconstructs the declared type by decimal division
    // at read (legacy non-decomposed decimal-avg MVs still full-refresh
    // via the avgCols.isEmpty guard in refresh)
    val decompose = avgVis.nonEmpty

    val storageDf =
      if (decompose || distinctInfo.isDefined) {
        val a = distinctInfo.map(_._1).getOrElse(parsed.original).asInstanceOf[Aggregate]
        buildStorageAggregate(a, build(a.child, i =>
          IceScan.scan(spark, resolve(catalog, ident, sourceOccurrences(a.child)(i)))))
      } else out
    val (struct, _) = IceType.fromSparkAssignIds(storageDf.schema)
    val keyIds = strategy match {
      case IncrementalAggregate(groupNames, _) if decompose || avgVis.isEmpty =>
        struct.fields.filter(f => groupNames.contains(f.name)).map(_.id)
      case _ => Nil
    }
    var props: Map[String, String] = Map.empty
    if (decompose) {
      val arr = mapper.createArrayNode()
      avgVis.foreach { n =>
        val o = arr.addObject()
        o.put("vis", n); o.put("sum", avgSumName(n)); o.put("cnt", avgCntName(n))
        o.put("type", out.schema(n).dataType.json)
      }
      props += AvgPropKey -> mapper.writeValueAsString(arr)
    }
    distinctInfo.foreach { case (_, dks, outs) =>
      props += DistinctPropKey -> writeDistinct(dks, outs)
    }
    val schema = IceSchema(0, struct.fields, identifierFieldIds = keyIds)
    catalog.createTable(storageIdent(ident), schema, PartitionSpec(0, Nil), props)
    // VISIBLE view schema, versioned per view_metadata.rs (storage schema
    // lives on the storage table; the view metadata records what a reader
    // of the view sees)
    val (visStruct, _) = IceType.fromSparkAssignIds(out.schema)
    catalog.createView(ident, sql, IceSchema(1, visStruct.fields))
  }

  /** MV read = MoR scan of the storage table (stale until refreshed).
    * Decomposed avgs are reconstructed as sum/count cast to the view's
    * declared type, and hidden columns are projected away. */
  def read(spark: SparkSession, catalog: Catalog, ident: TableIdent): DataFrame = {
    val storage = catalog.loadTable(storageIdent(ident))
      .getOrElse(throw new IllegalArgumentException(s"no materialized view $ident"))
    val scan = IceScan.scan(spark, storage)
    readDistinct(storage) match {
      case Some((dks, outs)) =>
        // roll the (groups, x, y, ...)-granular storage up to the visible
        // shape: count(DISTINCT x) = countDistinct over the compact key
        // combinations, additive aggs re-sum, min/max re-extremize
        val visible = catalog.loadView(ident)
          .getOrElse(throw new IllegalStateException(s"no view metadata for $ident"))
          .currentSchema.toSpark
        val groupNames = outs.collect { case (n, "group") => n }
        val aggs = outs.collect {
          case (n, kind) if kind.startsWith("count_distinct:") =>
            countDistinct(col(kind.stripPrefix("count_distinct:")))
              .cast(visible(n).dataType).as(n)
          case (n, kind) if kind == "count" || kind == "sum" =>
            sum(col(n)).cast(visible(n).dataType).as(n)
          case (n, "min") => min(col(n)).cast(visible(n).dataType).as(n)
          case (n, "max") => max(col(n)).cast(visible(n).dataType).as(n)
        }
        return scan.groupBy(groupNames.map(col): _*).agg(aggs.head, aggs.tail: _*)
          .select(visible.fieldNames.map(col).toSeq: _*)
      case None =>
    }
    val avgCols = readAvgCols(storage)
    if (avgCols.isEmpty) scan
    else {
      val visible = catalog.loadView(ident)
        .getOrElse(throw new IllegalStateException(s"no view metadata for $ident"))
        .currentSchema.toSpark
      val withAvgs = avgCols.foldLeft(scan) { case (df, (vis, s, c, tpe)) =>
        val declared = org.apache.spark.sql.types.DataType.fromJson(tpe)
        val rebuilt = declared match {
          // DECIMAL avg: divide the exact decimal sum by the long count in
          // DECIMAL arithmetic (the analyzer applies the same
          // DecimalPrecision-widened Divide that Average itself evaluates),
          // then cast to the declared result type — bit-exact with a full
          // recompute; routing through double would lose low digits
          case _: org.apache.spark.sql.types.DecimalType =>
            (col(s) / col(c)).cast(declared)
          case _ => (col(s).cast("double") / col(c)).cast(declared)
        }
        df.withColumn(vis, rebuilt)
      }
      withAvgs.select(visible.fieldNames.map(col).toSeq: _*)
    }
  }

  /** Plain (non-materialized) view read: inline the SQL over current-snapshot
    * sources (D5, table.rs:170-190). */
  def readView(spark: SparkSession, catalog: Catalog, ident: TableIdent): DataFrame = {
    val sql = catalog.loadView(ident)
      .getOrElse(throw new IllegalArgumentException(s"no view $ident")).sql
    fullCompute(spark, catalog, ident, sql)
  }

  /** CREATE (plain, non-materialized) VIEW: computes the visible schema from
    * the query and stores versioned view metadata. */
  def createView(spark: SparkSession, catalog: Catalog, ident: TableIdent,
                 sql: String): Unit = {
    val out = fullCompute(spark, catalog, ident, sql)
    val (visStruct, _) = IceType.fromSparkAssignIds(out.schema)
    catalog.createView(ident, sql, IceSchema(1, visStruct.fields))
  }

  /** REPLACE VIEW: appends a new version to the view metadata (version log
    * + history retained per view_metadata.rs) instead of dropping and
    * recreating — readers pick up the new current version atomically.
    */
  def replaceView(spark: SparkSession, catalog: Catalog, ident: TableIdent,
                  newSql: String): Unit = {
    val prev = catalog.loadView(ident)
      .getOrElse(throw new IllegalArgumentException(s"no view $ident to replace"))
    val out = fullCompute(spark, catalog, ident, newSql)
    val (visStruct, _) = IceType.fromSparkAssignIds(out.schema)
    catalog.replaceView(ident, prev.replaced(newSql,
      IceSchema(1, visStruct.fields), System.currentTimeMillis()))
  }

  // -------------------------------------------------------------------
  // refresh (M1, materialized_view/mod.rs:32-214)
  // -------------------------------------------------------------------

  def refresh(spark: SparkSession, catalog: Catalog, ident: TableIdent): RefreshResult = {
    val sql = catalog.loadView(ident)
      .getOrElse(throw new IllegalArgumentException(s"no materialized view $ident")).sql
    val storage = catalog.loadTable(storageIdent(ident))
      .getOrElse(throw new IllegalArgumentException(s"no storage table for $ident"))
    val parsed = parsedMv(spark, sql)
    // distinct MV: all storage-side work happens on the (groups, x)-granular
    // rewritten plan (same child, so source occurrences are unchanged)
    val useRewrite = readDistinct(storage).isDefined && parsed.distinctRw.isDefined
    val plan = if (useRewrite) parsed.distinctRw.get._1 else parsed.original
    val occurrenceIdents = parsed.occurrences
    val sources: Seq[IceTable] = occurrenceIdents.map(resolve(catalog, ident, _))

    val state = readState(storage)
    // freshness per source (mod.rs:291-358): fresh / outdated / invalid
    val freshCheck = sources.forall { t =>
      val cur = t.currentSnapshot(None).map(_.snapshotId.toString)
      state.get(t.metadata.tableUuid) == cur
    }
    if (freshCheck && state.nonEmpty) return RefreshResult(Fresh, 0L)

    // a source whose stored snapshot has been expired/unknown, or that has
    // never been seen, can't diff — degrade to full recompute
    val invalid = sources.exists { t =>
      state.get(t.metadata.tableUuid).exists(s => t.snapshotById(s.toLong).isEmpty)
    }
    val firstRefresh = sources.exists(t => !state.contains(t.metadata.tableUuid))
    // deletes in the delta range are RETRACTIONS of rows outside it — the
    // positive-delta algebra can't express them (the reference's NegDelta
    // scan is EmptyTable for the same reason, transform.rs) → full recompute
    val sawDeletes = sources.exists { t =>
      val oldSeq = state.get(t.metadata.tableUuid)
        .flatMap(s => t.snapshotById(s.toLong)).map(_.sequenceNumber)
      t.currentSnapshot(None).exists { snap =>
        t.deleteFiles(snap).exists(d =>
          d.sequenceNumber.exists(seq => oldSeq.forall(seq > _)))
      }
    }

    val avgCols = readAvgCols(storage)
    val strategy0 = (if (useRewrite) parsed.classifyRewritten
                     else parsed.classifyOriginal) match {
      // an avg MV whose storage was NOT decomposed (decimal avg) can't
      // merge — recompute in full every time
      case IncrementalAggregate(_, merges)
        if merges.exists(_._2 == "avg") && avgCols.isEmpty => FullOverwrite
      case s => s
    }
    val strategy = if (invalid || firstRefresh || sawDeletes) FullOverwrite else strategy0

    val newState: Map[String, String] = sources.map(t =>
      t.metadata.tableUuid -> t.currentSnapshot(None).map(_.snapshotId.toString).getOrElse("")).toMap
    val stateProps = Map(StatePropKey -> writeState(newState))

    // full materialization in the STORAGE shape (decomposed for avg MVs,
    // (groups, x)-granular for distinct MVs — `plan` is already rewritten)
    def materializeFull(): DataFrame =
      if (avgCols.isEmpty && readDistinct(storage).isEmpty)
        fullCompute(spark, catalog, ident, sql)
      else {
        val a = plan.asInstanceOf[Aggregate]
        buildStorageAggregate(a, build(a.child,
          i => IceScan.scan(spark, sources(i))))
      }

    // known-cardinality writes: one ~4M-row file chunk per write instead of
    // the optimizer's join-size guess (which fans tiny MV outputs over the
    // whole cluster) — cardinality comes from the materialized cache and the
    // manifest-exact stored row count, no extra data pass
    def fileHint(rows: Long): Option[Int] = IceWrite.fileCountHint(rows)

    // The sizing count() exists ONLY to pick the output file count. For an
    // expansion-free plan (no row-multiplying join, no generator, no Expand)
    // output rows never exceed input rows, and the inputs are manifest-exact
    // driver-side — when that bound already pins the hint to one ~4M-row
    // file, the count() job is pure per-refresh constant (the q14/q97
    // latency class) and is skipped; the parallel write jobs then fill the
    // shared cache under RDD block locks instead of a dedicated
    // materialization pass.
    //
    // The check runs on the ANALYZED plan of the frame about to be written
    // (analysis is driver-side and free): the parsed plan hides expansion —
    // `SELECT explode(x)` only becomes Generate during analysis, and
    // grouping sets surface as Expand ([[expandsRows]]).
    def rowBound(incremental: Boolean): Long = sources.map { t =>
      val oldSeq =
        if (incremental)
          state.get(t.metadata.tableUuid)
            .flatMap(s => t.snapshotById(s.toLong)).map(_.sequenceNumber)
        else None
      t.currentSnapshot(None).map(snap =>
        t.dataFiles(snap, afterSequence = oldSeq).map(_.dataFile.recordCount).sum)
        .getOrElse(0L)
    }.sum

    strategy match {
      case FullOverwrite | IncrementalOverwrite =>
        val out0 = materializeFull()
        // expansion-free: the manifest-exact input bound sizes the write
        // directly ([[boundHint]] — capped for row-preserving plans,
        // pinned-to-one for aggregates), so small AND mid-size refreshes
        // skip the sizing count() job
        val hint = boundHint(out0.queryExecution.analyzed, rowBound(incremental = false))
        val small = hint.isDefined
        // small: single consumer, bound-derived hint — no cache, no count job
        val out = if (small) out0 else out0.cache()
        val files = IceWrite.writeDataFiles(spark, storage, out, storage.schema,
          outFiles = hint.orElse(fileHint(out.count())))
        storage.newTransaction(None).replace(files).updateProperties(stateProps).commit()
        val n = files.map(_.recordCount).sum
        if (!small) out.unpersist()
        RefreshResult(strategy, n)

      case IncrementalAppend => withPins { pin =>
        val delta = deltaCompute(spark, plan, sources, state, pin)
        val files = IceWrite.writeDataFiles(spark, storage, delta, storage.schema)
        storage.newTransaction(None).appendData(files).updateProperties(stateProps).commit()
        RefreshResult(strategy, files.map(_.recordCount).sum)
      }

      case agg @ IncrementalAggregate(groupNames, merges0) => withPins { pin =>
        val aggNode = plan.asInstanceOf[Aggregate]
        val deltaChild = deltaCompute(spark, aggNode.child, sources, state, pin)
        // avg outputs merge via their hidden exact (sum, count) pair
        val merges = merges0.flatMap {
          case (n, "avg") => Seq(avgSumName(n) -> "sum", avgCntName(n) -> "count")
          case other => Seq(other)
        }
        val deltaAgg = pin(
          (if (avgCols.isEmpty) buildAggregate(aggNode, deltaChild)
           else buildStorageAggregate(aggNode, deltaChild)).cache()) // M3: cache ≈ ForkNode
        val stored = IceScan.scan(spark, storage)
        val outCols = storage.schema.fields.map(_.name)

        // J4 merge join (transform.rs:107-196) in ONE pass: delta groups
        // LEFT-join their stored generation — present → merge (null-safe
        // coalesce/least/greatest), absent → the delta row passes through
        // the same expressions unchanged (coalesce falls to d, least/
        // greatest ignore the null side). The previous inner + left_anti +
        // union shape executed the stored scan twice and was half of the
        // refresh's dominant write-job cost.
        // NULL-SAFE group-key equality (<=>): a USING left join would never
        // match a NULL-keyed stored generation, so the NULL group's delta
        // row would append unmerged next to it (and the null-safe equality
        // delete below masks the old generation — both sides must agree on
        // null semantics)
        val d0 = deltaAgg.as("d")
        val s0 = stored.as("s")
        val pos = d0.join(s0,
            groupNames.map(c => col(s"d.$c") <=> col(s"s.$c")).reduce(_ && _), "left")
          .select(outCols.map { c =>
            if (groupNames.contains(c)) col(s"d.$c").as(c)
            else merges.find(_._1 == c) match {
              // count/sum → stored + delta (null-safe); min/max → least/greatest
              // (aggregate_functions.rs:5-100)
              case Some((_, "count")) | Some((_, "sum")) =>
                coalesce(col(s"s.$c") + col(s"d.$c"), col(s"s.$c"), col(s"d.$c")).as(c)
              case Some((_, "min")) => least(col(s"s.$c"), col(s"d.$c")).as(c)
              case Some((_, "max")) => greatest(col(s"s.$c"), col(s"d.$c")).as(c)
              case other => throw new IllegalStateException(s"unmergeable column $c: $other")
            }
          }: _*)

        // EVERY delta group's previous generation gets masked by an
        // equality delete on the group keys, committed with the SAME
        // sequence number as the merged rows (the delete applies strictly
        // below it). Keys with no stored generation are a semantic no-op
        // for the delete — which removes the left_semi probe against the
        // stored scan (a whole extra join execution) that restricting to
        // provably-changed keys used to cost. Iceberg's upsert writers
        // make the same unconditional delete+insert trade.
        val delKeys = deltaAgg.select(groupNames.map(col): _*).distinct()

        val keyIds = storage.schema.fields.filter(f => groupNames.contains(f.name)).map(_.id)
        // pos rows == delta-group rows by construction (left join), so the
        // file hint needs no stored-row estimate. When the manifest-exact
        // added-row bound pins the hint to one file, skip the sizing
        // count(): the two parallel write jobs below fill the shared
        // deltaAgg cache under RDD block locks (one computes, the other
        // waits on the block) — same work, one fewer scheduler round trip.
        // The stored side of the pos join broadcasts off IceScan's
        // manifest-exact stats either way, so the join plan is unaffected
        // by deltaAgg's unmaterialized estimate.
        val hint = boundHint(deltaAgg.queryExecution.analyzed, rowBound(incremental = true))
          .orElse(fileHint(deltaAgg.count()))
        // the two file sets are independent jobs over the cached delta —
        // overlap them; the commit below still lands both atomically
        val (dataFiles, delFiles) = IceWrite.inParallel(
          IceWrite.writeDataFiles(spark, storage, pos, storage.schema,
            outFiles = hint),
          IceWrite.writeDataFiles(spark, storage, delKeys,
            storage.schema.project(keyIds), content = ManifestModel.ContentEqualityDeletes,
            equalityIds = keyIds, outFiles = hint))
        storage.newTransaction(None)
          .appendData(dataFiles).appendDeletes(delFiles)
          .updateProperties(stateProps).commit()
        RefreshResult(agg, dataFiles.map(_.recordCount).sum)
      }

      case Fresh => RefreshResult(Fresh, 0L)
    }
  }

  /** Runs an incremental refresh with a `pin` that registers each frame
    * it caches, and unpersists every pinned frame once the refresh has
    * committed or failed. */
  private def withPins[A](body: (DataFrame => DataFrame) => A): A = {
    val pinned = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    try body { df => pinned += df; df }
    finally pinned.foreach(_.unpersist())
  }

  // -------------------------------------------------------------------
  // plan analysis
  // -------------------------------------------------------------------

  /** Source-table occurrences in deterministic pre-order (one entry per
    * leaf, not per distinct table — multilinearity is per occurrence).
    * Traverses INTO subquery expressions (scalar/IN/EXISTS): a source that
    * only appears inside a subquery still drives freshness and must be
    * registered/rewritten on the full-refresh path. */
  private[graft] def sourceOccurrences(plan: LogicalPlan): Seq[TableIdent] =
    plan.collectWithSubqueries {
      case r: UnresolvedRelation => TableIdent.parse(r.multipartIdentifier.mkString("."))
    }

  /** Bare names resolve in the MV's own namespace (reference views carry a
    * default_namespace, view_metadata.rs:307-380). */
  private def resolve(catalog: Catalog, mv: TableIdent, src: TableIdent): IceTable = {
    val candidates = Seq(src, TableIdent(mv.namespace ++ src.namespace, src.name))
    candidates.flatMap(catalog.loadTable).headOption
      .getOrElse(throw new IllegalArgumentException(s"unknown MV source table $src"))
  }

  /** A3 classification. Anything outside {Project, Filter, inner/cross Join,
    * Union, SubqueryAlias, Aggregate, Sort, Limit, TableScan} → full
    * recompute (the reference degrades Window the same way,
    * materialized_view/mod.rs:377-408). */
  private[graft] def classify(plan: LogicalPlan): Strategy = {
    var supported = true
    var sorts = 0
    var aggs = 0
    plan.foreach {
      case _: UnresolvedRelation | _: SubqueryAlias | _: Project | _: Filter | _: Union =>
      case j: Join =>
        if (!(j.joinType == Inner || j.joinType == Cross)) supported = false
      case _: Sort | _: GlobalLimit | _: LocalLimit => sorts += 1
      case _: Aggregate => aggs += 1
      case _ => supported = false
    }
    // window functions and subqueries hide INSIDE expression lists at parse
    // time (no Window node until the analyzer runs ExtractWindowExpressions)
    plan.foreach { node =>
      node.expressions.foreach(_.foreach {
        case _: org.apache.spark.sql.catalyst.expressions.WindowExpression => supported = false
        case _: org.apache.spark.sql.catalyst.expressions.SubqueryExpression => supported = false
        case e if e.nodeName == "UnresolvedWindowExpression" => supported = false
        case _ =>
      })
    }
    if (!supported) return FullOverwrite
    if (aggs > 1) return FullOverwrite
    if (aggs == 1) {
      plan match {
        case a: Aggregate => aggInfo(a).getOrElse(FullOverwrite)
        case _ => if (sorts > 0) IncrementalOverwrite else FullOverwrite
      }
    } else if (sorts > 0) IncrementalOverwrite
    else IncrementalAppend
  }

  /** Mergeable-aggregate check: group exprs are plain columns
    * (transform.rs:499-515) and every other output is an aliased
    * count/sum/min/max (aggregate_functions.rs rejects the rest). */
  private def aggInfo(a: Aggregate): Option[IncrementalAggregate] = {
    val groupNames = a.groupingExpressions.map {
      case att: UnresolvedAttribute => att.nameParts.last
      case _ => return None
    }
    val merges = a.aggregateExpressions.flatMap {
      case att: UnresolvedAttribute =>
        if (groupNames.contains(att.nameParts.last)) None else return None
      case Alias(att: UnresolvedAttribute, name) =>
        if (groupNames.contains(att.nameParts.last)) None else return None
      case Alias(f: UnresolvedFunction, name) =>
        val fn = f.nameParts.last.toLowerCase(java.util.Locale.ROOT)
        // avg goes beyond the reference (aggregate_functions.rs rejects it):
        // it merges via a (sum, count) decomposition in the storage table
        if (f.isDistinct || !Seq("count", "sum", "min", "max", "avg").contains(fn)) return None
        Some(name -> fn)
      case _ => return None
    }
    Some(IncrementalAggregate(groupNames, merges))
  }

  /** Hidden storage column names for a decomposed avg output column. */
  private def avgSumName(vis: String) = s"__avg_${vis}_s"
  private def avgCntName(vis: String) = s"__avg_${vis}_c"

  /** Aggregate node rebuilt for STORAGE: every `avg(e) AS a` becomes
    * `sum(e) AS __avg_a_s, count(e) AS __avg_a_c` (exact, mergeable with
    * `+`); everything else passes through. The visible avg is reconstructed
    * at read as sum/count. */
  private[graft] def buildStorageAggregate(a: Aggregate, child: DataFrame): DataFrame = {
    val rewrittenExprs = a.aggregateExpressions.flatMap {
      case al @ Alias(f: UnresolvedFunction, name) if f.nameParts.last.equalsIgnoreCase("avg") =>
        Seq(
          Alias(f.copy(nameParts = Seq("sum")), avgSumName(name))(),
          Alias(f.copy(nameParts = Seq("count")), avgCntName(name))())
      case other => Seq(other)
    }
    buildAggregate(a.copy(aggregateExpressions = rewrittenExprs), child)
  }

  // -------------------------------------------------------------------
  // plan execution over bindings
  // -------------------------------------------------------------------

  /** Full recompute path: sources registered as temp views and the parsed
    * plan's relation names rewritten to them, so EVERY SQL shape (windows,
    * outer joins, subqueries) works at full-refresh fidelity even when
    * deltas can't — including namespace-qualified source names (`db.src`),
    * which a plain temp-view registration could not resolve. */
  private def fullCompute(spark: SparkSession, catalog: Catalog, mv: TableIdent, sql: String): DataFrame = {
    val plan = parsedMv(spark, sql).original
    def mangled(parts: Seq[String]): String = "__graft_mv_src_" + parts.mkString("__")
    sourceOccurrences(plan).distinct.foreach { src =>
      IceScan.scan(spark, resolve(catalog, mv, src))
        .createOrReplaceTempView(mangled(src.namespace :+ src.name))
    }
    // transformWithSubqueries: relations inside scalar/IN/EXISTS subqueries
    // must be rewritten too, or they'd bind to unrelated session tables
    val rewritten = plan.transformWithSubqueries {
      case r: UnresolvedRelation =>
        r.copy(multipartIdentifier = Seq(mangled(r.multipartIdentifier)))
    }
    GraftShim.ofRows(spark, rewritten)
  }

  /** Δ(plan) over the changed sources: union over all non-empty subsets of
    * changed occurrences, each term the plan rebuilt with subset→delta-scan
    * and rest→old-snapshot-scan bindings (J2/J3 algebra generalized). */
  private def deltaCompute(spark: SparkSession, plan: LogicalPlan,
                           sources: Seq[IceTable], state: Map[String, String],
                           pin: DataFrame => DataFrame): DataFrame = {
    // occurrences of `plan` are a suffix of the full query's occurrence list
    // only when plan IS the full query; recompute for this subtree
    val occs = sourceOccurrences(plan)
    val tables = occs.zipWithIndex.map { case (_, i) => sources(i) }
    val oldSnap: Seq[Option[Long]] = tables.map(t =>
      state.get(t.metadata.tableUuid).map(_.toLong))
    val curSnap: Seq[Option[Long]] = tables.map(_.currentSnapshot(None).map(_.snapshotId))
    val changed: Seq[Int] = tables.indices.filter(i => oldSnap(i) != curSnap(i))
    require(changed.size <= 5, s"delta expansion over ${changed.size} changed occurrences too wide")

    def oldScan(i: Int): DataFrame = oldSnap(i) match {
      case Some(id) => IceScan.scan(spark, tables(i),
        options = IceScan.ScanOptions(snapshotId = Some(id)))
      case None => emptyLike(spark, tables(i))
    }
    def deltaScan(i: Int): DataFrame = {
      val afterSeq = oldSnap(i).flatMap(id => tables(i).snapshotById(id)).map(_.sequenceNumber)
      IceScan.scan(spark, tables(i), options = IceScan.ScanOptions(
        snapshotId = curSnap(i), afterSequence = afterSeq.orElse(Some(0L))))
    }

    // each delta is read by 2^(changed - 1) terms: cache it only when that
    // is more than one, and hand the cached frames to the caller to release
    val deltas: Map[Int, DataFrame] = changed.map { i =>
      i -> (if (changed.size > 1) pin(deltaScan(i).cache()) else deltaScan(i))
    }.toMap
    val terms = for {
      mask <- 1 until (1 << changed.size)
      subset = changed.zipWithIndex.collect { case (occ, bit) if (mask & (1 << bit)) != 0 => occ }.toSet
    } yield build(plan, i => if (subset.contains(i)) deltas(i) else oldScan(i))
    terms.reduce(_ unionByName _)
  }

  private def emptyLike(spark: SparkSession, t: IceTable): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      t.schema.toSpark)

  private def colOf(e: Expression): Column = GraftShim.column(e)

  /** Rebuilds an unresolved SPJU(+Agg/Sort/Limit) plan as DataFrame ops, with
    * leaf i bound via `bind(i)` (i = pre-order occurrence index). The
    * analyzer resolves every wrapped expression against the rebuilt
    * children — names behave exactly as in the original SQL. */
  private[graft] def build(plan: LogicalPlan, bind: Int => DataFrame): DataFrame = {
    var next = -1
    def go(p: LogicalPlan): DataFrame = p match {
      case _: UnresolvedRelation => next += 1; bind(next)
      case SubqueryAlias(id, child) => go(child).alias(id.name)
      case Project(list, child) => go(child).select(list.map(colOf): _*)
      case Filter(cond, child) => go(child).filter(colOf(cond))
      case j: Join =>
        val l = go(j.left); val r = go(j.right)
        j.condition match {
          case Some(c) => l.join(r, colOf(c), j.joinType.sql.toLowerCase(java.util.Locale.ROOT).replace(" ", "_"))
          case None => l.crossJoin(r)
        }
      case u: Union => u.children.map(go).reduce(_ union _)
      case a: Aggregate => buildAggregate(a, go(a.child))
      case s: Sort => go(s.child).sort(s.order.map(colOf): _*)
      case g: GlobalLimit => g.limitExpr match {
        case lit: Literal => go(g.child).limit(lit.value.toString.toInt)
        case other => throw new UnsupportedOperationException(s"non-literal limit: $other")
      }
      case l: LocalLimit => go(l.child)
      case Distinct(child) => go(child).distinct()
      case other => throw new UnsupportedOperationException(
        s"unsupported plan node for delta rebuild: ${other.nodeName}")
    }
    go(plan)
  }

  /** Aggregate node → groupBy().agg(), output reordered to SQL order. */
  private[graft] def buildAggregate(a: Aggregate, child: DataFrame): DataFrame = {
    val groupCols = a.groupingExpressions.map(colOf)
    val groupSql = a.groupingExpressions.map(_.sql).toSet
    val outNames: Seq[String] = a.aggregateExpressions.map {
      case Alias(_, name) => name
      case att: UnresolvedAttribute => att.nameParts.last
      case e => throw new UnsupportedOperationException(
        s"aggregate output must be a column or aliased aggregate: ${e.sql}")
    }
    val aggExprs = a.aggregateExpressions.filter {
      case att: UnresolvedAttribute => !groupSql.contains(att.sql)
      case Alias(att: UnresolvedAttribute, _) => !groupSql.contains(att.sql)
      case _ => true
    }.map(colOf)
    val grouped = child.groupBy(groupCols: _*)
    val out = aggExprs match {
      case head +: tail => grouped.agg(head, tail: _*)
      case _ => throw new UnsupportedOperationException("aggregate with no aggregate expressions")
    }
    out.select(outNames.map(col): _*)
  }

  // -------------------------------------------------------------------
  // refresh state (M4)
  // -------------------------------------------------------------------

  private def readState(storage: IceTable): Map[String, String] =
    storage.metadata.properties.get(StatePropKey) match {
      case None => Map.empty
      case Some(json) =>
        val n = mapper.readTree(json)
        import scala.jdk.CollectionConverters._
        n.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
    }

  private def writeState(state: Map[String, String]): String = {
    val n = mapper.createObjectNode()
    state.foreach { case (k, v) => n.put(k, v) }
    mapper.writeValueAsString(n)
  }
}
