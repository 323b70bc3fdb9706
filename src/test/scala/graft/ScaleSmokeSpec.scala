package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Dedup

/** Self-scale smoke for the dedup tail (q24 / q47 / q77 / q78): derives a
  * ~10× documents corpus locally and confirms the pipelines stay
  * near-linear — pair volume scales with the data, clustering converges,
  * and no driver-side state explodes.
  *
  * The 10× corpus is 10 CAESAR-SHIFTED copies of the base: a per-copy
  * bijective letter map preserves every intra-copy shingle relationship
  * exactly (token n-gram sets map 1:1, so Jaccard/containment values are
  * identical per copy) while cross-copy token overlap collapses to
  * punctuation and digits — the scaled corpus is 10 independent replicas
  * of the SAME similarity structure, which makes expected output sizes
  * checkable: the exact algorithms (q77/q78) must emit exactly 10× the
  * base pairs; the LSH pipeline (q24) draws independent candidate sets
  * per copy so its count is asserted structurally (no cross-copy pairs)
  * rather than numerically.
  *
  * Suite default: sf0.01 base (500 → 5,000 docs) to keep CI fast. The
  * bench-scale run documented in SURVEY §bench uses
  *   -Dgraft.scale.smoke.dir=/root/testdata/sf0.1  (5,000 → 50,000 docs).
  * Wall-times print as `[scale-smoke]` lines; they are documentation, not
  * assertions — a loaded box must not flake the suite.
  */
class ScaleSmokeSpec extends AnyFunSuite with BeforeAndAfterAll {

  // CI default: 8 cores. The bench-scale record (SURVEY §6, committed
  // SCALE_SMOKE.json) runs -Dgraft.scale.smoke.cpus=32 like the bench.
  private val cpus = sys.props.getOrElse("graft.scale.smoke.cpus", "8").toInt

  // -Dgraft.scale.smoke.partitions overrides the shuffle width (default:
  // one per core, the official-record config) — the CPU-ratio experiment
  // lever. Measured (SURVEY §6): 10× width made q78's CPU WORSE, ruling
  // out per-partition spill pressure; the ~3×-above-proportional CPU at
  // 10× is shared-JVM memory pressure at a 10× working set, which a real
  // cluster does not see (per-executor working set stays constant).
  private val shufflePartitions =
    sys.props.getOrElse("graft.scale.smoke.partitions", cpus.toString)

  private lazy val spark = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", shufflePartitions)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .appName("scale-smoke").getOrCreate()

  // Machine-checkable run record (VERDICT r11 #8): every timed phase and
  // every named assertion lands in SCALE_SMOKE.json at suite end, so the
  // near-linearity claim is a committed artifact, not a hand-transcribed
  // table. The record carries dir + copies — a CI run at sf0.01 is
  // distinguishable from the bench-scale sf0.1 record at a glance.
  // box state at suite START (class init) — the record's taint inputs
  private val loadStart = BoxState.loadAvg()
  private val foreignStart = BoxState.foreignJvms()
  // mid-run exogenous-load watch (VERDICT r13 #2): the committed r13 smoke
  // was "untainted" by its endpoint samples while an exogenous spike landed
  // mid-run (load_end 20.78) — foreign CPU share per timed phase catches
  // exactly that, without the own-work confound of the raw load average
  private var lastTicks = BoxState.cpuTicks()
  private var foreignCpuMax = 0.0
  private var loadMax = loadStart

  private val timings = scala.collection.mutable.LinkedHashMap[String, Double]()
  // executor task CPU seconds per timed phase (VERDICT r14 #1): CPU time is
  // deterministic under box contention — a neighbor stealing cores
  // stretches wall-clock, not CPU-seconds — so the 10x scale RATIOS gate on
  // these, with wall kept informational
  private val cpuTimings = scala.collection.mutable.LinkedHashMap[String, Double]()
  private lazy val cpuNanos =
    org.apache.spark.sql.GraftShim.addTaskMetricListener(spark)(_.executorCpuTime)
  private val checks = scala.collection.mutable.LinkedHashMap[String, Boolean]()
  // dimensionless observations (candidate/pair counts, ratios) — the cost
  // decompositions the wall-clock ratios are explained by
  private val metrics = scala.collection.mutable.LinkedHashMap[String, Double]()

  private def check(name: String, cond: Boolean, clue: => String): Unit = {
    checks(name) = cond
    assert(cond, clue)
  }

  // The COMPLETE assertion inventory: the official record requires every
  // one of these to have run and passed, so a -z subset, a test that died
  // before its checks, or any red assert can never clobber the committed
  // artifact (the BENCH_full clobber class). Adding a check() to a test
  // means adding its name here, or bench-scale runs drop to the scratch
  // file — a loud, safe failure mode.
  private val ExpectedChecks = Set(
    "q24_base_nonempty", "q24_zero_cross_copy", "q24_volume_banded",
    "q47_one_label_per_doc", "q47_labels_canonical",
    "q77_zero_cross_copy", "q77_exact_10x",
    "q78_zero_cross_copy", "q78_exact_10x", "q77q78_cpu_ratio_banded",
    "q86_zero_cross_copy", "q86_exact_10x", "q86_cpu_ratio_banded",
    "q86_candidates_linear",
    "bpe_rows_10x", "bpe_copy0_exact",
    "ppl_rows_10x", "ppl_copy0_exact",
    "html_byte_exact_10x", "url_idempotent_10x",
    "dsir_rows_scored_10x", "dsir_copy0_featurization_exact",
    "cms_one_sided_10x", "cms_max_exact_invariant",
    "chunk_rows_exact_10x",
    "mor_scoped_delete_volume", "mor_results_exact",
    "mor_plan_unions_bounded", "mor_antijoins_per_seq_point",
    "mor_dv_zero_parquet_pos", "mor_dv_results_exact", "mor_dv_filter_plan",
    "ann_cells_single_copy", "ann_cells_per_copy",
    "ann_zero_cross_copy", "ann_candidates_nprobe_bounded")

  private def writeRecord(): Unit = {
    def j(s: String) = "\"" + s.replace("\"", "'") + "\""
    // Locale.ROOT: a comma-decimal JVM locale would emit invalid JSON
    def r2(x: Double) = String.format(java.util.Locale.ROOT, "%.2f", Double.box(x))
    val t = timings.map { case (k, v) => s"${j(k)}:${r2(v)}" }.mkString("{", ",", "}")
    val c = cpuTimings.map { case (k, v) => s"${j(k)}:${r2(v)}" }.mkString("{", ",", "}")
    val a = checks.map { case (k, v) => s"${j(k)}:$v" }.mkString("{", ",", "}")
    val m = metrics.map { case (k, v) => s"${j(k)}:${r2(v)}" }.mkString("{", ",", "}")
    // box state + taint (the BENCH_full fields): wall-clock ratios in this
    // record are only comparable across rounds load-matched — a tainted
    // run self-identifies instead of needing adjudication
    def r3(x: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(x))
    val loadEnd = BoxState.loadAvg()
    loadMax = math.max(loadMax, loadEnd)
    val foreignEnd = BoxState.foreignJvms()
    val taintVerdict = BoxState.tainted(loadStart, foreignStart, foreignEnd, foreignCpuMax)
    val box = s""""box":{"load_start":${r3(loadStart)},"load_end":${r3(loadEnd)},""" +
      s""""load_max":${r3(loadMax)},"foreign_cpu_max":${r3(foreignCpuMax)},""" +
      s""""foreign_jvms_start":$foreignStart,"foreign_jvms_end":$foreignEnd,""" +
      s""""tainted":$taintVerdict}"""
    val json = s"""{"dir":${j(sfDir)},"copies":$copies,"cpus":$cpus,"timings_sec":$t,"cpu_sec":$c,"metrics":$m,$box,"asserts":$a}"""
    // the BENCH_full/BENCH_only convention: only an EXPLICIT bench-scale
    // run (-Dgraft.scale.smoke.dir=...) that produced the COMPLETE
    // assertion inventory, all green, may write the committed record;
    // anything else writes a scratch file so no partial/CI pass can
    // clobber the official sf0.1 artifact
    // a TAINTED run (loaded box, foreign JVMs) may never clobber the
    // committed artifact either — it self-identifies in the scratch file
    val official = sys.props.contains("graft.scale.smoke.dir") &&
      checks.keySet == ExpectedChecks && checks.values.forall(identity) &&
      !taintVerdict
    val path = java.nio.file.Paths.get(sys.props("user.dir"),
      if (official) "SCALE_SMOKE.json" else "SCALE_SMOKE_ci.json")
    java.nio.file.Files.write(path,
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  override def afterAll(): Unit = {
    try writeRecord() finally spark.stop()
  }

  private val sfDir = sys.props.getOrElse("graft.scale.smoke.dir", "/root/testdata/sf0.01")
  private val copies = sys.props.get("graft.scale.smoke.copies").map(_.toInt).getOrElse(10)
  private val CopyStride = 100000000L

  private val alpha = "abcdefghijklmnopqrstuvwxyz"
  private val digits = "0123456789"

  // copy 0 is the identity shift == the base corpus, so 1× and 10× are
  // directly comparable (both lower-cased through the same path). Digits
  // shift too: numeric tokens must not collide across copies, or shared
  // number-heavy shingles would couple the replicas (and inflate their df
  // in the scaled corpus, perturbing q78's rarity blocking).
  private def copyK(base: DataFrame, k: Int): DataFrame = {
    val shifted = alpha.drop(k % 26) + alpha.take(k % 26) +
      digits.drop(k % 10) + digits.take(k % 10)
    base.select(
      (col("doc_id") + lit(k * CopyStride)).as("doc_id"),
      translate(lower(col("text")), alpha + digits, shifted).as("text"))
  }

  private lazy val base1x: DataFrame = {
    val d = copyK(Tables.documents(spark, sfDir), 0).cache()
    d.count()
    d
  }
  private lazy val base10x: DataFrame = {
    val d = (0 until copies).map(copyK(Tables.documents(spark, sfDir), _))
      .reduce(_ unionByName _).repartition(cpus).cache()
    d.count()
    d
  }

  // one tiny pass through each kernel so codegen/JIT warmup is not billed
  // to the 1x timer (the ratio, not the absolute, is the signal here)
  private lazy val warm: Unit = {
    val tiny = base1x.limit(50)
    Dedup.minhashNearDups(tiny, "doc_id", "text").count()
    Dedup.jaccardJoinExact(tiny, "doc_id", "text").count()
    Dedup.containmentJoin(tiny, "doc_id", "text", maxDf = 10).count()
  }

  private def timed[T](label: String)(f: => T): T = {
    warm
    // the Bench r10 lesson: drain the async ContextCleaner backlog and
    // settle before timing, or earlier tests' cache/broadcast cleanup
    // lands inside this window (measured 3x inflation on q78-in-suite)
    System.gc(); Thread.sleep(150); System.gc()
    // per-phase CPU attribution needs in-flight task-end events delivered
    // on both edges of the window (the listener bus is async)
    org.apache.spark.sql.GraftShim.drainListenerBus(spark)
    val c0 = cpuNanos.get()
    val t0 = System.nanoTime()
    val r = f
    val secs = (System.nanoTime() - t0) / 1e9
    timings(label) = secs
    org.apache.spark.sql.GraftShim.drainListenerBus(spark)
    val cpuSecs = (cpuNanos.get() - c0) / 1e9
    cpuTimings(label) = cpuSecs
    val nowTicks = BoxState.cpuTicks()
    foreignCpuMax = math.max(foreignCpuMax, BoxState.foreignShare(lastTicks, nowTicks))
    lastTicks = nowTicks
    loadMax = math.max(loadMax, BoxState.loadAvg())
    info(f"[scale-smoke] $label: $secs%.2f s (cpu $cpuSecs%.2f s)")
    println(f"[scale-smoke] $label: $secs%.2f s (cpu $cpuSecs%.2f s)")
    r
  }

  /** Gates a 10x phase's CPU-time ratio against its 1x phase: CPU-seconds
    * are load-immune (the r14 adjudication sink — two UNTAINTED runs moved
    * q86's 10x WALL 194↔100 s while counts stayed exact), so the
    * near-linearity claim gates here and wall stays informational. The
    * upper band is 5·copies: the 1x DENOMINATOR is a ~4 s phase whose CPU
    * carries ±50% JIT/cache-state variance (measured across four untainted
    * r15 runs: q78 1x CPU 21/28/30/47 s while 10x stayed 843-921 s, ratios
    * 30-40), while a quadratic plan reads ~copies² ≈ 100x — the band keeps
    * ≥2x discrimination margin either way. */
  /** CPU ratio over label SETS: phases that share lazily-built standing
    * frames (q77/q78's docShingleArrays) trade the corpus-scale build
    * between them depending on cache/checkpoint eviction — measured
    * per-phase 10x CPU swinging 3x in BOTH directions across untainted
    * runs while the two phases' SUM stayed within 1.3x (and q24, which
    * shares nothing, stayed within 1.25x) — so only the sum is
    * attributable and gateable. */
  private def checkCpuRatio(name: String, labels1x: Seq[String], labels10x: Seq[String]): Unit = {
    val ratio = labels10x.map(cpuTimings).sum / math.max(labels1x.map(cpuTimings).sum, 1e-9)
    metrics(s"${name}_cpu_ratio") = ratio
    // a run that STARTED hot (the BoxState taint threshold) measures CPU
    // under residual memory pressure — observed q78 10x CPU 843 → 2061 s
    // with ZERO foreign processes on a load_start 2.7 box — and can never
    // write the official record anyway (taint routes it to the scratch
    // file), so the band must not flake CI there; it gates every run that
    // could become official.
    val hotStart = loadStart > 1.5
    check(s"${name}_cpu_ratio_banded", hotStart || (ratio >= 2.0 && ratio <= copies * 5.0),
      s"$name cpu ratio $ratio outside [2, ${copies * 5}] " +
        s"(1x=${labels1x.map(cpuTimings).sum}s, ${copies}x=${labels10x.map(cpuTimings).sum}s)")
  }

  private def crossCopy(pairs: DataFrame, a: String = "id_a", b: String = "id_b"): Long =
    pairs.filter(col(a).divide(CopyStride).cast("long")
      =!= col(b).divide(CopyStride).cast("long")).count()

  /** Embedding-corpus replica k: ids offset by the copy stride, vectors
    * displaced by 10·k in dimension 0 — copies are ~10⁷ quantization units
    * apart while intra-copy geometry is untouched, so the scaled corpus is
    * `copies` independent replicas of the same neighborhood structure and
    * ANN candidates must never cross copies. */
  private def embCopyK(base: DataFrame, k: Int): DataFrame =
    base.select(
      (col("vec_id") + lit(k * CopyStride)).as("vec_id"),
      transform(col("embedding"),
        (x, i) => when(i === 0, x + lit(k * 10.0f)).otherwise(x)).as("embedding"))

  test("trained IVFADC scales: per-copy cells, nprobe-bounded candidates, zero cross-copy") {
    import graft.pipeline.Embeddings
    val baseEmb = Tables.embeddings(spark, sfDir)
    val n = baseEmb.count()
    val emb10 = (0 until copies).map(embCopyK(baseEmb, _)).reduce(_ unionByName _)
    val prep = Embeddings.prepare(emb10, "vec_id", "embedding").cache()
    try {
      val cells = 4 * copies // the stride sample lands 4 centroids per copy
      val cents = timed("ann ivfadc train 10x") {
        Embeddings.trainCentroids(prep, "vec_id", cells, 2, reseedEmpty = true)
      }
      val assign = Embeddings.cellAssignments(prep, "vec_id", cents).cache()
      try {
        // no trained cell spans two copies (10⁷-unit gaps dominate any
        // intra-copy displacement), so candidate volume can never couple
        // replicas however the box behaves — the load-immune ANN gate
        val maxCopiesPerCell = assign
          .groupBy("cell")
          .agg(countDistinct(col("vec_id").divide(CopyStride).cast("long")).as("nc"))
          .agg(max(col("nc"))).head().getLong(0)
        check("ann_cells_single_copy", maxCopiesPerCell == 1L,
          s"a trained cell spans $maxCopiesPerCell copies")
        // every copy's rows spread across ≥2 cells: per-query candidates are
        // bounded by a strict fraction of the copy, not the whole replica
        val perCopy = assign
          .groupBy(col("vec_id").divide(CopyStride).cast("long").as("cp"))
          .agg(countDistinct(col("cell")).as("nc"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        metrics("ann_min_cells_per_copy") = perCopy.values.min.toDouble
        check("ann_cells_per_copy", perCopy.size == copies && perCopy.values.min >= 2L,
          s"per-copy cell spread collapsed: $perCopy")

        // topK = corpus makes the result the EXACT candidate set: per query
        // it must draw from ≤ nprobe distinct cells and count exactly
        // Σ|probed cells| − 1 (itself) — nprobe-boundedness as an equality,
        // not a ceiling
        val all = timed("ann ivfadc search 10x") {
          Embeddings.pqTopKIVFTrained(prep, "vec_id", topK = (n * copies).toInt,
            queryPred = col("vec_id") % CopyStride < 2, cells = cells, nprobe = 2,
            m = 8, k = 16, trainIters = 2).cache()
        }
        try {
          check("ann_zero_cross_copy",
            crossCopy(all.select(col("query_id").as("id_a"),
              col("neighbor_id").as("id_b"))) == 0L,
            "ANN candidates crossed replica boundaries")
          val cellSize = assign.groupBy("cell").count()
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
          val cellOf = assign.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
          val perQuery = all
            .join(assign.withColumnRenamed("vec_id", "neighbor_id")
              .withColumnRenamed("cell", "ncell"), Seq("neighbor_id"))
            .groupBy("query_id")
            .agg(count(lit(1)).as("cand"), countDistinct(col("ncell")).as("ncells"),
              collect_set(col("ncell")).as("cs"))
            .collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getSeq[Long](3)))
          metrics("ann_queries") = perQuery.length.toDouble
          metrics("ann_max_candidates") = perQuery.map(_._2).max.toDouble
          val bounded = perQuery.forall { case (q, cand, ncells, cs) =>
            ncells <= 2 &&
              cand == cs.map(cellSize).sum - (if (cs.contains(cellOf(q))) 1L else 0L)
          }
          check("ann_candidates_nprobe_bounded", bounded && perQuery.length == 2 * copies,
            s"candidate sets not exactly nprobe-bounded: ${perQuery.toSeq.take(5)}")
        } finally all.unpersist()
      } finally assign.unpersist()
    } finally prep.unpersist()
  }

  test("q24 minhash near-dup pipeline scales: pair volume per copy, zero cross-copy leakage") {
    val p1 = timed("q24 minhash 1x") {
      Dedup.minhashNearDups(base1x, "doc_id", "text").count()
    }
    // construction + count timed together: the eager internals (caches,
    // checkpoints) run at call time, not first-action time
    val (pairs10, p10) = timed(s"q24 minhash ${copies}x") {
      val p = Dedup.minhashNearDups(base10x, "doc_id", "text").cache()
      (p, p.count())
    }
    check("q24_base_nonempty", p1 > 0,
      "base corpus must contain near-dups for the smoke to mean anything")
    // Caesar copies share only digit/punctuation shingles — a cross-copy
    // pair would mean the blocking leaks unrelated content at scale
    check("q24_zero_cross_copy", crossCopy(pairs10) == 0, "cross-copy near-dup pairs found")
    // LSH candidate recall is an independent draw per copy; the count is
    // banded, not exact (borderline-threshold pairs flicker per copy)
    check("q24_volume_banded", p10 >= copies * p1 / 2 && p10 <= copies * p1 * 2,
      s"pair volume $p10 is far from ${copies}x the base $p1 — super-linear blowup or collapse")
    pairs10.unpersist()
  }

  test("q47 clustering over the scaled pair graph converges with loop-sized rounds") {
    val pairs10 = Dedup.minhashNearDups(base10x, "doc_id", "text").localCheckpoint(true)
    val ids = pairs10.select(col("id_a").as("id"))
      .union(pairs10.select(col("id_b").as("id"))).distinct().count()
    val clusters = timed(s"q47 dupClusters ${copies}x") {
      Dedup.dupClusters(pairs10).cache()
    }
    check("q47_one_label_per_doc", clusters.count() == ids,
      "every paired doc must receive exactly one cluster label")
    // labels are canonical minima: no label may exceed its member's id
    check("q47_labels_canonical",
      clusters.filter(col("cluster_id") > col("id")).count() == 0,
      "a cluster label exceeds a member id")
    clusters.unpersist()
  }

  test("q77 exact Jaccard join is deterministic under scale: exactly 10x the base pairs") {
    val p1 = timed("q77 jaccardJoinExact 1x") {
      Dedup.jaccardJoinExact(base1x, "doc_id", "text").count()
    }
    val (pairs10, p10) = timed(s"q77 jaccardJoinExact ${copies}x") {
      val p = Dedup.jaccardJoinExact(base10x, "doc_id", "text").cache()
      (p, p.count())
    }
    val cross = crossCopy(pairs10)
    check("q77_zero_cross_copy", cross == 0,
      s"$cross cross-copy Jaccard pairs — blocking admits unrelated content")
    // exact algorithm + bijective shingle maps ⇒ each copy contributes the
    // base pair set verbatim
    check("q77_exact_10x", p10 == copies * p1, s"expected ${copies}x$p1 pairs, got $p10")
    pairs10.unpersist()
  }

  test("q78 containment join is deterministic under scale: exactly 10x the base pairs") {
    // The copies carry DISJOINT shingle strings, so every shingle's df in
    // the scaled corpus equals its per-copy df — the same maxDf reproduces
    // the base blocking decisions verbatim inside each copy.
    val p1 = timed("q78 containmentJoin 1x") {
      Dedup.containmentJoin(base1x, "doc_id", "text", maxDf = 10).count()
    }
    val (pairs10, p10) = timed(s"q78 containmentJoin ${copies}x") {
      val p = Dedup.containmentJoin(base10x, "doc_id", "text", maxDf = 10).cache()
      (p, p.count())
    }
    check("q78_zero_cross_copy", crossCopy(pairs10, "src_id", "sup_id") == 0,
      "cross-copy containment pairs found")
    check("q78_exact_10x", p10 == copies * p1, s"expected ${copies}x$p1 pairs, got $p10")
    // COMBINED with q77 (runs earlier in suite order): both exact joins
    // start from the shared standing docShingleArrays frame, whose
    // corpus-scale build lands in whichever phase first misses the
    // checkpoint cache — only the pair's summed CPU is attributable
    checkCpuRatio("q77q78",
      Seq("q77 jaccardJoinExact 1x", "q78 containmentJoin 1x"),
      Seq(s"q77 jaccardJoinExact ${copies}x", s"q78 containmentJoin ${copies}x"))
    pairs10.unpersist()
  }

  // Levenshtein distance is invariant under a global character bijection,
  // so each caesar copy contributes the base pair set verbatim; cross-copy
  // names differ in every letter position (≥ 8 edits ≫ the budget).
  private def custCopy(k: Int): DataFrame = {
    val shifted = alpha.drop(k % 26) + alpha.take(k % 26) +
      digits.drop(k % 10) + digits.take(k % 10)
    Tables.customer(spark, sfDir).filter(col("c_custkey") % 3 === 0)
      .select((col("c_custkey") + lit(k * CopyStride)).as("id"),
        translate(lower(col("c_name")), alpha + digits, shifted).as("name"))
  }

  test("q86 fuzzy join is deterministic under scale: exactly 10x the base pairs") {
    val cust1x = custCopy(0)
    val cust10x = (0 until copies).map(custCopy).reduce(_ unionByName _).repartition(cpus)
    val p1 = timed("q86 editDistanceJoin 1x") {
      graft.pipeline.FuzzyJoin.editDistanceJoin(cust1x, "id", "name", maxDist = 2).count()
    }
    val (pairs10, p10) = timed(s"q86 editDistanceJoin ${copies}x") {
      val p = graft.pipeline.FuzzyJoin.editDistanceJoin(cust10x, "id", "name", maxDist = 2)
        .cache()
      (p, p.count())
    }
    check("q86_zero_cross_copy", crossCopy(pairs10) == 0, "cross-copy fuzzy pairs found")
    check("q86_exact_10x", p10 == copies * p1, s"expected ${copies}x$p1 pairs, got $p10")
    checkCpuRatio("q86", Seq("q86 editDistanceJoin 1x"), Seq(s"q86 editDistanceJoin ${copies}x"))
    pairs10.unpersist()

    // COST DECOMPOSITION (VERDICT r12 #5): q86's super-linear wall ratio
    // must be attributable. The three cost axes: candidate volume (the
    // blocking quality — the only axis a better scheme could shrink),
    // verify work (banded DP per candidate), and output materialization
    // (one row per true pair — p1/p10 above, already shown exactly
    // linear). Candidates are counted through the SAME blocked plan
    // (verify short-circuited), so a super-linear candidate ratio would
    // indict the blocking; a ~linear one pins any residual wall
    // super-linearity on per-pair output volume + fixed per-job constants.
    val c1 = timed("q86 candidates 1x") {
      graft.pipeline.FuzzyJoin.editDistanceCandidateCount(cust1x, "id", "name", maxDist = 2)
    }
    val c10 = timed(s"q86 candidates ${copies}x") {
      graft.pipeline.FuzzyJoin.editDistanceCandidateCount(cust10x, "id", "name", maxDist = 2)
    }
    metrics("q86_candidates_1x") = c1.toDouble
    metrics(s"q86_candidates_${copies}x") = c10.toDouble
    metrics("q86_candidate_ratio") = c10.toDouble / c1
    metrics("q86_true_pairs_1x") = p1.toDouble
    metrics(s"q86_true_pairs_${copies}x") = p10.toDouble
    metrics("q86_verify_survival") = p10.toDouble / c10
    // caesar copies are disjoint by construction, so candidates scale
    // EXACTLY linearly up to cross-copy gram-df noise in the prefix
    // ranking — band at copies +-20%
    check("q86_candidates_linear",
      c10 <= copies * c1 * 1.2 && c10 >= copies * c1 * 0.8,
      s"candidate ratio ${c10.toDouble / c1} outside the linear band (1x=$c1, ${copies}x=$c10)")
  }

  test("MoR scan survives hundreds of scoped delete files at constant plan width") {
    // VERDICT r13 #7: the pipeline smoke never stressed the table side.
    // Fixture: a 50-partition table, 100k rows in two appends, EIGHT
    // equality-delete waves each writing ~50 PARTITION-SCOPED delete files
    // (the delete key covers the partition source, so the write path scopes
    // them natively), a re-insert BETWEEN waves (sequence ordering must
    // keep it alive against the older deletes), and a positional mask on
    // top — then one scan, gated on exact results and constant plan width.
    import graft.catalog.{FileCatalog, TableIdent}
    import graft.spark.{IceScan, IceWrite}
    import graft.spec.{IceSchema, IceType, NestedField, PartitionField, PartitionSpec}
    import spark.implicits._
    val cat = new FileCatalog(
      java.nio.file.Files.createTempDirectory("mor_smoke").toString)
    val schema = IceSchema(0, Seq(
      NestedField(1, "id", required = false, IceType.LongT),
      NestedField(2, "part", required = false, IceType.LongT),
      NestedField(3, "v", required = false, IceType.LongT)))
    val spec = PartitionSpec(0,
      Seq(PartitionField(2, 1000, "part", graft.core.Transform.Identity)))
    var t = cat.createTable(TableIdent(Seq("smoke"), "mor"), schema, spec)
    def rowsDf(ids: Range) =
      ids.map(i => (i.toLong, (i % 50).toLong, i.toLong * 3)).toDF("id", "part", "v")
    t = IceWrite.append(spark, t, rowsDf(0 until 50000))
    t = IceWrite.append(spark, t, rowsDf(50000 until 100000))

    def wave(w: Int): Range = (w * 5000) until (w * 5000 + 1250)
    def delWave(w: Int): Unit = {
      val d = wave(w).map(i => (i.toLong, (i % 50).toLong)).toDF("id", "part")
      t = IceWrite.appendEqualityDeletes(spark, t, d, equalityIds = Seq(1, 2))
    }
    (0 until 4).foreach(delWave)
    // the re-insert: wave 0's range comes back NEWER than waves 0-3
    t = IceWrite.append(spark, t, rowsDf(0 until 1250))
    timed("mor deletes waves 4-8")((4 until 8).foreach(delWave))
    t = IceWrite.appendPositionDeletes(spark, t, col("v") % 997 === 0)

    val delEntries = t.deleteFiles(t.currentSnapshot(None).get)
    val scoped = delEntries.filter(e =>
      e.dataFile.content == graft.table.ManifestModel.ContentEqualityDeletes &&
        e.dataFile.partition.exists(_._2 != null))
    metrics("mor_delete_files") = delEntries.size.toDouble
    check("mor_scoped_delete_volume", scoped.size >= 200,
      s"expected >=200 scoped delete files across 50 partitions, got ${scoped.size}")

    val df = IceScan.scan(spark, t)
    val got = timed("mor scan 400 delete files") {
      df.select(col("id")).collect().map(_.getLong(0)).sorted.toSeq
    }
    // exact oracle, derived independently: survivors of the 8 waves, plus
    // the re-inserted range, minus the positional mask (v=3id, gcd(3,997)=1
    // → id % 997 == 0)
    val deleted = (0 until 8).flatMap(wave).toSet
    val expected = (((0 until 100000).filterNot(deleted) ++ (0 until 1250))
      .filter(_ % 997 != 0)).map(_.toLong).sorted
    check("mor_results_exact", got == expected,
      s"scan returned ${got.size} rows, expected ${expected.size}")

    // plan width: ONE consolidated fold — data segments union once (the
    // re-insert split), anti-joins stay one per (sequence point, eq-id
    // group) + one positional mask, regardless of the 400 files
    val plan = df.queryExecution.executedPlan.toString
    val unions = plan.split('\n').count(_.contains("Union"))
    val antis = plan.split('\n').count(_.contains("LeftAnti"))
    metrics("mor_plan_unions") = unions.toDouble
    metrics("mor_plan_antijoins") = antis.toDouble
    check("mor_plan_unions_bounded", unions <= 2,
      s"per-partition or per-file fan-out is back ($unions unions):\n$plan")
    // Catalyst pushes the anti-joins through the data-segment union
    // (PushLeftSemiLeftAntiThroughJoin family), so the physical bound is
    // (seq points + positional) × data segments = 9 × 2 — NOT O(files):
    // 400 delete files collapse to ≤18 joins, each a multi-file delete scan
    check("mor_antijoins_per_seq_point", antis <= 18,
      s"anti-joins must group per sequence point, got $antis:\n$plan")

    // DELETION VECTORS at the same scale: convert the positional parquet
    // residue to per-file roaring vectors, add one more DV wave, and gate
    // the V3 read shape — the positional layer must ride a broadcast bitmap
    // FILTER, so the anti-join count DROPS below the parquet bound while
    // results stay exact
    timed("mor dv convert + wave") {
      graft.table.Maintenance.convertPositionDeletesToDVs(spark, t)
      t = t.refresh()
      t = IceWrite.appendDeletionVectors(spark, t, col("v") % 991 === 0)
    }
    val parquetPos = t.deleteFiles(t.currentSnapshot(None).get).filter(e =>
      e.dataFile.content == graft.table.ManifestModel.ContentPositionDeletes &&
        e.dataFile.fileFormat != graft.table.ManifestModel.FormatPuffin)
    check("mor_dv_zero_parquet_pos", parquetPos.isEmpty,
      s"conversion must leave zero parquet positional files, got ${parquetPos.size}")
    val dvDf = IceScan.scan(spark, t)
    val dvGot = timed("mor dv scan") {
      dvDf.select(col("id")).collect().map(_.getLong(0)).sorted.toSeq
    }
    // v = 3·id and gcd(3, 991) = 1 → the DV wave masks id % 991 == 0
    val dvExpected = expected.filter(_ % 991 != 0)
    check("mor_dv_results_exact", dvGot == dvExpected,
      s"DV scan returned ${dvGot.size} rows, expected ${dvExpected.size}")
    val dvPlan = dvDf.queryExecution.executedPlan.toString
    val dvAntis = dvPlan.split('\n').count(_.contains("LeftAnti"))
    metrics("mor_dv_plan_antijoins") = dvAntis.toDouble
    check("mor_dv_filter_plan",
      antis == 0 && dvAntis == 0 && plan.toLowerCase.contains("dvdeleted") &&
        dvPlan.toLowerCase.contains("dvdeleted"),
      s"positional layer must be a dvdeleted filter (anti-joins $antis -> $dvAntis):\n$dvPlan")
    // past the gate the positional layer anti-joins: parquet rows and
    // distributed-decoded vectors alike
    spark.conf.set("spark.graft.delete.broadcast-threshold", "0")
    val gatedAntis = try {
      val gatedPlan = IceScan.scan(spark, t).queryExecution.executedPlan.toString
      gatedPlan.split('\n').count(_.contains("LeftAnti"))
    } finally spark.conf.unset("spark.graft.delete.broadcast-threshold")
    check("mor_dv_gated_antijoin_plan", gatedAntis > 0,
      s"past the gate the positional layer must anti-join, got $gatedAntis anti-joins")
  }

  test("ppl quality scoring scales: exactly 10x scored rows, copy-0 scores bit-identical") {
    import graft.pipeline.QualityLM
    // the production shape: the reference LM trains ONCE (on the base
    // corpus's %7 slice) and ships to the 10x corpus. Copy 0 must score
    // bit-identically to the base run (same model, same docs); caesar
    // copies carry shifted alphabets the model never saw — they score as
    // out-of-reference mass, deterministically. Scoring is two broadcast
    // model joins + one doc-keyed aggregate — linear by construction.
    val model = QualityLM.train(base1x.filter(col("doc_id") % 7 === 0), "doc_id", "text")
    val s1 = timed("ppl score 1x") {
      val s = QualityLM.score(base1x, "doc_id", "text", model).cache(); s.count(); s
    }
    val (s10, n10) = timed(s"ppl score ${copies}x") {
      val s = QualityLM.score(base10x, "doc_id", "text", model).cache(); (s, s.count())
    }
    check("ppl_rows_10x", n10 == copies * s1.count(),
      s"expected ${copies}x${s1.count()} scored rows, got $n10")
    val diverged = s10.filter(col("doc_id") < CopyStride).as("b")
      .join(s1.as("a"), "doc_id")
      .filter(!(col("a.n_bigrams") <=> col("b.n_bigrams")) ||
        !(col("a.ppl_q") <=> col("b.ppl_q"))).count()
    check("ppl_copy0_exact", diverged == 0,
      s"copy 0 must score exactly like the base corpus ($diverged rows diverged)")
    s1.unpersist(); s10.unpersist()
  }

  test("zero-shuffle text/url kernels scale linearly with structure preserved") {
    import graft.pipeline.{BpeOps, HtmlOps, UrlOps}
    // BPE: train on the BASE corpus, apply the frozen merge table at 10× —
    // the production shape (tokenizers are trained once, applied forever).
    // Copy 0 must reproduce base counts exactly; caesar copies carry a
    // shifted alphabet the merges don't know and degrade toward characters
    // (still deterministic, still linear).
    val merges = BpeOps.train(base1x, "text", numMerges = 48)
    val counts1 = BpeOps.tokenCounts(base1x, "doc_id", "text", merges).cache()
    val (counts10, n10) = timed(s"bpe apply ${copies}x") {
      val c = BpeOps.tokenCounts(base10x, "doc_id", "text", merges).cache()
      (c, c.count())
    }
    val n1 = counts1.count()
    check("bpe_rows_10x", n10 == copies * n1, s"expected ${copies}x$n1 rows, got $n10")
    val diverged = counts10.filter(col("doc_id") < CopyStride).as("c10")
      .join(counts1.as("c1"), "doc_id")
      .filter(col("c10.n_bpe_tokens") =!= col("c1.n_bpe_tokens")).count()
    check("bpe_copy0_exact", diverged == 0, "copy 0 must tokenize exactly like the base corpus")
    counts1.unpersist(); counts10.unpersist()

    // HTML extraction: every one of the 10× pages must reconstruct its
    // body byte-exactly (chrome volume grows linearly with the corpus)
    timed(s"html extract ${copies}x") {
      import spark.implicits._
      val bad = base10x.select(col("doc_id"), col("text")).as[(Long, String)]
        .mapPartitions(_.map { case (id, t) =>
          (id, HtmlOps.contentBlocks(HtmlOps.syntheticPage(id, t)).mkString(" ") == t)
        }).toDF("doc_id", "ok").filter(!col("ok")).count()
      check("html_byte_exact_10x", bad == 0L,
        s"$bad of the ${copies}x pages failed byte-exact reconstruction")
    }

    // DSIR selection: the curated target stays FIXED (the production
    // shape) while raw grows 10×. Scores shift globally (the raw
    // distribution changes — that is the estimator working), so the scale
    // gates are structural: every raw doc is scored at 10×, and copy 0's
    // featurization (bigram counts) is bit-identical to the base run.
    locally {
      import graft.pipeline.TrainingSet
      val target = base1x.filter(col("doc_id") % 20 === 0)
      val w1 = TrainingSet.dsirWeights(base1x, target, "doc_id", "text").cache()
      val n1 = w1.count()
      val (w10, n10) = timed(s"dsir weights ${copies}x") {
        val w = TrainingSet.dsirWeights(base10x, target, "doc_id", "text").cache()
        (w, w.count())
      }
      check("dsir_rows_scored_10x", n10 == copies * n1,
        s"expected ${copies}x$n1 scored docs, got $n10")
      val divergent = w10.filter(col("doc_id") < CopyStride)
        .select(col("doc_id"), col("n_bigrams").as("nb10"))
        .join(w1.select(col("doc_id"), col("n_bigrams").as("nb1")), "doc_id")
        .filter(col("nb10") =!= col("nb1")).count()
      check("dsir_copy0_featurization_exact", divergent == 0,
        s"$divergent copy-0 docs featurized differently at ${copies}x")
      w1.unpersist(); w10.unpersist()
    }

    // CMS heavy hitters: the sketch is depth×width cells no matter the
    // corpus; copies shift the alphabet, so values never merge across
    // copies — the max EXACT count at 10× must equal the 1× max, and the
    // one-sided error bound must hold on every output row.
    locally {
      import graft.pipeline.Profile
      def toks(df: DataFrame) =
        df.select(explode(graft.pipeline.TextOps.tokens(col("text"))).as("w"))
      val hh1 = Profile.cmsHeavyHitters(toks(base1x), "w", 4, 1024, 20).collect()
      val hh10 = timed(s"cms heavy hitters ${copies}x") {
        Profile.cmsHeavyHitters(toks(base10x), "w", 4, 1024, 20).collect()
      }
      check("cms_one_sided_10x",
        hh10.forall(r => r.getLong(1) >= r.getLong(2)),
        "CMS underestimated at scale")
      check("cms_max_exact_invariant",
        hh10.map(_.getLong(2)).max == hh1.map(_.getLong(2)).max,
        "copy-shifted vocabularies must not merge counts across copies")
    }

    // strided chunking: token boundaries are translation-invariant, so
    // the chunk count at 10× is EXACTLY copies× the base count
    locally {
      import graft.pipeline.TrainingSet
      def chunks(df: DataFrame): Long = TrainingSet.chunkSequences(
        df.select(col("doc_id"),
          transform(graft.pipeline.TextOps.tokens(col("text")),
            (_, i) => i).as("ids")),
        "ids", "chunk", window = 64, stride = 48).count()
      val c1 = chunks(base1x)
      val c10 = timed(s"chunk sequences ${copies}x")(chunks(base10x))
      check("chunk_rows_exact_10x", c10 == copies * c1,
        s"expected ${copies}x$c1 chunks, got $c10")
    }

    // URL canonicalization: idempotent at 10× (canonical output is a fixed
    // point for every row). The checkpoint between the two applications is
    // deliberate: stacking two staged chains in ONE plan re-trips the
    // InferFiltersFromConstraints blowup the q96 rewrite documented — the
    // optimizer, not the data, was the hang.
    timed(s"url canonical ${copies}x") {
      val urls = base10x.select(col("doc_id"),
        UrlOps.syntheticUrl(col("doc_id")).as("url"))
      val once = UrlOps.withCanonicalUrl(urls, col("url"), "c1")
        .select("doc_id", "c1").localCheckpoint(true)
      val twice = UrlOps.withCanonicalUrl(once, col("c1"), "c2")
      check("url_idempotent_10x", twice.filter(col("c1") =!= col("c2")).count() == 0L,
        "canonical output is not a fixed point")
      once.unpersist()
    }
  }

  // VERDICT r15 #3 — additivity probe, METRICS ONLY (not a gate): the
  // q77/q78 CPU super-linearity at 10x was attributed to shared-JVM memory
  // pressure at the 10x working set (shuffle-width was experimentally
  // ruled out in r15: 10x partitions made CPU WORSE). Falsification: run
  // the same two kernels over two INDEPENDENT 5-copy halves in this same
  // JVM. If the pressure story holds, CPU(10x) >> CPU(5x·a) + CPU(5x·b)
  // (each half's working set is half-sized, so the per-row tax vanishes);
  // if the sum instead approaches CPU(10x), a real super-linear term
  // exists and the band adjudication must be revisited. Runs LAST so the
  // big cached corpora can be dropped first — the halves should see a
  // clean JVM, exactly like a per-executor working set on a real cluster.
  test("additivity probe: two independent half-corpora vs the one full scaled run") {
    val half = copies / 2
    assume(cpuTimings.contains(s"q77 jaccardJoinExact ${copies}x") &&
      cpuTimings.contains(s"q78 containmentJoin ${copies}x"),
      "probe needs the full-run phases (suite subset)")
    base10x.unpersist(blocking = true)
    base1x.unpersist(blocking = true)
    System.gc(); Thread.sleep(200); System.gc()
    for ((tag, range) <- Seq("a" -> (0 until half), "b" -> (half until copies))) {
      val corpus = range.map(copyK(Tables.documents(spark, sfDir), _))
        .reduce(_ unionByName _).repartition(cpus).cache()
      corpus.count()
      timed(s"q77q78 half-$tag ${half}x") {
        Dedup.jaccardJoinExact(corpus, "doc_id", "text").count()
        Dedup.containmentJoin(corpus, "doc_id", "text", maxDf = 10).count()
      }
      corpus.unpersist(blocking = true)
      System.gc(); Thread.sleep(150)
    }
    val cpu10 = cpuTimings(s"q77 jaccardJoinExact ${copies}x") +
      cpuTimings(s"q78 containmentJoin ${copies}x")
    val cpuHalves = cpuTimings(s"q77q78 half-a ${half}x") +
      cpuTimings(s"q77q78 half-b ${half}x")
    metrics("q77q78_cpu_10x_over_halves") = cpu10 / math.max(cpuHalves, 1e-9)
    println(f"[scale-smoke] additivity: cpu10=${cpu10}%.1f s, halves=${cpuHalves}%.1f s, " +
      f"ratio=${cpu10 / math.max(cpuHalves, 1e-9)}%.2f (>>1 = memory-pressure story holds)")
  }
}
