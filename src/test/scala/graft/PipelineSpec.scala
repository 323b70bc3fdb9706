package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{BpeOps, Dedup, Embeddings, Multimodal, TextOps, TimeSeries, TrainingSet}

/** Unit tests of the training-data pipeline operators on hand-built inputs
  * with known answers (the DuckDB oracle gate covers the testdata scale).
  */
class PipelineSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .appName("pipeline-spec").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("exact dedup clusters identical texts under one keeper") {
    val d = docs(1L -> "a b c", 2L -> "a b c", 3L -> "x y z")
    val got = Dedup.exactClusters(d, "doc_id", "text").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got.size == 2)
    assert(got.exists { case (_, keeper, n) => keeper == 1L && n == 2L })
    assert(got.exists { case (_, keeper, n) => keeper == 3L && n == 1L })
  }

  test("minhash near-dup finds a planted duplicate and skips unrelated text") {
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val nearDup = ((1 to 28).map(i => s"tok$i") ++ Seq("other", "words")).mkString(" ")
    val unrelated = (1 to 30).map(i => s"zzz$i").mkString(" ")
    val d = docs(1L -> base, 2L -> nearDup, 3L -> unrelated)
    val pairs = Dedup.minhashNearDups(d, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("profile: per-column counts, nulls, distincts, min/max in one pass") {
    import spark.implicits._
    val d = Seq((1L, Some("x")), (2L, Some("y")), (3L, None), (4L, Some("x")))
      .toDF("id", "tag")
    val got = graft.pipeline.Profile.profile(d, Seq("id", "tag"))
      .orderBy("column_name").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getString(5)))
    assert(got.toSeq == Seq(
      ("id", 4L, 4L, 4L, "1", "4"),
      ("tag", 4L, 3L, 2L, "x", "y")), got.mkString(", "))
  }

  test("source mixing: binding source keeps rate 1.0, others scale by weight") {
    import spark.implicits._
    // 100 'a' rows, 100 'b' rows; weights 3:1 → a binds (rate 1.0),
    // b keeps ~1/3 (c = 100/0.75 = 133.3; rate_b = 133.3*0.25/100 = 1/3)
    val d = ((1 to 100).map(i => (i.toLong, "a")) ++ (101 to 200).map(i => (i.toLong, "b")))
      .toDF("doc_id", "source")
    val kept = graft.pipeline.TrainingSet
      .mixSources(d, "doc_id", "source", Map("a" -> 0.75, "b" -> 0.25))
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept("a") == 100L, s"binding source must keep everything: $kept")
    assert(kept("b") > 15 && kept("b") < 55, s"b should keep ~1/3: $kept")
    // unlisted sources are dropped entirely
    val d2 = d.union(Seq((999L, "junk")).toDF("doc_id", "source"))
    val srcs = graft.pipeline.TrainingSet
      .mixSources(d2, "doc_id", "source", Map("a" -> 0.75, "b" -> 0.25))
      .select("source").distinct().collect().map(_.getString(0)).toSet
    assert(!srcs.contains("junk"))
  }

  test("script profile: hand-computed per-class counts, label order, edges") {
    import graft.pipeline.TextOps
    val d = docs(
      1L -> "abc 中文字 de",   // latin 5, cjk 3, other 2 → latin wins
      2L -> "中文 ab",          // cjk 2, latin 2 → tie → latin (fixed order)
      3L -> "русский текст",   // cyrillic 12, other 1
      4L -> "123 !?",           // all classes 0 → other
      5L -> "한국어 نص")        // hangul 3, arabic 2
    val got = TextOps.scriptProfile(d, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7), r.getString(8)))
    assert(got.toSeq == Seq(
      (1L, 10L, 5L, 0L, 3L, 0L, 0L, 2L, "latin"),
      (2L, 5L, 2L, 0L, 2L, 0L, 0L, 1L, "latin"),
      (3L, 13L, 0L, 12L, 0L, 0L, 0L, 1L, "cyrillic"),
      (4L, 6L, 0L, 0L, 0L, 0L, 0L, 6L, "other"),
      (5L, 6L, 0L, 0L, 0L, 2L, 3L, 1L, "hangul")), got.mkString(", "))
  }

  test("product quantization: hand-computed codes and ADC ranking") {
    import spark.implicits._
    import graft.pipeline.Embeddings
    // dim 4, m=2 subspaces, k=2 codewords; stride = 4/2 = 2 → codebooks are
    // vectors 0 and 2. Quantized (×1e6): v0=[0,0,0,0], v1=[1,0,0,0],
    // v2=[10,10,10,10], v3=[9,10,0,0].
    //   codes: v0=[0,0], v1=[0,0] (d²=1 vs 181), v2=[1,1], v3=[1,0]
    //   ADC from v0: n1 → ([0,0],[0,0]) = 0; n3 → ([10,10],[0,0]) = 200;
    //                n2 → ([10,10],[10,10]) = 400
    val d = Seq(
      0L -> Seq(0f, 0f, 0f, 0f),
      1L -> Seq(1e-6f, 0f, 0f, 0f),
      2L -> Seq(1e-5f, 1e-5f, 1e-5f, 1e-5f),
      3L -> Seq(9e-6f, 1e-5f, 0f, 0f)).toDF("vec_id", "embedding")
    val prep = Embeddings.prepare(d, "vec_id", "embedding")
    val codes = Embeddings.pqEncode(prep, "vec_id", m = 2, k = 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
    assert(codes == Map(0L -> Seq(0, 0), 1L -> Seq(0, 0),
      2L -> Seq(1, 1), 3L -> Seq(1, 0)), codes)
    val got = Embeddings.pqTopK(prep, "vec_id", topK = 3,
        queryPred = col("vec_id") < 1, m = 2, k = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == Seq((0L, 1, 1L, 0L), (0L, 2, 3L, 200L), (0L, 3, 2L, 400L)), got)
  }

  test("IVFADC: equals exhaustive ADC at nprobe=cells, bounded candidates, no corpus NLJ") {
    import spark.implicits._
    // deterministic 32-vector corpus, dim 8 — small integers so quantized
    // arithmetic is exact and assignments are reproducible by hand
    val d = (0L until 32L).map(id =>
      id -> (0 until 8).map(j => (((id * 7 + j * 3) % 11) - 5).toFloat * 1e-6f))
      .toDF("vec_id", "embedding")
    val prep = Embeddings.prepare(d, "vec_id", "embedding")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    val exhaustive = rows(Embeddings.pqTopK(prep, "vec_id", 3,
      col("vec_id") < 6, m = 2, k = 4).orderBy("query_id", "rnk"))

    // probing EVERY cell must reproduce exhaustive ADC exactly: each corpus
    // vector lives in one cell, so the candidate union is the whole corpus
    // and the ADC distances/tie-breaks are identical arithmetic
    val allProbes = rows(Embeddings.pqTopKIVF(prep, "vec_id", 3,
      col("vec_id") < 6, cells = 4, nprobe = 4, m = 2, k = 4).orderBy("query_id", "rnk"))
    assert(allProbes == exhaustive,
      s"nprobe=cells must equal exhaustive ADC: $allProbes vs $exhaustive")

    // nprobe=1: every reported neighbor must share the query's probed cell
    // (candidates restricted by construction), ranking still well-formed,
    // and recall@3 vs exhaustive is useful (deterministic fixture)
    val ivf1 = Embeddings.pqTopKIVF(prep, "vec_id", 3,
      col("vec_id") < 6, cells = 4, nprobe = 1, m = 2, k = 4)
    val got1 = rows(ivf1.orderBy("query_id", "rnk"))
    assert(got1.groupBy(_._1).forall { case (_, rs) =>
      rs.map(_._4) == rs.map(_._4).sorted }, "ADC distances must be ranked ascending")
    val hit = got1.map(t => (t._1, t._3)).toSet
      .intersect(exhaustive.map(t => (t._1, t._3)).toSet).size
    assert(hit >= exhaustive.size / 3,
      s"recall@3 collapsed: $hit of ${exhaustive.size} exhaustive neighbors found")

    // scale shape: candidate generation is a broadcast EQUI-join on cell id
    // — never a corpus-wide nested loop or cartesian (the q117 NLJ is
    // exactly what this operator replaces)
    val plan = ivf1.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      plan.take(3000))
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
  }

  test("trained IVFADC: ranked output, probed-cell candidates, no corpus NLJ") {
    import spark.implicits._
    import graft.pipeline.Embeddings
    val d = (0L until 32L).map(id =>
      id -> (0 until 8).map(j => (((id * 7 + j * 3) % 11) - 5).toFloat * 1e-6f))
      .toDF("vec_id", "embedding")
    val prep = Embeddings.prepare(d, "vec_id", "embedding")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    val ivf = Embeddings.pqTopKIVFTrained(prep, "vec_id", 3,
      col("vec_id") < 6, cells = 4, nprobe = 1, m = 2, k = 4, trainIters = 2)
    val got = rows(ivf.orderBy("query_id", "rnk"))
    assert(got.map(_._1).distinct == Seq(0L, 1L, 2L, 3L, 4L, 5L), got)
    assert(got.groupBy(_._1).forall { case (_, rs) =>
      rs.map(_._4) == rs.map(_._4).sorted }, "ADC distances must be ranked ascending")
    // determinism: training + residual encoding replay bit-identically
    assert(got == rows(Embeddings.pqTopKIVFTrained(prep, "vec_id", 3,
      col("vec_id") < 6, cells = 4, nprobe = 1, m = 2, k = 4, trainIters = 2)
      .orderBy("query_id", "rnk")))
    // nprobe=1: every neighbor shares the query's trained cell
    val cents = Embeddings.trainCentroids(prep, "vec_id", 4, 2, reseedEmpty = true)
    val cellOf = Embeddings.cellAssignments(prep, "vec_id", cents)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.forall { case (q, _, n, _) => cellOf(q) == cellOf(n) },
      s"nprobe=1 neighbors must share the probed cell: $got vs $cellOf")
    // scale shape: candidate generation is a broadcast EQUI-join on cell id
    val plan = ivf.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      plan.take(3000))
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
  }

  test("trained IVFADC skew vector: collapsed stride sample → reseeded training bounds cells, recall improves") {
    import spark.implicits._
    import graft.pipeline.Embeddings
    // 80 vectors, dim 16, four exactly-tight clusters: every stride-sampled
    // id (id % 10 == 0) sits in cluster A, so ALL 8 untrained centroids are
    // the same point and the whole corpus ties into one hot cell — the
    // data-dependent failure pqTopKIVF's id-strided coarse quantizer has on
    // clustered distributions (VERDICT r17 #3). B/C/D displace one hot
    // dimension each by 1000 quantization units.
    def vec(hot: Int): Seq[Float] =
      (0 until 16).map(i => if (i == hot) 1005e-6f else 5e-6f)
    val a: Seq[Float] = (0 until 16).map(_ => 5e-6f)
    val d = (0L until 80L).map { id =>
      id -> ((id % 10) match {
        case 0 => a
        case r if r <= 3 => vec(4) // B
        case r if r <= 6 => vec(8) // C
        case _ => vec(12) // D
      })
    }.toDF("vec_id", "embedding")
    val prep = Embeddings.prepare(d, "vec_id", "embedding").cache()
    try {
      // untrained: total collapse — one cell holds the entire corpus
      val sampled = Embeddings.sampleCentroids(prep, "vec_id", 8)
      assert(sampled.map(_._2.toSeq).distinct.size == 1,
        "fixture: every stride sample must be the same cluster-A point")
      val untrainedSizes = Embeddings.cellAssignments(prep, "vec_id", sampled)
        .groupBy("cell").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(untrainedSizes == Map(0L -> 80L),
        s"fixture: untrained cells must collapse into one hot cell: $untrainedSizes")

      // trained (Lloyd + deterministic empty-cell reseeding): the hot cell
      // splits along the clusters; per-query candidate volume is bounded by
      // the largest cell instead of the corpus
      val trained = Embeddings.trainCentroids(prep, "vec_id", 8, 2, reseedEmpty = true)
      val trainedSizes = Embeddings.cellAssignments(prep, "vec_id", trained)
        .groupBy("cell").count().collect().map(_.getLong(1))
      assert(trainedSizes.max <= 24,
        s"trained cells must bound candidates (max cluster is 24): ${trainedSizes.toSeq}")

      // recall vs exact cosine: query 11 ∈ B. Untrained IVFADC degenerates
      // (all candidates tie on identical raw codebooks) → top-3 = ids 0,1,2
      // → 2 of 3 true neighbors. Trained+residual finds exactly B's members.
      val brute = Embeddings.bruteForceTopK(prep, "vec_id", 3, col("vec_id") === 11)
        .collect().map(_.getLong(2)).toSet
      assert(brute == Set(1L, 2L, 3L), s"true neighbors must be cluster B: $brute")
      val untrained = Embeddings.pqTopKIVF(prep, "vec_id", 3, col("vec_id") === 11,
        cells = 8, nprobe = 2, m = 4, k = 8).collect().map(_.getLong(2)).toSet
      val trainedTop = Embeddings.pqTopKIVFTrained(prep, "vec_id", 3, col("vec_id") === 11,
        cells = 8, nprobe = 2, m = 4, k = 8, trainIters = 2)
        .collect().map(_.getLong(2)).toSet
      assert(trainedTop.intersect(brute).size >= untrained.intersect(brute).size,
        s"trained recall must not regress: $trainedTop vs $untrained (true: $brute)")
      assert(trainedTop == Set(1L, 2L, 3L),
        s"trained+residual IVFADC must recover the exact cluster: $trainedTop")
      assert(untrained.intersect(brute).size < 3,
        "fixture should make untrained IVFADC drop a true neighbor (else the gate is vacuous)")
    } finally prep.unpersist()
  }

  test("temperature mix: hand-computed shares, upsampling epochs, exact membership") {
    import spark.implicits._
    // strata: "big" docs 1-4, "small" doc 10. α=0.5 quantized:
    //   sq(4)=⌊2·2^20⌋=2097152, sq(1)=1048576, z=3145728, T=5
    //   e_big  = (5·2097152)/(3145728·4) = 5/6 ≈ 0.8333 → 1 epoch, fractional
    //   e_small= (5·1048576)/(3145728·1) = 5/3 ≈ 1.6667 → epoch 0 always +
    //            fractional epoch 1
    val d = (Seq(1L, 2L, 3L, 4L).map(i => (i, "big")) :+ ((10L, "small")))
      .toDF("doc_id", "lang")
    val got = TrainingSet.temperatureMix(d, "doc_id", "lang")
      .select("doc_id", "lang", "epoch")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

    // replicate hashFraction(key, "temp:epoch") with plain JVM md5
    def frac(key: Long, epoch: Long): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$key:temp:$epoch".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16).toDouble / (1L << 60).toDouble
    }
    val eBig = 5.0 * 2097152.0 / (3145728.0 * 4.0)
    val eSmall = 5.0 * 1048576.0 / (3145728.0 * 1.0)
    val expect =
      Seq(1L, 2L, 3L, 4L).flatMap(i =>
        if (frac(i, 0L) < eBig) Some((i, "big", 0L)) else None) ++
      Seq((10L, "small", 0L)) ++ // e_small − 0 > 1: epoch 0 unconditional
      (if (frac(10L, 1L) < eSmall - 1.0) Seq((10L, "small", 1L)) else Nil)
    assert(got == expect.toSet, s"got $got, expect ${expect.toSet}")
    assert(!got.exists { case (_, s, ep) => s == "big" && ep > 0 },
      "the high-resource stratum must never upsample")

    // maxCopies clamps: 1-vs-100 skew wants e_small ≈ 9.2 → clamped to
    // exactly 2 unconditional copies (e−0 and e−1 both ≥ 1)
    val skew = ((1 to 100).map(i => (i.toLong, "big")) :+ ((500L, "small")))
      .toDF("doc_id", "lang")
    val smallCopies = TrainingSet.temperatureMix(skew, "doc_id", "lang", maxCopies = 2.0)
      .filter(col("lang") === "small").collect().map(_.getAs[Long]("epoch")).sorted
    assert(smallCopies.toSeq == Seq(0L, 1L), smallCopies.mkString(","))

    // NULL strata are dropped; the run is deterministic
    val withNull = d.union(Seq((99L, null.asInstanceOf[String])).toDF("doc_id", "lang"))
    val again = TrainingSet.temperatureMix(withNull, "doc_id", "lang")
      .select("doc_id", "lang", "epoch")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(again == got)

    // non-string strata work (native-type literals in the rate chain):
    // same shares as the string fixture, so the same doc/epoch membership
    val intStrata = (Seq(1L, 2L, 3L, 4L).map(i => (i, 7)) :+ ((10L, 9)))
      .toDF("doc_id", "lang")
    val gotInt = TrainingSet.temperatureMix(intStrata, "doc_id", "lang")
      .select("doc_id", "epoch")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotInt == got.map { case (id, _, ep) => (id, ep) }, gotInt)

    // an existing epoch column is a loud error, never silent replacement
    val clash = intercept[IllegalArgumentException] {
      TrainingSet.temperatureMix(d.withColumn("epoch", lit(0)), "doc_id", "lang")
    }
    assert(clash.getMessage.contains("epoch"), clash.getMessage)
  }

  test("temperature mix broadcast path: bit-identical to the inline chain, bounded plan") {
    import spark.implicits._
    // many strata (100 langs × 3 docs + one big stratum) — the shape whose
    // inline when-chain would be O(#strata) expression size (VERDICT r16 #3)
    val many = ((1 to 300).map(i => (i.toLong, s"lang${i % 100}")) ++
      (1000L to 1099L).map(i => (i, "big"))).toDF("doc_id", "lang")
    def run(): Set[(Long, String, Long)] =
      TrainingSet.temperatureMix(many, "doc_id", "lang")
        .select("doc_id", "lang", "epoch")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val viaInline = {
      System.setProperty("graft.temperature.inline.strata.max", "500")
      try run() finally System.clearProperty("graft.temperature.inline.strata.max")
    }
    // 101 strata > default 64 → the default run takes the broadcast join
    val viaBroadcast = run()
    assert(viaBroadcast == viaInline,
      s"broadcast and inline paths diverged: ${viaBroadcast.diff(viaInline)} / ${viaInline.diff(viaBroadcast)}")
    assert(viaBroadcast.exists(_._3 > 0), "low-resource strata should upsample")
    // plan shape: the stratum frame rides a BroadcastHashJoin (constant
    // plan size), never a when-chain of 101 branches
    val plan = TrainingSet.temperatureMix(many, "doc_id", "lang")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("probe dedup flags batch docs duplicating the corpus, not corpus pairs") {
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val nearDup = ((1 to 28).map(i => s"tok$i") ++ Seq("other", "words")).mkString(" ")
    // corpus contains TWO near-identical docs (1, 2) — an intra-corpus pair
    // that the probe must NOT report; batch doc 100 duplicates them
    val corpus = docs(1L -> base, 2L -> nearDup, 3L -> "z q j w unrelated text entirely")
    val batch = docs(100L -> base, 101L -> "completely fresh content here")
    val got = Dedup.probeNearDups(batch, corpus, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((100L, 1L)), got)
    assert(got.forall(_._1 >= 100L), s"only batch ids may appear as id_new: $got")
    assert(!got.exists(_._1 == 101L), s"fresh doc must not match: $got")
  }

  test("dup clusters collapse transitive pair chains to min-id components") {
    import spark.implicits._
    // chain 1-2, 2-3, 3-4 (diameter 3: needs real propagation, not one hop)
    // plus isolated pair 10-11; node 4 never directly paired with 1
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id_a", "id_b")
    val got = Dedup.dupClusters(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 1L), (1L, 2L), (1L, 3L), (1L, 4L), (10L, 10L), (10L, 11L)), got)
  }

  test("dup clusters converge on a 1000-link chain within 15 rounds (pointer jumping)") {
    import spark.implicits._
    // worst-case topology for plain neighbor-min (diameter 1000); the jump
    // step must close it in O(log n) rounds — maxIters=15 makes the bound a
    // hard assertion (dupClusters THROWS if it has not converged by then)
    val pairs = (0L until 1000L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.dupClusters(pairs, maxIters = 15).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == 1001)
    assert(got.forall(_._1 == 0L), "all chain nodes must share the min-id cluster")
  }

  test("dup clusters restore loop confs on both return and non-convergence throw") {
    import spark.implicits._
    val before = ("spark.sql.shuffle.partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "spark.sql.adaptive.enabled" -> spark.conf.getOption("spark.sql.adaptive.enabled"))
    // normal return path
    Dedup.dupClusters(Seq((1L, 2L)).toDF("id_a", "id_b")).collect()
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before._1._2)
    assert(spark.conf.getOption("spark.sql.adaptive.enabled") == before._2._2)
    // throw path: a 60-link chain cannot converge in 2 rounds
    intercept[IllegalStateException] {
      Dedup.dupClusters((0L until 60L).map(i => (i, i + 1)).toDF("id_a", "id_b"), maxIters = 2)
    }
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before._1._2)
    assert(spark.conf.getOption("spark.sql.adaptive.enabled") == before._2._2)
  }

  test("salted count-distinct matches the plain aggregate and salts the first shuffle") {
    import spark.implicits._
    import graft.spark.SkewOps
    // one hot key (k=hot gets 200 rows over 37 users), one cold key
    val d = ((1 to 200).map(i => ("hot", (i % 37).toLong)) ++
      (1 to 5).map(i => ("cold", i.toLong))).toDF("k", "v")
    val salted = SkewOps.saltedCountDistinct(d, Seq("k"), "v", buckets = 8)
    val got = salted.orderBy("k").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq(("cold", 5L, 5L), ("hot", 37L, 200L)), got.toSeq)
    // the FIRST exchange must be keyed by (k, salt) — that is the spread
    val plan = salted.queryExecution.executedPlan.toString
    assert(plan.contains("__salt"), s"salt missing from plan:\n$plan")
  }

  test("salted join is row-identical to the plain join for inner and left") {
    import spark.implicits._
    import graft.spark.SkewOps
    val big = ((1 to 100).map(i => ("hot", i.toLong)) ++ Seq(("cold", 0L), ("miss", 9L)))
      .toDF("k", "payload")
    val small = Seq(("hot", "H1"), ("hot", "H2"), ("cold", "C")).toDF("k", "label")
    for (jt <- Seq("inner", "left")) {
      val plain = big.join(small, Seq("k"), jt)
        .collect().map(_.toString).sorted.toSeq
      val salted = SkewOps.saltedJoin(big, small, Seq("k"), col("payload"), buckets = 4, joinType = jt)
        .select(big.columns.map(col) ++ Seq(col("label")): _*)
        .collect().map(_.toString).sorted.toSeq
      assert(salted == plain, s"saltedJoin($jt) diverged")
    }
  }

  test("cross-source leakage: planted cross-source near-dup lands off-diagonal") {
    import spark.implicits._
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val nearDup = ((1 to 28).map(i => s"tok$i") ++ Seq("other", "words")).mkString(" ")
    val unrelated = (100 to 130).map(i => s"w$i").mkString(" ")
    val d = Seq((1L, base, "web"), (2L, nearDup, "books"), (3L, unrelated, "web"))
      .toDF("doc_id", "text", "source")
    val got = Dedup.crossSourceLeakage(d, "doc_id", "text", "source")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == Set(("books", "web", 1L, 3L)), got)
  }

  test("source divergence: exact TV distance with absent-token mass folded") {
    import spark.implicits._
    // src A = "a a b" (N_A=3), src B = "a c" (N_B=2); corpus a:3 b:1 c:1, N=5
    // TV(A) = (|2/3−3/5| + |1/3−1/5| + |0−1/5|)/2 = 0.2 → l1 = 6 over 2·3·5
    // TV(B) = (|1/2−3/5| + |0−1/5| + |1/2−1/5|)/2 = 0.3 → l1 = 6 over 2·2·5
    val d = Seq(("A", "a a b"), ("B", "a c")).toDF("source", "text")
    val got = graft.pipeline.TextOps.sourceDivergence(d, "text", "source")
      .orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(got.toSeq == Seq(("A", 3L, 2L, 6L, 0.2), ("B", 2L, 2L, 6L, 0.3)), got.toSeq)
  }

  test("repetition stats: dup n-gram fractions and top-word share") {
    // "a a a a b": 4 bigrams {aa,aa,aa,ab} -> 2 dup of 4; top word a = 4/5
    val d = docs(1L -> "a a a a b", 2L -> "u v w x y")
    val got = graft.pipeline.TextOps.repetitionStats(d, "doc_id", "text")
      .orderBy("doc_id").collect()
    val r1 = got(0)
    assert(r1.getLong(1) == 5L)
    assert(math.abs(r1.getDouble(2) - 0.8) < 1e-12)          // top_word_frac
    assert(math.abs(r1.getDouble(3) - 0.5) < 1e-12)          // dup_2gram: {aa x3, ab}: 4 total, 2 distinct
    assert(math.abs(r1.getDouble(4) - (1.0 / 3)) < 1e-12)    // dup_3gram: {aaa,aaa,aab}: 3 total, 2 distinct
    assert(r1.getBoolean(5), "stuffed doc must flag repetitive")
    val r2 = got(1)
    assert(r2.getDouble(3) == 0.0 && r2.getDouble(4) == 0.0 && !r2.getBoolean(5))
    // zero-token documents: defined fractions (0.0) and a non-null flag —
    // a null would silently vanish from both keep and drop filters
    val empty = graft.pipeline.TextOps.repetitionStats(
      docs(9L -> ""), "doc_id", "text").collect().head
    assert(empty.getLong(1) == 0L && empty.getDouble(2) == 0.0 && !empty.getBoolean(5))
  }

  test("jaccard verify computes exact overlap") {
    val d = docs(1L -> "a b c d e f", 2L -> "a b c d e z")
    val sh = Dedup.shingles(d, "doc_id", "text", 3)
    import spark.implicits._
    val cand = Seq((1L, 2L)).toDF("id_a", "id_b")
    val j = Dedup.jaccardVerify(sh, cand, "doc_id").collect().head.getDouble(2)
    // shingles: doc1 {abc,bcd,cde,def}, doc2 {abc,bcd,cde,dez}: inter 3, union 5
    assert(math.abs(j - 0.6) < 1e-12)
  }

  test("simhash of identical docs is identical; blocking finds the pair") {
    val d = docs(1L -> "spark fast table scan", 2L -> "spark fast table scan", 3L -> "x q j w")
    val sigs = Dedup.simhash16(d, "doc_id", "text")
    val byId = sigs.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byId(1L) == byId(2L))
    val pairs = Dedup.simhashNearDups(sigs, "doc_id", maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("brute-force top-k ranks by exact cosine with deterministic ties") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(1.0f, 0.01f)),  // nearly parallel to 0
      (2L, Array(0.0f, 1.0f)),   // orthogonal to 0
      (3L, Array(-1.0f, 0.0f))). // opposite to 0
      toDF("vec_id", "embedding")
    val prepared = Embeddings.prepare(vecs, "vec_id", "embedding")
    val got = Embeddings.bruteForceTopK(prepared, "vec_id", 3, col("vec_id") === 0)
      .collect().map(r => (r.getInt(1), r.getLong(2))).toList
    assert(got == List((1, 1L), (2, 2L), (3, 3L)))
  }

  test("sampleCentroids: sparse ids select the same rows as dense ids") {
    import spark.implicits._
    val rows = (0 until 40).map(i =>
      (i.toLong, Array.tabulate(4)(j => math.sin(i * 2.3 + j).toFloat)))
    val vecs = rows.toDF("vec_id", "embedding")
    val dense = Embeddings.prepare(vecs, "vec_id", "embedding")
    // order-preserving sparse remap (ids ~1e9 apart, gapped): the general
    // path samples by stable scan position, so it must pick the SAME rows
    // the dense modulus path picks — seed parity under id remapping
    val sparse = Embeddings.prepare(
      vecs.withColumn("vec_id", col("vec_id") * 1000000007L + 13L),
      "vec_id", "embedding")
    val a = Embeddings.sampleCentroids(dense, "vec_id", 5)
    val b = Embeddings.sampleCentroids(sparse, "vec_id", 5)
    assert(a.length == 5 && b.length == 5)
    assert(a.map(_._1).toSeq == b.map(_._1).toSeq, "cell ids must agree")
    a.zip(b).foreach { case ((_, qa, na), (_, qb, nb)) =>
      assert(qa.toSeq == qb.toSeq && na == nb, "centroid vectors must agree")
    }
    // end-to-end: IVF search works on the sparse id space (no dense require)
    val q = 7L * 1000000007L + 13L
    val got = Embeddings.ivfTopK(sparse, "vec_id", k = 3, cells = 5,
      col("vec_id") === q).collect()
    assert(got.nonEmpty && got.forall(_.getLong(0) == q))
  }

  test("lsh ann retrieves same-bucket neighbors") {
    import spark.implicits._
    val base = (0 until 64).map(i => math.sin(i * 1.7).toFloat).toArray
    val near = base.map(x => x * 1.01f)
    val vecs = Seq((0L, base), (1L, near)).toDF("vec_id", "embedding")
    val prepared = Embeddings.prepare(vecs, "vec_id", "embedding")
    val got = Embeddings.annTopK(prepared, "vec_id", 1, planes = 6, col("vec_id") === 0)
      .collect()
    // a scaled copy lands in the same sign-LSH bucket and ranks first
    assert(got.length == 1 && got.head.getLong(2) == 1L)
  }

  test("simhash64 is full-width; 16-bit segment blocking finds near pairs") {
    val d = docs(1L -> "spark fast table scan wide corpus",
      2L -> "spark fast table scan wide corpus", 3L -> "x q j w z k")
    val sigs = Dedup.simhash64(d, "doc_id", "text")
    val byId = sigs.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byId(1L) == byId(2L))
    // signatures use (nearly) the full 64-bit range, not just low nibbles
    assert(byId.values.exists(v => (v >>> 32) != 0L))
    val pairs = Dedup.simhashNearDups(sigs, "doc_id", maxHamming = 0,
      numSegments = 4, segmentBits = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("ivf top-k searches only the query's centroid cell") {
    import spark.implicits._
    // two tight clusters far apart: cluster A around +e1, cluster B around -e1
    val vecs = Seq(
      (0L, Array(1.0f, 0.05f)), (1L, Array(1.0f, 0.1f)), (2L, Array(0.9f, 0.0f)),
      (3L, Array(-1.0f, 0.05f)), (4L, Array(-1.0f, 0.1f)), (5L, Array(-0.9f, 0.0f)))
      .toDF("vec_id", "embedding")
    val prepared = Embeddings.prepare(vecs, "vec_id", "embedding")
    // cells = 2 → centroids at ids 0 and 3, one per cluster
    val got = Embeddings.ivfTopK(prepared, "vec_id", k = 5, cells = 2, col("vec_id") === 1)
      .collect().map(_.getLong(2)).toSet
    // only same-cell (cluster A) neighbors are candidates
    assert(got == Set(0L, 2L))
  }

  test("ivf nprobe > 1 recovers cross-boundary neighbors nprobe=1 misses") {
    import spark.implicits._
    // cluster A around +e1, cluster B around -e1; vector 2 sits just on the
    // B side of the boundary but is still somewhat A-like
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.95f, 0.3f)),
      (2L, Array(-0.1f, 1.0f)),
      (3L, Array(-1.0f, 0.0f)), (4L, Array(-0.95f, 0.3f)), (5L, Array(-0.9f, -0.1f)))
      .toDF("vec_id", "embedding")
    val prepared = Embeddings.prepare(vecs, "vec_id", "embedding")
    def neighbors(nprobe: Int): Set[Long] =
      Embeddings.ivfTopKProbed(prepared, "vec_id", k = 5, cells = 2,
        col("vec_id") === 2, nprobe).collect().map(_.getLong(2)).toSet
    val single = neighbors(1)
    val double = neighbors(2)
    assert(single.subsetOf(double) && double.size > single.size,
      s"nprobe=2 ($double) should strictly widen nprobe=1 ($single)")
    assert(double == Set(0L, 1L, 3L, 4L, 5L)) // all other vectors reachable at nprobe=2
  }

  test("ANN argmin is one NearestCells projection: constant plan size") {
    import spark.implicits._
    val prepared = Embeddings.prepare((0L until 64L).map(id =>
        id -> (0 until 8).map(j => (((id * 7 + j * 3) % 11) - 5).toFloat * 1e-6f))
      .toDF("vec_id", "embedding"), "vec_id", "embedding")
    // the assignment is a pure projection: no window, no join
    val assignedPlan = Embeddings.cellAssignments(prepared, "vec_id",
      Embeddings.sampleCentroids(prepared, "vec_id", 3)).queryExecution.executedPlan.toString
    assert(!assignedPlan.contains("Window") && !assignedPlan.contains("Join"),
      s"cell assignment must stay a per-row projection:\n$assignedPlan")
    // cells and codewords ride inside the kernel node, never the plan: the
    // same number of nodes at 4 and at 32, and no per-centroid struct sort
    def plans(f: Int => org.apache.spark.sql.DataFrame): Seq[String] =
      Seq(4, 32).map(f(_).queryExecution.executedPlan.toString)
    def kernels(plan: String): Int = "nearest_cells".r.findAllMatchIn(plan).size
    val ivf = plans(c => Embeddings.ivfTopK(prepared, "vec_id", k = 3, cells = c, col("vec_id") < 4))
    val pq = plans(k => Embeddings.pqEncode(prepared, "vec_id", m = 2, k = k))
    (ivf ++ pq).foreach(p => assert(!p.contains("array_sort"), p))
    Seq(ivf, pq).foreach { case Seq(at4, at32) =>
      assert(kernels(at4) > 0 && kernels(at4) == kernels(at32), s"$at4\n$at32")
    }
  }

  test("centroid matrices above the inline bound route through a Broadcast, bit-identically") {
    import spark.implicits._
    import graft.spark.expressions.{NearestCells, NearestCellsBcast}
    val cents = (0L until 8L).map(i =>
      (i, Array(i * 3 + 1, 7 - i, i * i), i)).toArray // 8 cells × dim 3 = 24 longs
    val rows = Seq(
      (1L, Seq(5L, 2L, 9L), 110L), (2L, Seq(0L, 0L, 0L), 0L),
      (3L, Seq(-4L, 13L, 1L), 186L), (4L, Seq(22L, 22L, 22L), 1452L))
      .toDF("id", "q", "n2")
    def topCells(): Seq[(Long, Seq[Long])] = rows
      .select(col("id"), NearestCells.nearestCellIds(col("q"), col("n2"), cents, 3).as("c"))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getSeq[Long](1).toSeq)).toSeq
    def exprClass(): Class[_] = org.apache.spark.sql.GraftShim.expression(
      NearestCells.nearestCellIds(col("q"), col("n2"), cents, 3)).getClass
    val prop = "graft.ivf.inline.longs.max"
    val inline = topCells()
    assert(exprClass() == classOf[NearestCells]) // 24 ≤ default 2^24 bound
    sys.props(prop) = "23" // one long below this matrix → broadcast path
    try {
      assert(exprClass() == classOf[NearestCellsBcast])
      assert(topCells() == inline, "broadcast path diverged from inline path")
      // the plan-carried form refuses oversized matrices outright
      intercept[IllegalArgumentException] {
        NearestCells(org.apache.spark.sql.GraftShim.expression(col("q")),
          org.apache.spark.sql.GraftShim.expression(col("n2")),
          graft.spark.expressions.CentroidSet(cents), 3)
      }
    } finally sys.props.remove(prop)
  }

  test("k-means training moves mis-sampled centroids onto the true clusters") {
    import spark.implicits._
    // two tight clusters, but ids are laid out so the deterministic sample
    // (every n/2-th id → ids 0 and 4) lands BOTH initial centroids in
    // cluster A — the data-dependent failure mode of id sampling
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.98f, 0.05f)), (2L, Array(1.02f, -0.05f)),
      (3L, Array(0.99f, 0.02f)), (4L, Array(1.01f, 0.01f)),
      (5L, Array(-1.0f, 0.0f)), (6L, Array(-0.98f, 0.05f)), (7L, Array(-1.02f, -0.05f)))
      .toDF("vec_id", "embedding")
    val prepared = Embeddings.prepare(vecs, "vec_id", "embedding")
    val sampled = Embeddings.sampleCentroids(prepared, "vec_id", cells = 2)
    assert(sampled.forall(_._2.head > 0), "test setup: both samples must sit in cluster A")
    val trained = Embeddings.trainCentroids(prepared, "vec_id", cells = 2, iters = 4)
    // the B points all assign to one of the A-sampled centroids, whose mean
    // then walks toward (and within a few iterations into) cluster B —
    // after training exactly one centroid sits on each cluster's side
    assert(trained.map(_._2.head.signum).toSet == Set(1, -1),
      s"training left both centroids in one cluster: ${trained.map(_._2.toSeq).toSeq}")
    // determinism: same input → identical trained centroids
    val again = Embeddings.trainCentroids(prepared, "vec_id", cells = 2, iters = 4)
    assert(trained.map(t => (t._1, t._2.toSeq, t._3)).toSeq ==
      again.map(t => (t._1, t._2.toSeq, t._3)).toSeq)
    // trained search still returns exact same-cell neighbors for an A query
    val got = Embeddings.ivfTopKTrained(prepared, "vec_id", k = 7, cells = 2,
      col("vec_id") === 1, nprobe = 1, trainIters = 4)
      .collect().map(_.getLong(2)).toSet
    assert(got.contains(0L) && got.contains(2L), s"A-cluster neighbors missing: $got")
  }

  test("language id votes by stopwords with unknown fallback") {
    val d = docs(
      1L -> "the cat and the dog of the house",
      2L -> "der hund und die katze ist von mir",
      3L -> "qqq www eee")
    val got = TextOps.langId(d, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "en", 2L -> "de", 3L -> "unknown"))
  }

  test("multimodal stub decode and frame sampling are deterministic") {
    val d = docs(7L -> "abcdefghijklmnop")
    val media = Multimodal.asMedia(d, "doc_id", "text", "text/plain")
    val feats = Multimodal.decodeFeatures(media, 4).collect().head
    assert(feats.doc_id == 7L && feats.n_bytes == 16L && feats.head_byte == 'a'.toInt)
    val frames = Multimodal.sampleFrames(media, 4, 4).collect().sortBy(_.frame_no)
    assert(frames.map(_.offset).toList == List(0L, 5L, 10L, 15L))
    assert(frames.map(_.head_byte).toList == List('a'.toInt, 'f'.toInt, 'k'.toInt, 'p'.toInt))
  }

  test("multimodal stub resize shrinks and grows payloads deterministically") {
    val d = docs(9L -> "abcdefghijklmnop") // 16 bytes
    val media = Multimodal.asMedia(d, "doc_id", "text", "text/plain")
    val small = Multimodal.resizePayloads(media, 4).collect().head
    assert(small.n_bytes == 4L && small.orig_bytes == 16L)
    // nearest-neighbor byte sampling: indices 0, 4, 8, 12
    assert(new String(small.payload, "UTF-8") == "aeim")
    val big = Multimodal.resizePayloads(media, 20).collect().head
    assert(big.n_bytes == 20L)
    // deterministic: same input → identical bytes
    val again = Multimodal.resizePayloads(media, 20).collect().head
    assert(java.util.Arrays.equals(big.payload, again.payload))
  }

  test("stratified sampling is deterministic, per-row, and rate-faithful") {
    import spark.implicits._
    val d = (1L to 2000L).map(i => (i, if (i % 2 == 0) "en" else "de")).toDF("id", "lang")
    val s1 = TrainingSet.stratifiedSample(d, "id", "lang", Map("en" -> 0.5), defaultRate = 0.1)
    val got = s1.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // reproducible: identical membership on rerun
    assert(got == TrainingSet.stratifiedSample(d, "id", "lang", Map("en" -> 0.5), 0.1)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet)
    // rates hold within binomial noise (en: 500±~70, de: 100±~45 at 3σ)
    val en = got.count(_._2 == "en"); val de = got.count(_._2 == "de")
    assert(en > 400 && en < 600, s"en sample $en far from 500")
    assert(de > 55 && de < 145, s"de sample $de far from 100")
    // subset property with a shared salt: raising a rate only ADDS documents
    val wider = TrainingSet.stratifiedSample(d, "id", "lang", Map("en" -> 0.8), 0.1)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got.subsetOf(wider))
  }

  test("sequence packing fills token budgets contiguously and deterministically") {
    import spark.implicits._
    val d = (1L to 300L).map(i => (i, "s" + (i % 2), 10L + i % 7)).toDF("id", "src", "toks")
    val packed = TrainingSet.packSequences(d, "id", "toks", "src", budgetTokens = 100, buckets = 2)
    val rows = packed.select("src", "bucket", "pack_id", "pack_pos", "toks", "id").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(rows.length == 300) // packing is an assignment, not a filter
    // within each (stratum, bucket): pack ids dense from 0, every pack but
    // the last reaches the budget including its overflow document
    rows.groupBy(t => (t._1, t._2)).foreach { case ((src, b), group) =>
      val packs = group.groupBy(_._3)
      val ids = packs.keys.toSeq.sorted
      assert(ids == (0L until ids.length).toSeq, s"pack ids not dense in ($src,$b): $ids")
      // non-final packs span the budget within one max-document (16 tokens)
      // on each side: the previous pack's overflow may eat into the start,
      // and this pack's own overflow extends past the end
      ids.init.foreach { pid =>
        val tok = packs(pid).map(_._5).sum
        assert(tok > 100 - 17 && tok < 100 + 17,
          s"non-final pack ($src,$b,$pid) off-budget: $tok")
      }
      // pack_pos dense within each pack
      packs.foreach { case (pid, ds) =>
        assert(ds.map(_._4).sorted.toSeq == (0L until ds.length).toSeq)
      }
    }
    // deterministic on rerun
    val again = TrainingSet.packSequences(d, "id", "toks", "src", 100, 2)
      .select("id", "pack_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == rows.map(t => (t._6, t._3)).toSet)
  }

  test("tfidfTopK ranks rare terms first with exact integer scores") {
    // 4 docs: "common" in all (idf 0, dropped); "rare" in 1 (idf log2(4)=2);
    // "half" in 2 (idf log2(2)=1)
    val d = docs(
      1L -> "common rare rare half", 2L -> "common half",
      3L -> "common", 4L -> "common")
    val got = TextOps.tfidfTopK(d, "doc_id", "text", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(5)))
      .sortBy(t => (t._1, t._2))
    // doc 1: rare tf=2 → score 4; half tf=1 → score 1. docs 3/4: nothing salient
    assert(got.toSeq == Seq((1L, 1L, "rare", 4L), (1L, 2L, "half", 1L), (2L, 1L, "half", 1L)),
      s"got ${got.toSeq}")
  }

  test("dupSpanStats counts windows shared across docs, not within-doc repeats") {
    val shared = (1 to 10).map(i => s"tok$i").mkString(" ")
    val d = docs(
      1L -> (shared + " aaa bbb ccc"),            // 4 windows, 1 shared
      2L -> ("xxx yyy zzz " + shared),            // 4 windows, 1 shared
      3L -> "solo words only",                    // short doc: 1 tail window
      4L -> (shared + " " + shared))              // within-doc repeat also cross-doc shared
    val got = TextOps.dupSpanStats(d, "doc_id", "text", span = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // docs 1/2/4 share the tok1..tok10 window; doc 4 contains it twice
    // (positions 1 and 11) and both instances count
    assert(got.contains((1L, 4L, 1L)), s"got $got")
    assert(got.contains((2L, 4L, 1L)), s"got $got")
    assert(got.contains((3L, 1L, 0L)), s"got $got")
    val d4 = got.find(_._1 == 4L).get
    assert(d4._2 == 11L && d4._3 >= 2L, s"doc4 stats: $d4")
  }

  test("paragraphNearDups catches partial-overlap pages that page-level jaccard misses") {
    val shared = (1 to 30).map(i => s"para$i").mkString(" ")
    val uniqueA = (1 to 30).map(i => s"alpha$i").mkString(" ")
    val uniqueB = (1 to 30).map(i => s"beta$i").mkString(" ")
    val uniqueC = (1 to 30).map(i => s"gamma$i").mkString(" ")
    val d = docs(
      1L -> (uniqueA + "\n\n" + shared),          // page 1: own content + syndicated para
      2L -> (shared + "\n\n" + uniqueB),          // page 2: same syndicated para, reordered
      3L -> uniqueC,                              // single-paragraph page, unrelated
      4L -> (uniqueA + " " + shared))             // one PARAGRAPH merging both (no blank line)
    val got = Dedup.paragraphNearDups(d, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    // pages 1 and 2 share exactly one paragraph (1 pair, 1 para each side)
    assert(got.contains((1L, 2L, 1L, 1L, 1L)), s"got $got")
    // page-level jaccard would read ~1/3 here — below any dedup threshold;
    // the paragraph roll-up is the only signal. Page 3 pairs with nobody,
    // and page 4's merged single paragraph is jaccard ~0.5 to either half
    // at best — assert nothing links page 3
    assert(!got.exists(p => p._1 == 3L || p._2 == 3L), s"got $got")
    // page-level verification of the premise: whole-page jaccard of 1-2 is
    // far below the 0.5 threshold (the operator's reason to exist)
    val pageLevel = Dedup.minhashNearDups(d, "doc_id", "text")
      .filter((col("id_a") === 1 && col("id_b") === 2)).count()
    assert(pageLevel == 0, "premise broken: page-level dedup already catches the pair")
  }

  test("paragraphNearDups caps at maxParas with a counted metric, and packs INT ids safely") {
    import spark.implicits._
    val shared = (1 to 30).map(i => s"cap$i").mkString(" ")
    // page 1: 1025 paragraphs — the 1026th-position duplicate of page 2's
    // paragraph sits BEYOND the cap (index 1025 ≥ 1024) and must be
    // considered dropped; an IN-BOUND duplicate (index 3) must still pair.
    val filler = (0 until 1023).map(i => s"filler$i word$i extra$i more$i").mkString("\n\n")
    val page1 = "head one two three\n\n" + shared + "\n\n" + filler + "\n\nbeyond the cap " + shared
    val d = Seq((1, page1), (2, shared)).toDF("doc_id", "text") // INT ids: packing must cast
    val got = Dedup.paragraphNearDups(d, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // exactly one cross-page paragraph pair: the in-bound shared paragraph.
    // (The index-1025 copy is dropped by the cap — were it considered, the
    // pair count would read 2.)
    assert(got == Set((1L, 2L, 1L)), s"got $got")
    // the dropped-paragraph count is surfaced as an observed metric riding
    // the plan (no extra pass) — assert the plumbing is present and named
    val paras = d.select(col("doc_id"),
      posexplode(split(col("text"), "\n\\s*\n")).as(Seq("__pidx", "__ptext")))
      .filter(trim(col("__ptext")) =!= "")
    assert(paras.count() == 1027L, "fixture must exceed the 1024-paragraph cap") // 1026 on page 1 + 1 on page 2
    val analyzed = Dedup.paragraphNearDups(d, "doc_id", "text").queryExecution.analyzed
    val metricNodes = analyzed.collectWithSubqueries {
      case c: org.apache.spark.sql.catalyst.plans.logical.CollectMetrics
        if c.name.startsWith("graft.paragraph_near_dups") => c
    }
    assert(metricNodes.nonEmpty, "dropped-paragraph observe metric missing from the plan")
    assert(metricNodes.head.metrics.exists(_.name == "dropped_paragraphs"))
    // per-call metric names: two invocations must compose in one query
    // (a FIXED observe name over different subtrees fails analysis)
    Dedup.paragraphNearDups(d, "doc_id", "text")
      .unionByName(Dedup.paragraphNearDups(d, "doc_id", "text"))
      .queryExecution.analyzed
  }

  test("paragraphNearDups rejects ids outside the collision-free packing range") {
    import spark.implicits._
    // Long.MaxValue/1024 packs to a colliding/overflowing paragraph id —
    // must fail loudly instead of silently corrupting the roll-up
    val d = Seq((Long.MaxValue / 1024L, "a b c\n\nd e f"), (7L, "a b c")).toDF("doc_id", "text")
    val ex = intercept[Exception] {
      Dedup.paragraphNearDups(d, "doc_id", "text").collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("out of packable range")), s"got $ex")

    // NULL ids are rejected too, and the message renders the id as "null"
    // rather than truncating (concat_ws skips NULL args — ADVICE r15)
    val dn = Seq((java.lang.Long.valueOf(7L), "a b c"), (null.asInstanceOf[java.lang.Long], "d e f"))
      .toDF("doc_id", "text")
    val exn = intercept[Exception] {
      Dedup.paragraphNearDups(dn, "doc_id", "text").collect()
    }
    assert(messages(exn).exists(m => m.contains("out of packable range") && m.contains("null")),
      s"NULL id must render 'null' in the error: $exn")
  }

  test("quality-LM buckets: reference-like docs head, gibberish tail, 1-token docs null-tail") {
    import graft.pipeline.QualityLM
    // reference: "a b" dominates; vocab {a, b, c} → V = 3
    val ref = docs(100L -> "a b a b a b", 101L -> "a c")
    val model = QualityLM.train(ref, "doc_id", "text")
    assert(model.vocabSize == 3L)
    // hand-check the quantized score of doc "a b":
    //   c(a)=4, c(a b)=3 → nll_q = ⌊log2(4+3)⌋ − ⌊log2(3+1)⌋ = 2 − 2 = 0
    // and of "b z": c(b)=3, c(b z)=0 → ⌊log2 6⌋ − ⌊log2 1⌋ = 2
    val scored = QualityLM.score(
      docs(1L -> "a b", 2L -> "b z", 3L -> "solo"), "doc_id", "text", model)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    assert(scored(1L) == (1L, 0L), s"got ${scored(1L)}")
    assert(scored(2L) == (1L, 2000L), s"got ${scored(2L)}")
    assert(scored(3L) == (0L, -1L), "1-token doc must carry NULL ppl_q")
    // distinct quantized scores: 333 ("a b a b"), 600 ("a b a b a c"),
    // 1000 (all-unseen) → exact tercile cuts land one doc per bucket
    val bucketed = QualityLM.buckets(
      docs(1L -> "a b a b", 2L -> "a b a b a c", 3L -> "z q w e r t y u"),
      "doc_id", "text", model)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(bucketed == Map(1L -> "head", 2L -> "middle", 3L -> "tail"), s"got $bucketed")
    // persistence round-trip is lossless
    val dir = java.nio.file.Files.createTempDirectory("qlm_spec").toString
    QualityLM.saveModel(spark, model, dir)
    val re = QualityLM.loadModel(spark, dir)
    assert(re.vocabSize == 3L)
    val reScored = QualityLM.score(docs(1L -> "a b", 2L -> "b z"), "doc_id", "text", re)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(reScored == Map(1L -> 0L, 2L -> 2000L), s"got $reScored")
  }

  test("c4LineFilter applies every C4 rule: line punctuation/length/javascript, page lorem/brace/min-lines") {
    import graft.pipeline.TextOps
    val page1 = Seq(                          // 5 kept of 8 → page kept
      "this line ends properly.",             // kept
      "so does this one!",                    // kept (terminal !)
      "and a quoted line.\"",                 // kept (closing quote)
      "short.",                               // dropped: 1 word
      "no terminal punctuation",              // dropped
      "please enable JavaScript first.",      // dropped: javascript (case-insensitive)
      "another good line here?",              // kept (terminal ?)
      "final good line stands.").mkString("\n") // kept
    val page2 = Seq(                          // only 2 kept → page dropped
      "one good line here.", "two good lines here.", "meh").mkString("\n")
    val page3 = page1 + "\nlorem IPSUM appears."  // lorem → page dropped, line still cleans
    val page4 = page1 + "\ncode with a { brace."  // brace → page dropped
    val d = docs(1L -> page1, 2L -> page2, 3L -> page3, 4L -> page4)
    val got = TextOps.c4LineFilter(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3), r.getString(4)))).toMap
    assert(got(1L)._1 == 8L && got(1L)._2 == 5L && got(1L)._3, s"got ${got(1L)}")
    assert(got(1L)._4 == Seq("this line ends properly.", "so does this one!",
      "and a quoted line.\"", "another good line here?", "final good line stands.")
      .mkString("\n"))
    assert(got(2L) == ((3L, 2L, false, "one good line here.\ntwo good lines here.")))
    assert(!got(3L)._3 && got(3L)._2 == 6L, s"lorem page must drop: ${got(3L)}")
    assert(!got(4L)._3 && got(4L)._2 == 6L, s"brace page must drop: ${got(4L)}")

    // CRLF pages clean identically: a trailing \r must not defeat the
    // terminal-punctuation gate (review finding r15 — whole Windows-crawled
    // pages were silently discarded)
    val crlf = TextOps.c4LineFilter(docs(9L -> page1.replace("\n", "\r\n")), "doc_id", "text")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getBoolean(3), r.getString(4))).head
    assert(crlf == ((got(1L)._1, got(1L)._2, got(1L)._3, got(1L)._4)),
      s"CRLF page must clean like its LF twin: $crlf")

    // word gate splits on ANY whitespace (C4 splits on whitespace, not
    // single spaces — VERDICT r15 #7): tab-separated and multi-space lines
    // count their real words
    val ws = TextOps.c4LineFilter(docs(
      10L -> "foo\tbar baz.\nalpha  beta   gamma.\na\t \tb.\nfiller line one here.\nfiller line two here."),
      "doc_id", "text", minKeptLines = 4)
      .collect().map(r => (r.getLong(2), r.getBoolean(3), r.getString(4))).head
    assert(ws._1 == 4L && ws._2,
      s"tab/multi-space lines must count whitespace-split words: $ws")
    assert(ws._3 == "foo\tbar baz.\nalpha  beta   gamma.\nfiller line one here.\nfiller line two here.",
      s"2-word tab line must still drop: ${ws._3}")
  }

  test("NB classifier: hand-computed two-class vectors, tie to ascending class, lossless save") {
    import spark.implicits._
    import graft.pipeline.QualityNB
    // training: one doc per class; alpha/beta/zeta bucket distinctly
    // (931/2736/1719 mod 4096 — deterministic md5)
    val train = Seq((1L, "alpha alpha beta", "good"), (2L, "zeta", "bad"))
      .toDF("doc_id", "text", "cls")
    val model = QualityNB.train(train, "doc_id", "text", "cls")
    // constants: priors flog2(1+1)−flog2(2+2) = −1 both; tok_q good =
    // flog2(3+4096)=12, bad = flog2(1+4096)=12
    // "alpha beta": good 1+1−24−1 = −23 beats bad 0−24−1 = −25 → good
    // "zeta":       bad 1−12−1 = −12 beats good 0−12−1 = −13 → bad
    // "":           both priors −1 → tie → ascending-first class = bad
    val got = QualityNB.classify(
      Seq((10L, "alpha beta"), (11L, "zeta"), (12L, "")).toDF("doc_id", "text"),
      "doc_id", "text", model)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(got(10L) == ((2L, -25L, -23L, "good")), s"got ${got(10L)}")
    assert(got(11L) == ((1L, -12L, -13L, "bad")), s"got ${got(11L)}")
    assert(got(12L) == ((0L, -1L, -1L, "bad")), s"token-free doc must score priors and tie-break ascending: ${got(12L)}")
    // NULL training labels fail loudly (a dropped class skews every prior)
    val exn = intercept[Exception] {
      QualityNB.train(
        Seq((1L, "a", "good"), (2L, "b", null.asInstanceOf[String])).toDF("doc_id", "text", "cls"),
        "doc_id", "text", "cls").weights.collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(exn).exists(_.contains("NULL cls")), s"got $exn")
    // persistence round-trip is lossless
    val dir = java.nio.file.Files.createTempDirectory("qnb_spec").toString
    QualityNB.saveModel(spark, model, dir)
    val re = QualityNB.loadModel(spark, dir)
    assert(re.buckets == model.buckets)
    val reGot = QualityNB.classify(
      Seq((10L, "alpha beta"), (11L, "zeta")).toDF("doc_id", "text"),
      "doc_id", "text", re)
      .collect().map(r => r.getLong(0) -> r.getString(4)).toMap
    assert(reGot == Map(10L -> "good", 11L -> "bad"), s"got $reGot")
    // a non-model dir fails loudly
    intercept[Exception] { QualityNB.loadModel(spark, s"$dir/nope") }
  }

  test("per-group ppl buckets cut terciles within each group (CCNet per-language)") {
    import spark.implicits._
    import graft.pipeline.QualityLM
    val model = QualityLM.train(docs(100L -> "a b a b a b", 101L -> "a c"), "doc_id", "text")
    // group x: 333/600/1000; group y (farther from the reference): 666/750/1000
    val d = Seq(
      (1L, "x", "a b a b"), (2L, "x", "a b a b a c"), (3L, "x", "z q w e r t y u"),
      (4L, "y", "a b a b a b z"), (5L, "y", "a b a b z"), (6L, "y", "q w"))
      .toDF("doc_id", "lang", "text")
    val got = QualityLM.bucketsBy(d, "doc_id", "text", "lang", model)
      .collect().map(r => r.getLong(0) -> r.getString(4)).toMap
    // per-group: each language splits into its own head/middle/tail —
    // a GLOBAL cut would leave group y head-less (its best score, 666,
    // sits in the global middle)
    assert(got == Map(1L -> "head", 2L -> "middle", 3L -> "tail",
      4L -> "head", 5L -> "middle", 6L -> "tail"), s"got $got")
    val global = QualityLM.buckets(d, "doc_id", "text", model)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(global(4L) != "head", "premise broken: the global cut already heads group y")

    // a NULL group gets its own terciles too (an aggregate + equi-join for
    // the group total would silently drop it — review finding r15)
    val dn = Seq((1L, null.asInstanceOf[String], "a b a b"),
      (2L, null.asInstanceOf[String], "a b a b a c"),
      (3L, null.asInstanceOf[String], "z q w e r t y u")).toDF("doc_id", "lang", "text")
    val gotNull = QualityLM.bucketsBy(dn, "doc_id", "text", "lang", model)
      .collect().map(r => r.getLong(0) -> r.getString(4)).toMap
    assert(gotNull == Map(1L -> "head", 2L -> "middle", 3L -> "tail"), s"got $gotNull")
  }

  test("quality-LM scores match a naive driver-side reference on random corpora") {
    import graft.pipeline.QualityLM
    val r = new scala.util.Random(4242)
    def flog2(x: Long): Long = if (x <= 0) 0L else 63L - java.lang.Long.numberOfLeadingZeros(x)
    for (_ <- 1 to 3) {
      // tiny vocab forces heavy bigram collisions and unseen-token paths
      val vocab = Seq("a", "b", "c", "d", "e").take(2 + r.nextInt(4))
      def doc() = (1 to (1 + r.nextInt(12))).map(_ => vocab(r.nextInt(vocab.size))).mkString(" ")
      val refDocs = (100L until 100L + (1 + r.nextInt(6))).map(i => i -> doc())
      val dDocs = (1L to 10L).map(i => i -> doc())
      val model = QualityLM.train(docs(refDocs: _*), "doc_id", "text")
      val got = QualityLM.score(docs(dDocs: _*), "doc_id", "text", model)
        .collect().map(rr => rr.getLong(0) ->
          ((rr.getLong(1), if (rr.isNullAt(2)) None else Some(rr.getLong(2))))).toMap
      // naive reference replaying the documented math exactly
      def toks(t: String) = t.split(" ").filter(_.nonEmpty).map(_.toLowerCase).toSeq
      val uni = refDocs.flatMap(d => toks(d._2))
        .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      val big = refDocs.flatMap(d => toks(d._2).sliding(2).filter(_.size == 2).map(_.mkString(" ")))
        .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      val v = uni.size.toLong
      val want = dDocs.map { case (id, t) =>
        val bgs = toks(t).sliding(2).filter(_.size == 2).map(_.mkString(" ")).toSeq
        val nll = bgs.map { sh =>
          val a = sh.split(" ").head
          flog2(uni.getOrElse(a, 0L) + v) - flog2(big.getOrElse(sh, 0L) + 1L)
        }.sum
        id -> ((bgs.size.toLong,
          if (bgs.isEmpty) None else Some(nll * 1000L / bgs.size)))
      }.toMap
      assert(got == want, s"vocab=$vocab got=$got want=$want")
    }
  }

  test("c4LineFilter cleaned text is a line-level fixed point on random pages") {
    import graft.pipeline.TextOps
    val r = new scala.util.Random(77)
    val frags = Seq("good words make lines", "tiny", "sentence with javascript inside",
      "plain words without end", "four words right here", "x y", "")
    val ends = Seq(".", "!", "?", "\"", "", " ", ".\r")
    def page() = (1 to (1 + r.nextInt(10)))
      .map(_ => frags(r.nextInt(frags.size)) + ends(r.nextInt(ends.size)))
      .mkString(if (r.nextBoolean()) "\n" else "\r\n")
    val d = docs((1L to 40L).map(i => i -> page()): _*)
    val once = TextOps.c4LineFilter(d, "doc_id", "text")
      .select(col("doc_id"), col("n_kept_lines"), col("cleaned_text"))
    val again = TextOps.c4LineFilter(
      once.withColumnRenamed("cleaned_text", "text"), "doc_id", "text")
    val cmp = once.as("a").join(again.as("b"), Seq("doc_id"))
      .select(col("a.n_kept_lines").as("k1"), col("b.n_kept_lines").as("k2"),
        col("a.cleaned_text").as("c1"), col("b.cleaned_text").as("c2"))
      .collect()
    cmp.foreach { row =>
      assert(row.getLong(0) == row.getLong(1), s"kept-line count not a fixed point: $row")
      assert(row.getString(2) == row.getString(3), s"cleaned text not a fixed point: $row")
    }
  }

  test("removeDupSpans excises merged shared spans everywhere but the canonical doc") {
    val shared = (1 to 12).map(i => s"tok$i").mkString(" ") // 12 tokens → 3 shared windows
    val d = docs(
      1L -> (shared + " aaa bbb ccc"),       // canonical (min id): keeps everything
      2L -> ("xxx yyy zzz " + shared),       // loses the 12-token span, keeps its prefix
      3L -> "unrelated words only here",     // untouched
      4L -> (shared + " qqq " + shared),     // two occurrences, both excised
      5L -> "",                              // blank docs must not "share" the
      6L -> "   ")                           //   empty window with each other
    val got = TextOps.removeDupSpans(d, "doc_id", "text", span = 10)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    // canonical doc 1: nothing removed, text round-trips
    assert(got(1L) == ((15L, 0L, 0L, shared + " aaa bbb ccc")), s"doc1: ${got(1L)}")
    // doc 2: the three overlapping shared windows merge into ONE maximal
    // span covering exactly the 12 shared tokens; the unique prefix stays
    assert(got(2L) == ((15L, 12L, 1L, "xxx yyy zzz")), s"doc2: ${got(2L)}")
    // doc 3: single short tail window, unshared → untouched
    assert(got(3L) == ((4L, 0L, 0L, "unrelated words only here")), s"doc3: ${got(3L)}")
    // doc 4: both occurrences excised as TWO maximal spans (the bridging
    // windows spanning the qqq separator are unique to doc 4, so the
    // separator survives and splits the coverage)
    assert(got(4L) == ((25L, 24L, 2L, "qqq")), s"doc4: ${got(4L)}")
    // zero-token docs emit no window: no phantom span, nothing removed
    assert(got(5L) == ((0L, 0L, 0L, "")), s"doc5: ${got(5L)}")
    assert(got(6L) == ((0L, 0L, 0L, "")), s"doc6: ${got(6L)}")
    // degenerate span is an explicit error, not garbage output
    intercept[IllegalArgumentException](TextOps.removeDupSpans(d, "doc_id", "text", span = 0))
  }

  test("CMS sketches merge cell-for-cell and round-trip through parquet") {
    import graft.pipeline.Profile
    import spark.implicits._
    val words = (1 to 50).map(i => (i.toLong, s"w${i % 6}")).toDF("id", "w")
    val whole = Profile.cmsSketch(words, "w", depth = 3, width = 32)
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    // mergeability: disjoint slices sum to the whole sketch exactly
    val merged = Profile.mergeSketches(
      Profile.cmsSketch(words.filter(col("id") % 2 === 0), "w", 3, 32),
      Profile.cmsSketch(words.filter(col("id") % 2 === 1), "w", 3, 32))
    assert(cells(merged) == cells(whole))
    // persistence: save/load round-trips the cells bit-for-bit
    val dir = java.nio.file.Files.createTempDirectory("cms").toString + "/sk"
    Profile.saveSketch(whole, dir)
    assert(cells(Profile.loadSketch(spark, dir)) == cells(whole))
    // estimates stay one-sided after the round trip; unseen values read 0
    val est = Profile.cmsEstimate(Profile.loadSketch(spark, dir),
        words.union(Seq((99L, "unseen")).toDF("id", "w")), "w", 3, 32)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    (0 to 5).foreach { k =>
      val exact = (1 to 50).count(_ % 6 == k).toLong
      assert(est(s"w$k") >= exact, s"w$k: ${est(s"w$k")} < $exact")
    }
    assert(est("unseen") <= 50L, "an unseen value's estimate is bounded by collisions")
  }

  test("piiStats counts each pattern independently and masks in fixed order") {
    val d = docs(
      1L -> "mail bob.smith+x@corp.example.org and alice@site.io ok",
      2L -> "call 555-123-4567 or 555.987.6543 today",
      3L -> "host 192.168.1.10 and 10.0.0.1 up",
      4L -> "mixed a@b.co 555-111-2222 127.0.0.1",
      5L -> "nothing here 12.34 and user at example dot com")
    val got = TextOps.piiStats(d, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .sortBy(_._1)
    assert(got(0) == ((1L, 2L, 0L, 0L, "mail <EMAIL> and <EMAIL> ok")), got(0))
    assert(got(1) == ((2L, 0L, 2L, 0L, "call <PHONE> or <PHONE> today")), got(1))
    assert(got(2) == ((3L, 0L, 0L, 2L, "host <IP> and <IP> up")), got(2))
    assert(got(3) == ((4L, 1L, 1L, 1L, "mixed <EMAIL> <PHONE> <IP>")), got(3))
    assert(got(4) == ((5L, 0L, 0L, 0L, "nothing here 12.34 and user at example dot com")), got(4))
  }

  test("compressionRatio orders repetitive < natural < random text") {
    val rng = new scala.util.Random(7)
    val repetitive = Array.fill(200)("spam").mkString(" ")
    val natural = (1 to 200).map(i => s"tok${i % 37}w${i % 11}").mkString(" ")
    val random = Array.fill(200)(rng.alphanumeric.take(8).mkString).mkString(" ")
    val d = docs(1L -> repetitive, 2L -> natural, 3L -> random)
    val got = TextOps.compressionRatio(d, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got(1L)._1 == repetitive.getBytes("UTF-8").length.toLong)
    assert(got.values.forall(v => v._2 > 0 && v._3 > 0))
    assert(got(1L)._3 < got(2L)._3 && got(2L)._3 < got(3L)._3, got)
    // determinism: a second run produces identical byte counts
    val again = TextOps.compressionRatio(d, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(again == got.view.mapValues(_._2).toMap)
  }

  test("vocabStats reports corpus tf and per-doc df") {
    val d = docs(1L -> "a a b", 2L -> "a c", 3L -> "c")
    val got = TextOps.vocabStats(d, "doc_id", "text").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(("a", 3L, 2L), ("b", 1L, 1L), ("c", 2L, 2L)), got)
  }

  test("sessionize splits at gap boundaries per key, 1-based and ordered") {
    import spark.implicits._
    val ev = Seq(
      (1L, 100L, 10L), (1L, 101L, 150L), (1L, 102L, 170L), // gap 50: new session at 150
      (2L, 200L, 10L)
    ).toDF("user", "id", "t")
    val got = TimeSeries.sessionize(ev, Seq("user"), "t", lit(40), tieBreak = Seq("id"))
      .select(col("user"), col("id"), col("session_idx")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 100L, 1L), (1L, 101L, 2L), (1L, 102L, 2L), (2L, 200L, 1L)), got)
  }

  test("sessionize gap is exclusive: exactly-gap spacing stays one session") {
    import spark.implicits._
    val ev = Seq((1L, 1L, 0L), (1L, 2L, 40L), (1L, 3L, 80L)).toDF("user", "id", "t")
    val got = TimeSeries.sessionize(ev, Seq("user"), "t", lit(40), tieBreak = Seq("id"))
      .agg(max("session_idx")).collect().head.getLong(0)
    assert(got == 1L)
  }

  test("funnel cascades min-times forward with per-step window drop-off") {
    import spark.implicits._
    val ev = Seq(
      (1L, "a", 10L), (1L, "b", 20L), (1L, "c", 25L),   // completes within window
      (2L, "a", 10L), (2L, "b", 200L),                  // b outside window 50
      (3L, "b", 5L), (3L, "a", 10L),                    // b BEFORE a: no step 2
      (4L, "a", 10L), (4L, "b", 30L)                    // no c at all
    ).toDF("user", "typ", "t")
    val got = TimeSeries.funnel(ev, Seq("user"), "t", "typ", Seq("a", "b", "c"),
      window = Some(lit(50)))
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
    assert(got == Set((1L, 10L, 20L, 25L), (2L, 10L, -1L, -1L),
      (3L, 10L, -1L, -1L), (4L, 10L, 30L, -1L)), got)
  }

  test("cohortRetention buckets by anchor week and counts distinct actives") {
    import spark.implicits._
    val ts = (d: String) => java.sql.Timestamp.valueOf(s"$d 12:00:00")
    val ev = Seq(
      (1L, "signup", ts("2024-01-01")), (1L, "click", ts("2024-01-10")),
      (1L, "click", ts("2024-01-11")), // same period as above: one active mark
      (2L, "signup", ts("2024-01-02")), // same cohort week as user 1
      (3L, "signup", ts("2024-01-08")), (3L, "click", ts("2024-01-09"))
    ).toDF("user_id", "event_type", "ts")
    val got = TimeSeries.cohortRetention(ev, Seq("user_id"), "ts",
      col("event_type") === "signup")
      .collect().map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2))).toSet
    // users 1+2 cohort 2024-01-01: both active period 0; user 1 also period 1
    // user 3 cohort 2024-01-08: active period 0 only
    assert(got == Set(("2024-01-01", 0L, 2L), ("2024-01-01", 1L, 1L),
      ("2024-01-08", 0L, 1L)), got)
  }

  test("rollingDailyStats trailing window respects gap days (RANGE not ROWS)") {
    import spark.implicits._
    val ts = (d: String) => java.sql.Timestamp.valueOf(s"$d 10:00:00")
    // days 1,2 then a gap to day 9: day 9's 7-day window must NOT see day 1/2
    val ev = Seq((1L, ts("2024-01-01")), (2L, ts("2024-01-01")), (1L, ts("2024-01-02")),
      (3L, ts("2024-01-09"))).toDF("user_id", "ts")
    val got = TimeSeries.rollingDailyStats(ev, "ts", "user_id").collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == Set(("2024-01-01", 2L, 2L, 2L), ("2024-01-02", 1L, 1L, 3L),
      ("2024-01-09", 1L, 1L, 1L)), got)
  }

  test("spikeDays flags only spikes with enough history; gaps empty the baseline") {
    import spark.implicits._
    val ts = (d: String) => java.sql.Timestamp.valueOf(s"$d 12:00:00")
    def burst(u: Long, day: String, n: Int) = Seq.fill(n)((u, ts(day)))
    val ev = (
      // user 1: three 2-event baseline days, then a 10-event spike, then a
      // quiet day that must NOT be flagged against the spike-raised sum
      burst(1L, "2024-01-01", 2) ++ burst(1L, "2024-01-02", 2) ++
        burst(1L, "2024-01-03", 2) ++ burst(1L, "2024-01-04", 10) ++
        burst(1L, "2024-01-05", 2) ++
        // user 2: a cold-start burst with zero history — not an anomaly
        burst(2L, "2024-01-01", 50) ++
        // user 3: history, then a burst AFTER a >7-day gap: the RANGE frame
        // is empty by then, so no baseline and no flag
        burst(3L, "2024-01-01", 1) ++ burst(3L, "2024-01-02", 1) ++
        burst(3L, "2024-01-03", 1) ++ burst(3L, "2024-01-20", 50)
      ).toDF("user_id", "ts")
    val got = TimeSeries.spikeDays(ev, "user_id", "ts").collect()
      .map(r => (r.getLong(0), r.getDate(1).toString, r.getLong(2), r.getLong(3)))
    // only user 1's day 4: 10 × 7 = 70 > 3 × (2+2+2) = 18, with 3 trail days
    assert(got.toSeq == Seq((1L, "2024-01-04", 10L, 6L)), got.mkString(", "))
  }

  test("splitAssign is disjoint, exhaustive, and growth-stable") {
    import spark.implicits._
    val d = (0L until 1000L).toDF("k")
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val got = TrainingSet.splitAssign(d, "k", splits).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size == 1000)
    val hist = got.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(hist.keySet == Set("train", "val", "test"), hist)
    assert(hist("train") > 700 && hist("train") < 900, hist) // ~80%
    // growth stability: the first 100 keys keep their split in a larger corpus
    val small = TrainingSet.splitAssign((0L until 100L).toDF("k"), "k", splits)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(small.forall { case (k, s) => got(k) == s })
  }

  test("leakageFreeSplit: no near-dup pair ever straddles splits") {
    import spark.implicits._
    val docs = (0L until 200L).toDF("doc_id")
    // two chains (0-1-2, 10-11) plus a far-apart pair (50, 150)
    val pairs = Seq((0L, 1L), (1L, 2L), (10L, 11L), (50L, 150L))
      .toDF("id_a", "id_b")
    val got = TrainingSet.leakageFreeSplit(docs, pairs, "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select("doc_id", "group_id", "split").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(got.size == 200)
    // cluster members share group (= min member) and split
    assert(Seq(0L, 1L, 2L).map(got(_)) == Seq.fill(3)((0L, got(0L)._2)))
    assert(got(10L) == got(11L) && got(10L)._1 == 10L)
    assert(got(50L) == got(150L) && got(50L)._1 == 50L)
    // singletons key on their own id and match the per-doc splitAssign
    val plain = TrainingSet.splitAssign((0L until 200L).toDF("group_id"),
      "group_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), "gsplit")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val clustered = Set(0L, 1L, 2L, 10L, 11L, 50L, 150L)
    got.filterNot(kv => clustered(kv._1)).foreach { case (id, (g, s)) =>
      assert(g == id && s == plain(id))
    }
  }

  test("capPerGroup keeps exactly the top-k per group, deterministic ties") {
    import spark.implicits._
    val d = Seq(
      ("a", 1L, 5.0), ("a", 2L, 5.0), ("a", 3L, 7.0), ("a", 4L, 1.0),
      ("b", 5L, 2.0)).toDF("g", "id", "score")
    val got = TrainingSet.capPerGroup(d, "g", "score", "id", k = 2)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    // a: 7.0 first, then the 5.0 tie breaks to the LOWER id
    assert(got == Set(("a", 3L), ("a", 1L), ("b", 5L)))
    // rank<=k compiles to WindowGroupLimit (bounded top-k buffers)
    val plan = TrainingSet.capPerGroup(d, "g", "score", "id", 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"top-k not limit-pushed:\n$plan")
  }

  test("chunkSequences: hand-computed windows, edges, overlap reconstruction") {
    import spark.implicits._
    val d = Seq(
      (1L, (1 to 10).toArray), // ⌈(10−4)/3⌉+1 = 3 chunks: starts 0, 3, 6
      (2L, (1 to 4).toArray),  // n == window → 1 full chunk
      (3L, Array(7, 8)),       // n < window → 1 short chunk
      (4L, Array.empty[Int])   // empty → no chunks
    ).toDF("doc_id", "ids")
    val got = TrainingSet.chunkSequences(d, "ids", "chunk", window = 4, stride = 3)
      .orderBy("doc_id", "chunk_idx")
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getSeq[Int](3).toVector))
    assert(got.toVector == Vector(
      (1L, 0, Vector(1, 2, 3, 4)), (1L, 1, Vector(4, 5, 6, 7)),
      (1L, 2, Vector(7, 8, 9, 10)),
      (2L, 0, Vector(1, 2, 3, 4)),
      (3L, 0, Vector(7, 8))), got.toVector)

    // stride == window → disjoint chunks, exact partition of the ids
    val flat = TrainingSet.chunkSequences(d.filter(col("doc_id") === 1L),
        "ids", "chunk", window = 4, stride = 4)
      .orderBy("chunk_idx").collect().flatMap(_.getSeq[Int](3)).toVector
    assert(flat == (1 to 10).toVector)

    // sf0.001 ids: every chunk list reconstructs the original id stream
    // (chunk 0 whole, later chunks drop the window−stride overlap)
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val model = BpeOps.trainModel(docs, "text", 32)
    val withIds = BpeOps.withTokenIds(
      docs.select(col("doc_id"), col("text")), "text", model, "ids")
    val chunked = TrainingSet.chunkSequences(withIds.drop("text"),
        "ids", "chunk", window = 16, stride = 12)
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("chunk_idx"), col("chunk"))))
        .as("cs"))
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Row](1).map(_.getSeq[Int](1).toVector).toVector).toMap
    val orig = withIds.select("doc_id", "ids").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toVector).toMap
    assert(orig.nonEmpty)
    orig.foreach { case (id, ids) =>
      if (ids.isEmpty) assert(!chunked.contains(id))
      else {
        val cs = chunked(id)
        val rebuilt = cs.head ++ cs.tail.flatMap(_.drop(16 - 12))
        assert(rebuilt == ids, s"doc $id reconstruction")
        assert(cs.init.forall(_.size == 16), s"doc $id non-final short chunk")
      }
    }
  }

  test("chunkSequences properties hold on random (n, window, stride) through the PRODUCTION plan") {
    import spark.implicits._
    // random lengths INCLUDING 0 and window-multiples, several random
    // window/stride configs — the Column arithmetic itself is the subject
    // (a driver-side mirror of the formula would stay green through a
    // regression in the real expression)
    val r = new scala.util.Random(7)
    val rows = (1L to 120L).map(id => (id, (1 to r.nextInt(60)).toArray))
      .toDF("doc_id", "ids")
    (1 to 6).foreach { _ =>
      val window = 1 + r.nextInt(16)
      val stride = 1 + r.nextInt(window)
      val got = TrainingSet.chunkSequences(rows, "ids", "chunk", window, stride)
        .groupBy("doc_id")
        .agg(sort_array(collect_list(struct(col("chunk_idx"), col("chunk")))).as("cs"))
        .collect().map(rr => rr.getLong(0) ->
          rr.getSeq[Row](1).map(_.getSeq[Int](1).toVector).toVector).toMap
      val orig = rows.collect().map(rr => rr.getLong(0) -> rr.getSeq[Int](1).toVector).toMap
      orig.foreach { case (id, ids) =>
        if (ids.isEmpty) assert(!got.contains(id), s"empty doc chunked w=$window s=$stride")
        else {
          val cs = got(id)
          // only the final chunk may be short; all tokens covered in order
          assert(cs.init.forall(_.size == window), s"doc $id w=$window s=$stride")
          assert(cs.last.nonEmpty)
          val rebuilt = cs.head ++ cs.tail.flatMap(_.drop(window - stride))
          assert(rebuilt == ids, s"doc $id w=$window s=$stride reconstruction")
        }
      }
    }
  }

  test("q105 golden parquet matches a live recompute on sf0.01") {
    val sfDir = "/root/testdata/sf0.01"
    assume(new java.io.File(sfDir).isDirectory, s"$sfDir not present")
    val golden105 = "src/test/resources/golden/q105_chunk_sequences.parquet"
    assume(new java.io.File(golden105).exists(), s"$golden105 not generated yet")
    val live = SparkEntry.queries("q105_chunk_sequences")(spark, sfDir)
      .collect().map(_.toString).toSeq
    val golden = spark.read.parquet(golden105)
      .orderBy("doc_id", "chunk_idx").collect().map(_.toString).toSeq
    assert(golden.nonEmpty, "golden file is empty")
    assert(live == golden,
      "q105 golden is STALE — regenerate per the q105 oracle comment in " +
        "PipelineQueries before the driver's compare runs")
  }

  test("OnArrays join variants equal their self-building counterparts") {
    val d = Tables.documents(spark, "/root/testdata/sf0.001")
    val arrs = Dedup.docShingleArrays(d, "doc_id", "text", 3).cache()
    try {
      def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.collect().map(_.toString).sorted.toSeq
      assert(rows(Dedup.jaccardJoinExactOnArrays(arrs, "doc_id", 1, 2))
        == rows(Dedup.jaccardJoinExact(d, "doc_id", "text", 3, 1, 2)))
      assert(rows(Dedup.containmentJoinOnArrays(arrs, "doc_id", 10, 1, 5))
        == rows(Dedup.containmentJoin(d, "doc_id", "text", 3, 10, 1, 5)))
    } finally arrs.unpersist()
  }

  test("call-scoped join operators leave no cache entry, also when the checkpoint job throws") {
    import spark.implicits._
    import graft.pipeline.{FuzzyJoin, GraphOps}
    import org.apache.spark.sql.GraftShim.cachedEntries
    // near-duplicate pairs across odd (batch) and even (index) ids
    val base = (1 to 12).map(i => s"w$i").mkString(" ")
    val d = (1L to 8L).map(i => (i, s"$base x${i / 2} y$i", if (i % 2 == 0) "web" else "books"))
      .toDF("doc_id", "text", "source")
    // checkpointed, so the OnArrays entries read a frame with no cache entry
    val arrs = Dedup.docShingleArrays(d, "doc_id", "text", 3).localCheckpoint(true)
    val names = d.select(col("doc_id"), substring(col("text"), 30, 14).as("s"))
    val index = Dedup.buildNearDupIndex(d.filter(col("doc_id") % 2 === 0), "doc_id", "text")
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("id_a", "id_b")
    spark.catalog.clearCache()
    def leavesNoCache(what: String)(call: => Any): Unit = {
      call
      assert(cachedEntries(spark) == 0, s"$what left ${cachedEntries(spark)} cache entries")
    }
    leavesNoCache("jaccardJoinExact")(Dedup.jaccardJoinExact(d, "doc_id", "text", 3, 1, 2))
    leavesNoCache("jaccardJoinExactOnArrays")(Dedup.jaccardJoinExactOnArrays(arrs, "doc_id", 1, 2))
    leavesNoCache("containmentJoin")(Dedup.containmentJoin(d, "doc_id", "text", 3, 10, 1, 5))
    leavesNoCache("containmentJoinOnArrays")(Dedup.containmentJoinOnArrays(arrs, "doc_id", 10, 1, 5))
    leavesNoCache("probeNearDupsIndexed")(Dedup.probeNearDupsIndexed(
      d.filter(col("doc_id") % 2 === 1), index, "doc_id", "text"))
    leavesNoCache("editDistanceJoin")(FuzzyJoin.editDistanceJoin(names, "doc_id", "s", maxDist = 2))
    leavesNoCache("editDistanceCandidateCount")(
      FuzzyJoin.editDistanceCandidateCount(names, "doc_id", "s", maxDist = 2))
    leavesNoCache("pageRank")(GraphOps.pageRank(edges, "id_a", "id_b"))
    leavesNoCache("sourceDivergence")(TextOps.sourceDivergence(d, "text", "source"))
    // the checkpoint job fails inside the shingle kernel: the pins built
    // before it still go
    val poisoned = d.withColumn("text",
      when(col("doc_id") === 3, raise_error(lit("poisoned row"))).otherwise(col("text")))
    leavesNoCache("a failing jaccardJoinExact") {
      val e = intercept[Exception](Dedup.jaccardJoinExact(poisoned, "doc_id", "text", 3, 1, 2))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("poisoned row")), e.toString)
    }
  }

  test("dsirWeights: hand-checked quantized scores, all raw docs appear") {
    // target "a b a b": ct("a b") = 2, ct("b a") = 1, Tt = 3
    // raw: doc1 "a b" (target-common bigram), doc2 "x y" (target-absent),
    //      doc3 "z" (no bigrams) → cr("a b") = cr("x y") = 1, Tr = 2
    // λ("a b") = ⌊log2 3⌋ − ⌊log2 2⌋ = 0; λ("x y") = ⌊log2 1⌋ − ⌊log2 2⌋ = −1
    // const = ⌊log2 8194⌋ − ⌊log2 8195⌋ = 0
    val raw = docs(1L -> "a b", 2L -> "x y", 3L -> "z")
    val target = docs(10L -> "a b a b")
    val got = TrainingSet.dsirWeights(raw, target, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 1L, 0L), (2L, 1L, -1L), (3L, 0L, 0L)), got)
  }

  test("dsirWeights matches a naive driver-side reference on sf0.001") {
    val d = Tables.documents(spark, "/root/testdata/sf0.001")
    val raw = d.filter(col("source") =!= "src0")
    val target = d.filter(col("source") === "src0")
    val got = TrainingSet.dsirWeights(raw, target, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    // independent reference: same contract, plain Scala over collected rows
    def toks(t: String): Vector[String] =
      Option(t).getOrElse("").toLowerCase.split(' ').toVector.filter(_.nonEmpty)
    def bigrams(t: String): Vector[String] =
      toks(t).sliding(2).filter(_.size == 2).map(_.mkString(" ")).toVector
    def bucket(s: String): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(h.substring(0, 8), 16) % 8192
    }
    def flog2(x: Long): Long = 63L - java.lang.Long.numberOfLeadingZeros(x)
    val rawRows = raw.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val tgtRows = target.select("text").collect().map(_.getString(0))
    val cr = rawRows.flatMap(r => bigrams(r._2)).groupBy(bucket)
      .view.mapValues(_.length.toLong).toMap
    val ct = tgtRows.flatMap(bigrams).groupBy(bucket)
      .view.mapValues(_.length.toLong).toMap
    val tr = cr.values.sum; val tt = ct.values.sum
    val constQ = flog2(tr + 8192) - flog2(tt + 8192)
    val want = rawRows.map { case (id, t) =>
      val bs = bigrams(t).map(bucket)
      val lam = bs.map(b => flog2(ct.getOrElse(b, 0L) + 1) - flog2(cr(b) + 1)).sum
      (id, bs.size.toLong, lam + bs.size * constQ)
    }.toSet
    assert(got == want)
  }

  test("cmsHeavyHitters: exact counts on a tiny domain, one-sided error at scale") {
    import spark.implicits._
    import graft.pipeline.Profile
    // tiny domain, wide sketch → no collisions: est == exact, order total
    val vals = (Seq.fill(5)("a") ++ Seq.fill(3)("b") ++ Seq.fill(3)("c") ++
      Seq("d")).toDF("v")
    val got = Profile.cmsHeavyHitters(vals, "v", depth = 4, width = 1024, k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq(("a", 5L, 5L), ("b", 3L, 3L), ("c", 3L, 3L)), got)

    // NULL is not a value (documented): null rows are excluded, non-null
    // counts unaffected, and the value column keeps its ORIGINAL type
    val withNulls = (Seq("a", null, "a", null, "b").map(Option(_))).toDF("v")
    val nn = Profile.cmsHeavyHitters(withNulls, "v", depth = 2, width = 64, k = 5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(nn == Seq(("a", 2L, 2L), ("b", 1L, 1L)), nn)
    val typed = Profile.cmsHeavyHitters(Seq(10L, 9L, 10L).toDF("n"), "n", 2, 64, 2)
    assert(typed.schema("n").dataType == org.apache.spark.sql.types.LongType)
    assert(typed.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      == Seq((10L, 2L), (9L, 1L)))

    // forced collisions (width = 2): estimates stay ONE-SIDED (est >= exact)
    // and the true hottest value still surfaces
    val squeezed = Profile.cmsHeavyHitters(vals, "v", depth = 2, width = 2, k = 4)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(squeezed.forall(r => r._2 >= r._3), squeezed.mkString(","))
    assert(squeezed.head._2 >= 5L)

    // sf0.001 token stream: the property holds corpus-wide
    val toks = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(explode(TextOps.tokens(col("text"))).as("w"))
    val hh = Profile.cmsHeavyHitters(toks, "w", depth = 4, width = 256, k = 50)
      .collect()
    // k caps the output; the sf0.001 vocabulary is smaller than 50
    assert(hh.nonEmpty && hh.length <= 50)
    assert(hh.forall(r => r.getLong(1) >= r.getLong(2)),
      "CMS must never underestimate")
  }

  test("lmScore quantizes bigram counts to floor-log2 with exact means") {
    val d = docs(1L -> "a b a b", 2L -> "a b", 3L -> "x")
    val got = TextOps.lmScore(d, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    // counts: "a b" -> 3 (log2=1), "b a" -> 1 (log2=0); doc 3 has no bigrams
    assert(got == Set((1L, 3L, 2L, 2.0 / 3), (2L, 1L, 1L, 1.0)), got)
  }

  test("collocations rank always-co-occurring pairs above frequent independent pairs") {
    // 8 docs "aa bb" and 16 docs "cc dd"; T = 48 tokens. Quantized PMI:
    // pmi_q(aa bb) = len(bin 8) + len(bin 48) - len(bin 8) - len(bin 8)
    //              = 4 + 6 - 4 - 4 = 2
    // pmi_q(cc dd) = 5 + 6 - 5 - 5 = 1 — the twice-as-frequent pair ranks
    // BELOW the perfectly-associated one, which raw counts would invert
    val d = docs(((1L to 8L).map(i => i -> "aa bb") ++
      (9L to 24L).map(i => i -> "cc dd")): _*)
    val got = TextOps.collocations(d, "doc_id", "text", minCount = 2, k = 5).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq(("aa bb", 8L, 8L, 8L, 2L), ("cc dd", 16L, 16L, 16L, 1L)),
      got.mkString(", "))
  }

  test("exportShards writes ordered shard dirs plus a usable manifest") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("shards").toString
    val d = (0L until 300L).toDF("k")
    val manifest = TrainingSet.exportShards(d, "k", rowsPerShard = 128, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(manifest.toSeq == Seq((0L, 128L, 0L, 127L), (1L, 128L, 128L, 255L),
      (2L, 44L, 256L, 299L)), manifest.mkString(", "))
    // round-trip: shard dirs exist, each shard's rows match its manifest
    // count, and the union reproduces the full assignment
    val back = spark.read.parquet(s"$dir/shard=1")
    assert(back.count() == 128L)
    val full = spark.read.parquet(dir)
    assert(full.count() == 300L &&
      full.select("global_idx").distinct().count() == 300L)
  }

  test("shardAssignments reproduces the global row_number spec distributed") {
    import spark.implicits._
    val d = (0L until 500L).toDF("k")
    val got = TrainingSet.shardAssignments(d, "k", rowsPerShard = 64)
      .select(col("k"), col("global_idx"), col("shard")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // spec: one global sort by (md5(k || ":shard"), k)
    val md = java.security.MessageDigest.getInstance("MD5")
    def key(k: Long): String = {
      md.reset()
      md.digest(s"$k:shard".getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    val want = (0L until 500L).sortBy(k => (key(k), k)).zipWithIndex
      .map { case (k, i) => (k, i.toLong, i.toLong / 64) }.toSet
    assert(got.toSet == want)
    assert(got.map(_._2).sorted.toSeq == (0L until 500L).toSeq) // dense, no dups
  }

  test("groupedPercentiles interpolates at q*(n-1) with exact group totals") {
    import spark.implicits._
    val d = Seq(("a", 10L), ("a", 20L), ("a", 30L), ("a", 40L), ("b", 5L))
      .toDF("g", "v")
    val got = graft.pipeline.Profile.groupedPercentiles(d, "g", "v", Seq(0.5, 0.9))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSet
    // group a: pos(0.5) = 1.5 → 25.0; pos(0.9) = 2.7 → 30 + 0.7*10 = 37.0
    assert(got == Set(("a", 4L, 100L, 25.0, 37.0), ("b", 1L, 5L, 5.0, 5.0)))
  }

  test("groupedPercentiles matches the builtin aggregate's null semantics") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count, lit, percentile, sum, typedLit}
    // nulls count in n_rows, are skipped by sum, and are INVISIBLE to the
    // percentile ranks; an all-null group keeps its row with null stats
    val d = Seq(("a", Some(10L)), ("a", None), ("a", Some(20L)),
      ("b", None), ("b", None),
      // null GROUP KEY: the builtin groups it like any value — the
      // histogram path must too (null-safe join)
      (null.asInstanceOf[String], Some(10L)),
      (null.asInstanceOf[String], Some(20L))).toDF("g", "v")
    val got = graft.pipeline.Profile.groupedPercentiles(d, "g", "v", Seq(0.5))
      .orderBy("g").collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getLong(2),
        if (r.isNullAt(3)) null else r.getDouble(3))).toSeq
    val want = d.groupBy(col("g"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"),
        percentile(col("v"), typedLit(Array(0.5))).getItem(0).as("p"))
      .orderBy("g").collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getLong(2),
        if (r.isNullAt(3)) null else r.getDouble(3))).toSeq
    assert(got == want, s"got $got want $want")
  }

  test("semanticDedup drops only the later member of a within-cell near-dup pair") {
    import spark.implicits._
    // cells = 2 over dense ids 0..7 → centroids are ids 0 and 4: group A
    // points cluster on the x axis, group B on y; ids 1 and 5 are planted
    // near-copies of their cell's centroid, the rest stay below threshold
    val emb = Seq(
      0L -> Seq(1f, 0f, 0f, 0f), 1L -> Seq(1f, 0.001f, 0f, 0f),
      2L -> Seq(0.9f, 0.3f, 0f, 0f), 3L -> Seq(0.9f, -0.3f, 0f, 0f),
      4L -> Seq(0f, 1f, 0f, 0f), 5L -> Seq(0.001f, 1f, 0f, 0f),
      6L -> Seq(0.3f, 0.9f, 0f, 0f), 7L -> Seq(0f, 0.9f, 0.3f, 0f)
    ).toDF("vec_id", "embedding")
    val dropped = Embeddings.semanticDedup(
        Embeddings.prepare(emb, "vec_id", "embedding"), "vec_id", cells = 2, threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(dropped == Set((1L, 0L), (5L, 4L)))
  }

  test("knnGraph keeps only mutual within-cell top-k edges") {
    import spark.implicits._
    // one cell (cells = 1): a tight trio (0, 1, 2) plus two outliers (3, 4)
    // that each rank the trio highly but are nobody's top choice back when
    // k = 1 — with k = 1, only the single best-reciprocated pair survives
    val emb = Seq(
      0L -> Seq(1f, 0f, 0f, 0f), 1L -> Seq(0.99f, 0.14f, 0f, 0f),
      2L -> Seq(0.99f, -0.14f, 0f, 0f),
      3L -> Seq(0.7f, 0.7f, 0.14f, 0f), 4L -> Seq(0f, 0f, 1f, 0f)
    ).toDF("vec_id", "embedding")
    val prepared = Embeddings.prepare(emb, "vec_id", "embedding")
    val k1 = Embeddings.knnGraph(prepared, "vec_id", k = 1, cells = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(k1 == Set((0L, 1L)), s"k=1 must keep only the best reciprocated pair, got $k1")
    // with k = 4 every directed edge exists, so mutual = all C(5,2) pairs
    val k4 = Embeddings.knnGraph(prepared, "vec_id", k = 4, cells = 1).count()
    assert(k4 == 10, s"k=n-1 must yield the complete graph, got $k4")
  }

  test("kmvSketch estimates within tolerance and is exact under k distinct") {
    import spark.implicits._
    val rows = (1 to 500).map(i => ("big", s"value-$i")) ++
      (1 to 7).map(i => ("small", s"v$i")) ++
      Seq(("small", "v1")) // duplicate — distinct must collapse it
    val got = graft.pipeline.Profile.kmvSketch(
        rows.toDF("source", "text"), "source", "text", k = 16)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got("small") == ((7L, 7.0)), s"exact path: ${got("small")}")
    val (kUsed, est) = got("big")
    assert(kUsed == 16L)
    // KMV standard error ≈ 1/sqrt(k-2) ≈ 27% at k=16; accept 3σ
    assert(est > 100 && est < 1500, s"estimate off: $est for true 500")
  }

  test("bm25TopK ranks saturated tf and rare terms sensibly") {
    import spark.implicits._
    // 'rare' appears in one doc of four → max idf; doc 1 is pure spam of a
    // common term and must not outrank the rare-term doc (saturation)
    val d = Seq(
      1L -> "common common common common common common common common",
      2L -> "common rare filler words here",
      3L -> "common filler words",
      4L -> "other text entirely"
    ).toDF("doc_id", "text")
    val got = TextOps.bm25TopK(d, "doc_id", "text", Seq("common", "rare"), k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.head._1 == 2L, s"rare-term doc must rank first: ${got.toSeq}")
    assert(got.map(_._1).toSet == Set(1L, 2L, 3L), "doc 4 has no query term")
    // scores strictly ordered and positive
    assert(got.map(_._2).toSeq == got.map(_._2).sorted(Ordering[Long].reverse).toSeq)
    assert(got.forall(_._2 > 0))
  }

  test("asofJoin picks the latest at-or-before ref row per key") {
    import spark.implicits._
    val probe = Seq((1L, 10L, "p1"), (1L, 20L, "p2"), (1L, 5L, "p0"), (2L, 10L, "px"))
      .toDF("k", "t", "tag")
    val ref = Seq((1L, 8L, 1.0), (1L, 10L, 2.0), (1L, 15L, 3.0), (2L, 11L, 9.0))
      .toDF("k", "t", "v")
    val got = TimeSeries.asofJoin(probe, ref, Seq("k"), "t", Seq("v"))
      .collect().map(r => (r.getString(2), Option(r.get(3)))).toMap
    // tie at t=10 counts ("at or before"); t=5 predates every ref → null;
    // key 2's only ref is later than its probe → null
    assert(got == Map("p1" -> Some(2.0), "p2" -> Some(3.0), "p0" -> None, "px" -> None))
  }

  test("asofJoin keeps a null ref payload distinct from no-match, applies tolerance") {
    import spark.implicits._
    val probe = Seq((1L, 20L), (1L, 100L)).toDF("k", "t")
    val ref = Seq((1L, 18L, Option.empty[Double]), (1L, 10L, Some(5.0))).toDF("k", "t", "v")
    val plain = TimeSeries.asofJoin(probe, ref, Seq("k"), "t", Seq("v"), withMatchedTime = Some("mt"))
      .collect().map(r => (r.getLong(1), Option(r.get(2)), Option(r.get(3)))).toSet
    // t=20 matches the t=18 ref row whose payload IS null (not the earlier 5.0)
    assert(plain == Set((20L, None, Some(18L)), (100L, None, Some(18L))))
    val tol = TimeSeries.asofJoin(probe, ref, Seq("k"), "t", Seq("v"),
        tolerance = Some(lit(10L)), withMatchedTime = Some("mt"))
      .collect().map(r => (r.getLong(1), Option(r.get(3)))).toSet
    // 100 - 18 = 82 > 10 → out of tolerance → no match at all
    assert(tol == Set((20L, Some(18L)), (100L, None)))
  }

  test("rangeJoinBinned matches each qualifying pair exactly once across bins") {
    import spark.implicits._
    val points = Seq((1L, 5L, 100L), (1L, 25L, 101L), (1L, 75L, 102L), (2L, 5L, 103L))
      .toDF("k", "t", "pid")
    // interval spanning 8 bins (width 10); one degenerate end<start interval
    val ivs = Seq((1L, 0L, 76L, 200L), (1L, 30L, 20L, 201L), (2L, 6L, 7L, 202L))
      .toDF("k", "lo", "hi", "iid")
    val got = TimeSeries.rangeJoinBinned(points, ivs, Seq("k"), "t", "lo", "hi", binSeconds = 10)
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1)))
    // every in-range point matched ONCE despite the interval covering its bin
    // plus 7 others; the inverted interval contributes nothing
    assert(got.sorted.toSeq == Seq((100L, 200L), (101L, 200L), (102L, 200L)))
  }

  test("rangeJoinBinned bounds are inclusive on both ends for timestamp columns") {
    import spark.implicits._
    val points = Seq((1L, "2024-01-01 00:00:00", 1L), (1L, "2024-01-01 01:00:00", 2L),
        (1L, "2024-01-01 01:00:00.000001", 3L))
      .toDF("k", "ts", "pid").withColumn("ts", $"ts".cast("timestamp_ntz"))
    val ivs = Seq((1L, "2024-01-01 00:00:00", "2024-01-01 01:00:00"))
      .toDF("k", "lo", "hi")
      .withColumn("lo", $"lo".cast("timestamp_ntz")).withColumn("hi", $"hi".cast("timestamp_ntz"))
    val got = TimeSeries.rangeJoinBinned(points, ivs, Seq("k"), "ts", "lo", "hi", binSeconds = 600)
      .select("pid").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(1L, 2L)) // 1µs past the end excluded
  }

  test("jaccardJoinExact finds every pair at or above the threshold (no false negatives)") {
    // 8 docs with engineered 3-gram shingle overlaps; ground truth brute-forced
    val texts = Seq(
      1L -> "a b c d e f g h i j",     // 8 shingles
      2L -> "a b c d e f g h i x",     // ∩1 = 7, ∪ = 9 → J = 0.778
      3L -> "a b c d e f q r s t",     // ∩1 = 4, ∪ = 12 → J = 0.33
      4L -> "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10",
      5L -> "z1 z2 z3 z4 z5 z6 z7 z8 z9 z11", // J(4,5) = 0.778
      6L -> "m1 m2 m3 m4 m5 m6 m7 m8 m9 m10", // unrelated
      7L -> "t1 t2 t3 t4 t5 t6 x1 x2",  // 6 shingles
      8L -> "t1 t2 t3 t4 t5 t6 y1 y2")  // ∩7 = 4, ∪ = 8 → J = 0.5 EXACTLY
    val d = docs(texts: _*)
    def sh(t: String): Set[String] = t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val truth = (for {
      (ia, ta) <- texts; (ib, tb) <- texts if ia < ib
      i = (sh(ta) & sh(tb)).size; u = (sh(ta) | sh(tb)).size
      if i.toDouble / u >= 0.5
    } yield (ia, ib, i.toDouble / u)).toSet
    assert(truth.map(p => (p._1, p._2)) == Set((1L, 2L), (4L, 5L), (7L, 8L)))
    val got = Dedup.jaccardJoinExact(d, "doc_id", "text", shingleSize = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == truth, s"got $got, want $truth")
  }

  test("containment join finds a quote inside a long document that Jaccard misses") {
    val long = (1 to 40).map(i => s"w$i").mkString(" ")
    val quote = (10 to 17).map(i => s"w$i").mkString(" ") // 6 shingles, all inside `long`
    val other = (1 to 40).map(i => s"q$i").mkString(" ")
    val d = docs(1L -> long, 2L -> quote, 3L -> other)
    val got = Dedup.containmentJoin(d, "doc_id", "text",
        shingleSize = 3, maxDf = 10, tNum = 4, tDen = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // quote→long passes at containment 1.0; long→quote is 6/38 and fails
    assert(got == Set((2L, 1L, 1.0)), got.mkString(", "))
    // the symmetric Jaccard join cannot see it: union dominated by the long side
    assert(Dedup.jaccardJoinExact(d, "doc_id", "text").collect().isEmpty)
  }

  test("gopher rules flag each outlier family independently") {
    val d = docs(
      1L -> "the alpha beta gamma delta",      // all rules pass
      2L -> "the cat",                          // too few words
      3L -> "aa bb cc dd ee",                   // mean word length 2 < 3
      4L -> "the napkin randomly ... ... ...")  // symbol ratio 3/6 > 0.2
    val got = TextOps.gopherRules(d, "doc_id", "text",
        minWords = 5, maxWords = 10, minMeanLen = 3, maxMeanLen = 5,
        maxSymbolRatio = 0.2, minStopwords = 1)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getBoolean(5), r.getBoolean(6), r.getBoolean(7),
        r.getBoolean(8), r.getBoolean(9)))
    //            (id, ok_words, ok_mean_len, ok_symbols, ok_stop, keep)
    assert(got(0) == ((1L, true, true, true, true, true)))
    assert(got(1) == ((2L, false, true, true, true, false)))
    assert((got(2)._1, got(2)._3, got(2)._6) == ((3L, false, false)))
    assert(got(3) == ((4L, true, true, false, true, false)))
  }

  test("tokenBudgetSelect fills each stratum best-first and includes the boundary doc") {
    import spark.implicits._
    val rows = Seq(
      ("s1", 1L, 100L, 5.0), ("s1", 2L, 100L, 4.0),
      ("s1", 3L, 100L, 3.0), ("s1", 4L, 100L, 2.0),
      ("s2", 5L, 300L, 9.0), ("s2", 6L, 50L, 8.0))
      .toDF("source", "doc_id", "n_tokens", "quality")
    val got = TrainingSet.tokenBudgetSelect(rows, "source", "quality", "doc_id",
        "n_tokens", budget = 250)
      .select("doc_id").as[Long].collect().toSet
    // s1: docs 1,2 sum to 200 < 250, doc 3 crosses the quota (prior 200 < 250
    // → INCLUDED), doc 4's prior 300 ≥ 250 → excluded. s2: doc 5 alone
    // overshoots the whole budget (prior 0) and is kept; doc 6 is not.
    assert(got == Set(1L, 2L, 3L, 5L), got.mkString(", "))
  }

  test("robustOutliers: hand-computed doubled-median/MAD on odd and even groups") {
    import spark.implicits._
    val rows = Seq(
      // odd group: vq = 100,200,300,350,1000 → med2=600; dev2 = 400,200,0,
      // 100,1400 → mad22 = 400; outlier iff dev2*2 > 1200 → only id 4
      ("a", 1L, 1.0), ("a", 2L, 2.0), ("a", 3L, 3.0), ("a", 4L, 10.0), ("a", 5L, 3.5),
      // even group: vq = 0,100 → med2=100; dev2 = 100,100 → mad22=200; none
      ("b", 10L, 0.0), ("b", 11L, 1.0))
      .toDF("k", "id", "v")
    val got = graft.pipeline.Profile.robustOutliers(rows, "k", "v", "id", sigma = 3)
      .orderBy("k")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(got(0) == (("a", 5L, 600L, 400L, 1L, 4L)), got.mkString("; "))
    assert(got(1) == (("b", 2L, 100L, 200L, 0L, 0L)), got.mkString("; "))
  }

  test("pageRank: hand-computed 3-round ranks on a path graph, fixed point on a cycle") {
    import spark.implicits._
    // path 1—2—3: endpoints feed the hub; hand-unrolled integer recurrence
    val path = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val got = graft.pipeline.GraphOps.pageRank(path, "id_a", "id_b", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 629187500000L, 2L -> 1741625000000L, 3L -> 629187500000L),
      got.toString)
    // triangle: fully symmetric, scale is a fixed point of the recurrence
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("id_a", "id_b")
    val gotTri = graft.pipeline.GraphOps.pageRank(tri, "id_a", "id_b", iters = 3)
      .collect().map(r => r.getLong(1)).toSet
    assert(gotTri == Set(1000000000000L), gotTri.toString)
  }

  test("clusterRepresentatives keeps the best-scored member, ties break on id") {
    import spark.implicits._
    val clusters = Seq((1L, 1L), (1L, 2L), (1L, 3L), (7L, 7L), (7L, 9L))
      .toDF("cluster_id", "id")
    val scored = Seq((1L, 2.0), (2L, 9.0), (3L, 9.0), (7L, 1.0), (9L, 0.5))
      .toDF("doc_id", "quality")
    val got = Dedup.clusterRepresentatives(clusters, scored, "doc_id", "quality")
      .orderBy("cluster_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    // cluster 1: docs 2 and 3 tie at 9.0 → keeper 2 (lower id)
    assert(got(0) == ((1L, 3L, 6L, 2L, 9.0)), got.mkString("; "))
    assert(got(1) == ((7L, 2L, 16L, 7L, 1.0)), got.mkString("; "))
  }

  test("bloom decontaminate returns exactly the exact-join answer") {
    val train = docs(
      1L -> "alpha beta gamma delta epsilon",
      2L -> "one two three four five six",
      3L -> "totally unrelated training text here")
    val eval = docs(
      100L -> "beta gamma delta overlap probe",
      101L -> "four five six overlap probe")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getLong(0)).toSet
    val exact = ids(TrainingSet.contaminatedIds(train, eval, "doc_id", "text", 3))
    val bloom = ids(graft.pipeline.TrainingSet.contaminatedIdsBloom(
      train, eval, "doc_id", "text", 3))
    assert(exact == Set(1L, 2L))
    assert(bloom == exact)
  }

  test("IVF corpus-cache registry: same corpus reuses, different corpus evicts, clearCache re-caches") {
    import spark.implicits._
    def mk(n: Long) = Embeddings.prepare(
      (0L until n).map(id => id -> (0 until 4).map(j => (id + j).toFloat * 1e-5f))
        .toDF("vec_id", "embedding"), "vec_id", "embedding")
    val a1 = Embeddings.cacheCorpus(mk(8))
    assert(org.apache.spark.sql.GraftShim.planIsCached(a1))
    // same corpus (same canonical plan) → the SAME cached frame back
    assert(Embeddings.cacheCorpus(mk(8)) eq a1)
    // a different corpus evicts the previous copy (pinning bounded at 1)
    val b = Embeddings.cacheCorpus(mk(9))
    assert(!(b eq a1) && org.apache.spark.sql.GraftShim.planIsCached(b))
    assert(!org.apache.spark.sql.GraftShim.planIsCached(a1),
      "previous corpus must be unpersisted on eviction")
    // the bench/verify clearCache() hygiene must trigger a re-cache, not a
    // silent uncached hand-out
    spark.catalog.clearCache()
    assert(!org.apache.spark.sql.GraftShim.planIsCached(b))
    val b2 = Embeddings.cacheCorpus(mk(9))
    assert(org.apache.spark.sql.GraftShim.planIsCached(b2))
    // every ANN operator on corpus A, then on corpus B: the registry's one
    // corpus is the only cache entry left behind
    spark.catalog.clearCache()
    Seq(mk(8), mk(9)).foreach { p =>
      val pred = col("vec_id") < 2
      Seq(Embeddings.bruteForceTopK(p, "vec_id", 2, pred),
        Embeddings.annTopK(p, "vec_id", 2, planes = 2, pred),
        Embeddings.nearDupPairsLSH(p, "vec_id", 0.5, planes = 2),
        Embeddings.ivfTopKProbed(p, "vec_id", 2, cells = 2, pred, nprobe = 2),
        Embeddings.ivfTopKTrained(p, "vec_id", 2, cells = 2, pred, nprobe = 1),
        Embeddings.pqEncode(p, "vec_id", m = 2, k = 2),
        Embeddings.pqTopK(p, "vec_id", 2, pred, m = 2, k = 2),
        Embeddings.pqTopKIVF(p, "vec_id", 2, pred, cells = 2, nprobe = 1, m = 2, k = 2),
        Embeddings.pqTopKIVFTrained(p, "vec_id", 2, pred, cells = 2, nprobe = 1, m = 2, k = 2),
        Embeddings.semanticDedup(p, "vec_id", cells = 2, threshold = 0.5),
        Embeddings.knnGraph(p, "vec_id", k = 2, cells = 2),
        Embeddings.mmrRerank(p, "vec_id", col("vec_id") === 1, k0 = 3, topK = 2)
      ).foreach(_.collect())
    }
    assert(org.apache.spark.sql.GraftShim.cachedEntries(spark) <= 1,
      s"ANN operators leaked ${org.apache.spark.sql.GraftShim.cachedEntries(spark)} cache entries")
    spark.catalog.clearCache()
  }

  test("rrfFuse: exact integer contributions, lists_hit, id tie-break, topK cut") {
    import spark.implicits._
    val l1 = Seq((10L, 1L), (20L, 2L), (30L, 3L)).toDF("id", "rnk")
    val l2 = Seq((20L, 1L), (10L, 2L), (40L, 3L)).toDF("id", "rnk")
    val got = TextOps.rrfFuse(Seq(l1, l2), "id", "rnk", kRrf = 0, topK = 3)
      .orderBy("rnk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
    // kRrf=0 contributions: rank 1 → 10¹², rank 2 → 5·10¹¹, rank 3 →
    // 333333333333 (floor). Ids 10 and 20 both score 1.5·10¹² from both
    // lists — the tie breaks to the lower id; ids 30/40 tie at one list
    // each and topK=3 cuts 40 (the higher id of that tie).
    assert(got == Seq(
      (10L, 2L, 1500000000000L, 1),
      (20L, 2L, 1500000000000L, 2),
      (30L, 1L, 333333333333L, 3)), got)
    // a one-list id must surface with lists_hit=1 when topK allows it
    val all = TextOps.rrfFuse(Seq(l1, l2), "id", "rnk", kRrf = 0, topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(all == Map(10L -> 2L, 20L -> 2L, 30L -> 1L, 40L -> 1L), all)
    // kRrf shifts every denominator: rank 1 at kRrf=60 → 10¹² DIV 61
    val shifted = TextOps.rrfFuse(Seq(l1), "id", "rnk", kRrf = 60, topK = 1)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(shifted == Seq((10L, 1000000000000L / 61L)), shifted)
    // the 1-based-rank contract is enforced IN the plan (a 0 rank at
    // kRrf=0 would otherwise NULL the contribution where the oracle errors)
    val bad = Seq((1L, 0L)).toDF("id", "rnk")
    intercept[Exception] {
      TextOps.rrfFuse(Seq(bad), "id", "rnk", kRrf = 0, topK = 1).collect()
    }
  }

  test("mmrRerank: λ=1 is pure relevance; greedy matches an independent replica; deterministic") {
    import spark.implicits._
    // deterministic pseudo-random fixture: 13 vectors, dim 6
    val d = (0L until 13L).map(id =>
      id -> (0 until 6).map(j => (((id * 13 + j * 7) % 17) - 8).toFloat * 1e-5f))
      .toDF("vec_id", "embedding")
    val prep = Embeddings.prepare(d, "vec_id", "embedding").cache()
    try {
      // λ=1: score = rel exactly → the MMR order IS the brute-force order
      val pure = Embeddings.mmrRerank(prep, "vec_id", col("vec_id") === 0,
        k0 = 8, topK = 5, lambda = 1.0)
        .orderBy("rnk").collect().map(_.getLong(0)).toSeq
      val brute = Embeddings.bruteForceTopK(prep, "vec_id", 5, col("vec_id") === 0)
        .orderBy("rnk").collect().map(_.getLong(2)).toSeq
      assert(pure == brute, s"λ=1 must reduce to relevance order: $pure vs $brute")

      // λ=0.5 vs an independent in-test greedy over first-principles cosines
      val qs: Map[Long, Array[Long]] = prep.select(col("vec_id"), col("q"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
      def cosOf(a: Long, b: Long): Double = {
        val (qa, qb) = (qs(a), qs(b))
        val dot = qa.iterator.zip(qb.iterator).map { case (x, y) => x * y }.sum
        val (na, nb) = (qa.map(x => x * x).sum, qb.map(x => x * x).sum)
        dot.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
      }
      val rel = (1L until 13L).map(v => v -> cosOf(0L, v))
        .sortBy { case (v, c) => (-c, v) }.take(8).toMap
      val expect = scala.collection.mutable.ArrayBuffer.empty[Long]
      val ms = scala.collection.mutable.HashMap.empty[Long, Double]
      while (expect.length < 5) {
        val best = rel.keys.toSeq.sorted.filterNot(expect.contains)
          .map(v => (v, 0.5 * rel(v) - 0.5 * ms.getOrElse(v, 0.0)))
          .reduceLeft((x, y) => if (y._2 > x._2) y else x)._1
        expect += best
        rel.keys.filterNot(v => (expect :+ best).contains(v)).foreach { v =>
          val c = cosOf(v, best)
          if (c > ms.getOrElse(v, Double.NegativeInfinity)) ms(v) = c
        }
      }
      val got = Embeddings.mmrRerank(prep, "vec_id", col("vec_id") === 0,
        k0 = 8, topK = 5, lambda = 0.5)
        .orderBy("rnk").collect().map(_.getLong(0)).toSeq
      assert(got == expect.toSeq, s"greedy must match the replica: $got vs $expect")
      assert(got != pure,
        "fixture should make λ=0.5 diverge from pure relevance (else the gate is vacuous)")

      // deterministic across invocations
      assert(got == Embeddings.mmrRerank(prep, "vec_id", col("vec_id") === 0,
        k0 = 8, topK = 5, lambda = 0.5).orderBy("rnk").collect().map(_.getLong(0)).toSeq)

      // a probe matching several rows must be rejected loudly
      intercept[IllegalArgumentException] {
        Embeddings.mmrRerank(prep, "vec_id", col("vec_id") < 2, k0 = 8, topK = 5)
      }
    } finally prep.unpersist()

    // zero-norm embeddings (cosine undefined — NaN scores would silently
    // diverge from the oracle's DESC-sorts-NaN-first) fail LOUDLY, never
    // rank: under ANSI the retriever's division throws DIVIDE_BY_ZERO
    // first; with ANSI off the operator's own n2==0 / NaN guards fire
    val withZero = ((0L until 4L).map(id =>
      id -> (0 until 6).map(j => ((id + j) % 5 - 2).toFloat * 1e-5f)) :+
      (4L -> (0 until 6).map(_ => 0.0f))).toDF("vec_id", "embedding")
    val prepZ = Embeddings.prepare(withZero, "vec_id", "embedding")
    intercept[Exception] {
      Embeddings.mmrRerank(prepZ, "vec_id", col("vec_id") === 0, k0 = 4, topK = 2)
    }
  }

  test("maxSimTopK: exact-match ceiling, per-instance query sum, token-position bound") {
    // independent replica of the md5-slice token encoder
    def emb(tok: String): Array[Long] = {
      val md = java.security.MessageDigest.getInstance("MD5").digest(tok.getBytes("UTF-8"))
      val hex = md.map("%02x".format(_)).mkString
      (0 until 8).map(i => java.lang.Long.parseLong(hex.substring(4 * i, 4 * i + 4), 16) - 32768L).toArray
    }
    def dot(a: Array[Long], b: Array[Long]): Long = a.zip(b).map { case (x, y) => x * y }.sum
    val selfAlpha = dot(emb("alpha"), emb("alpha"))
    val selfBeta = dot(emb("beta"), emb("beta"))
    val crossBA = dot(emb("beta"), emb("alpha"))
    assert(crossBA < selfBeta, "fixture sanity: cross-dot below self-dot")

    val d = docs(
      1L -> "alpha beta gamma",
      2L -> "alpha beta",
      3L -> "delta epsilon zeta",
      4L -> "alpha alpha alpha",
      // alpha only at position 17 — outside the maxDocTokens=16 bound
      5L -> (((1 to 16).map(i => s"filler$i") :+ "alpha").mkString(" ")))

    val got = Embeddings.maxSimTopK(d, "doc_id", "text",
      queries = Seq(("q1", "alpha beta"), ("q2", "alpha alpha")), topK = 5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val q1 = got.filter(_._1 == "q1").sortBy(_._2)
    // docs 1 and 2 contain BOTH query tokens: score hits the exact ceiling
    // self(alpha) + self(beta); the tie breaks to the lower id
    assert(q1(0) == ("q1", 1L, 1L, selfAlpha + selfBeta), q1.toSeq)
    assert(q1(1) == ("q1", 2L, 2L, selfAlpha + selfBeta))
    // doc 4 has only alpha: the beta term falls to its best partial match
    assert(q1.find(_._3 == 4L).get._4 == selfAlpha + crossBA)
    // every score is bounded by the ceiling
    assert(q1.forall(_._4 <= selfAlpha + selfBeta))

    val q2 = got.filter(_._1 == "q2").sortBy(_._2)
    // a repeated query token scores once per INSTANCE: docs holding alpha
    // (1, 2, 4 — dedup leaves the max unchanged) hit 2·self(alpha)
    assert(q2.take(3).map(_._3).toSeq == Seq(1L, 2L, 4L))
    assert(q2.take(3).forall(_._4 == 2L * selfAlpha))
    // doc 5's alpha sits past the position bound — strictly below ceiling
    assert(q2.find(_._3 == 5L).get._4 < 2L * selfAlpha)

    // scale shape: the interaction join broadcasts the bounded query side;
    // no shuffle-side cartesian over the corpus
    val plan = Embeddings.maxSimTopK(d, "doc_id", "text",
      queries = Seq(("q1", "alpha beta")), topK = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"query side must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"no shuffled cartesian:\n$plan")
  }
}
