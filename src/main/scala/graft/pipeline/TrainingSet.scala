package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-set assembly operators: deterministic sampling, deterministic
  * global shuffle, and token-budget sequence packing — the steps between a
  * cleaned corpus and an actual training mix.
  *
  * Everything is keyed on md5 fractions, not `rand()`: at 100 TB a sample
  * must be REPRODUCIBLE (rerunning the pipeline, or re-deriving the same
  * split on another engine, must select the same documents), and hash-based
  * sampling is also stable under repartitioning, retries, and speculative
  * execution, where per-row `rand()` is not. All operators are pure column
  * algebra + one window/aggregation — no UDFs, no driver-side loops.
  */
object TrainingSet {

  /** 2^60 as a double — denominator of the 15-hex-digit md5 fraction. */
  private val HashSpace: Double = (1L << 60).toDouble

  /** Deterministic uniform [0, 1) fraction from a key: the first 60 bits of
    * md5(key ':' salt). Engine-portable — DuckDB computes the same value as
    * (('0x' || substr(md5(key || ':salt'), 1, 15))::BIGINT / 2^60). The salt
    * decorrelates independent decisions on the same key (sample vs shuffle
    * vs split), exactly like reseeding a PRNG.
    */
  def hashFraction(key: Column, salt: String): Column =
    hashFraction(key, lit(salt))

  /** [[hashFraction]] with a COLUMN salt — the one definition of the
    * md5-fraction chain (substring width, radix, hash space); per-row salts
    * (e.g. [[temperatureMix]]'s epoch suffix) must route through here so a
    * future tweak can never desynchronize one consumer's oracle parity. */
  def hashFraction(key: Column, salt: Column): Column =
    conv(substring(md5(concat(key.cast("string"), lit(":"), salt.cast("string")).cast("binary")), 1, 15),
      16, 10).cast("long") / lit(HashSpace)

  /** md5-bucket feature hash — first 8 md5-hex chars mod `buckets`. THE
    * cross-engine feature convention (DSIR q103, NB q114): DuckDB mirror is
    * `('0x' || substr(md5(x), 1, 8))::BIGINT % buckets`. One definition —
    * every consumer ([[dsirWeights]], [[QualityNB]]) must stay bit-identical
    * or its engine/oracle parity silently desynchronizes. */
  def md5Bucket(x: Column, buckets: Int): Column =
    conv(substring(md5(x), 1, 8), 16, 10).cast("long") % buckets

  /** Integer-quantized ⌊log2 x⌋ via binary-string bit length — THE
    * cross-engine log convention (DuckDB mirror `length(bin(x)) - 1`);
    * shared by DSIR, the quality LM and the NB classifier. */
  def flog2q(x: Column): Column = (length(bin(x)) - 1).cast("long")

  /** Uniform deterministic sample: keeps a row iff its key's md5 fraction is
    * below `rate`. Selection is per-row independent — no shuffle at all, the
    * filter rides the scan. */
  def sample(df: DataFrame, keyCol: String, rate: Double,
             salt: String = "sample"): DataFrame =
    df.filter(hashFraction(col(keyCol), salt) < rate)

  /** Stratified deterministic sample: per-stratum rates (e.g. per language
    * or per source), `defaultRate` for strata not listed. The rate lookup is
    * a literal CASE chain — strata tables are small and driver-known; the
    * filter stays a pure scan-side projection with NO join and NO shuffle,
    * which is the whole point at corpus scale. */
  def stratifiedSample(df: DataFrame, keyCol: String, stratumCol: String,
                       rates: Map[String, Double], defaultRate: Double,
                       salt: String = "sample"): DataFrame = {
    val rate = rates.foldLeft(lit(defaultRate)) { case (acc, (stratum, r)) =>
      when(col(stratumCol) === stratum, lit(r)).otherwise(acc)
    }
    df.filter(hashFraction(col(keyCol), salt) < rate)
  }

  /** Deterministic train/val/test split: each row lands in the named split
    * whose cumulative hash-fraction interval contains its key's md5
    * fraction — stable under corpus growth (a row's split never changes
    * when other rows arrive, unlike any count-based partition), disjoint
    * and exhaustive by construction, and a pure scan-side projection (NO
    * shuffle, NO join). `splits` maps name → fraction and must sum to ~1. */
  def splitAssign(df: DataFrame, keyCol: String,
                  splits: Seq[(String, Double)], salt: String = "split",
                  splitCol: String = "split"): DataFrame = {
    require(splits.nonEmpty && splits.forall(_._2 >= 0), "fractions must be >= 0")
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9, "fractions must sum to 1")
    val f = hashFraction(col(keyCol), salt)
    val cuts = splits.scanLeft(0.0)(_ + _._2).tail
    // the last interval is open-ended: fp summation error must never leave
    // a sliver of [0,1) unassigned
    val assigned = splits.init.zip(cuts.init)
      .foldRight(lit(splits.last._1): Column) { case (((name, _), hi), acc) =>
        when(f < hi, lit(name)).otherwise(acc)
      }
    df.withColumn(splitCol, assigned)
  }

  /** Deterministic source mixing: downsample each source so the OUTPUT
    * follows the target mixture `weights` (e.g. web 0.6 / books 0.3 / code
    * 0.1) while keeping as much data as possible without upsampling. The
    * scaling constant C = min over sources of n_s/w_s makes the binding
    * source keep rate exactly 1.0 and every other source's rate
    * C·w_s/n_s < 1; sources not in `weights` are dropped.
    *
    * One counting aggregation collects #sources rows to the driver
    * (metadata-scale — mixtures have tens of sources, never millions), then
    * selection is the same zero-shuffle scan-side md5-fraction filter as
    * [[stratifiedSample]]. Engine-portable: an oracle recomputes identical
    * rates from the same counts in double arithmetic. */
  def mixSources(df: DataFrame, keyCol: String, sourceCol: String,
                 weights: Map[String, Double], salt: String = "mix"): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ > 0),
      "mixSources needs positive weights")
    val weighted = df.filter(col(sourceCol).isin(weights.keys.toSeq: _*))
    val counts = weighted.groupBy(col(sourceCol)).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    require(counts.nonEmpty,
      s"mixSources found no rows in any weighted source (${weights.keys.mkString(", ")}) — " +
        "check source names against the data")
    val c = weights.collect { case (s, w) if counts.contains(s) =>
      counts(s).toDouble / w }.min
    val rates = weights.collect { case (s, w) if counts.contains(s) =>
      s -> math.min(1.0, c * w / counts(s)) }.toMap
    stratifiedSample(weighted, keyCol, sourceCol, rates, defaultRate = 0.0, salt)
  }

  /** Temperature-based stratum resampling — the multilingual-pretraining
    * `p_s ∝ n_s^α` rule (Conneau & Lample 2019 XLM §3.1; Xue et al. 2021
    * mT5 §3.2): low-resource strata UP-sample (documents repeat across
    * `epoch` copies), high-resource strata down-sample, so the output
    * follows the tempered distribution while total size stays ≈ the input
    * corpus. This is the piece [[mixSources]] (explicit weights, never
    * upsamples) deliberately doesn't cover.
    *
    * Expected copies per stratum: e_s = T·p_s/n_s with p_s = n_s^α / Σ n^α
    * and T = Σ n (output sized like the input), clamped to `maxCopies` —
    * the published repetition cap (returns on repeated data decay,
    * Muennighoff et al. 2023). A document materializes in epochs
    * 0..⌈e_s⌉−1; epoch i survives iff md5-fraction(key, salt:i) < e_s − i,
    * i.e. ⌊e_s⌋ full copies plus one fractional copy — deterministic,
    * growth-stable, join-free.
    *
    * Cross-engine exactness (the q103/q110 convention, applied to doubles):
    * n_s^α is integer-QUANTIZED (⌊n^α·2^20⌋ as BIGINT) so the normalizer
    * z = Σ quantized is an EXACT integer sum — immune to float summation
    * order, the one non-reproducible step — and e_s = min(maxCopies,
    * (T·q_s)/(z·n_s)) is three correctly-rounded IEEE ops an oracle replays
    * bit-identically. α = 0.5 (the default) keeps even the quantization
    * portable: IEEE requires sqrt correctly rounded on every engine, which
    * no general pow guarantees.
    *
    * Shape at 100 TB: one #strata-row counting aggregate (driver,
    * metadata-scale), then a zero-shuffle scan-side explode over
    * driver-literal per-stratum epoch bounds — no join, no corpus shuffle.
    * NULL-stratum rows are dropped (no tempered share is defined for them).
    */
  def temperatureMix(df: DataFrame, keyCol: String, stratumCol: String,
                     alpha: Double = 0.5, maxCopies: Double = 4.0,
                     salt: String = "temp", epochCol: String = "epoch"): DataFrame = {
    require(alpha > 0 && alpha <= 1, "temperature alpha must be in (0, 1]")
    require(maxCopies >= 1, "maxCopies must allow at least one full copy")
    require(!df.columns.contains(epochCol),
      s"temperatureMix adds '$epochCol' — the input already has that column; pass a different epochCol")
    // the working columns are internal but live on the input frame between
    // the two plan shapes below — a pre-existing __s would make the broadcast
    // join's equi-condition ambiguous, a pre-existing __e/__ep would be
    // silently overwritten by withColumn (review finding r17)
    Seq("__s", "__e", "__ep").foreach(c => require(!df.columns.contains(c),
      s"temperatureMix uses '$c' internally — rename that input column first"))
    val in = df.filter(col(stratumCol).isNotNull)
    // strata are kept in their NATIVE type (string langs, int source ids …):
    // the when-chain compares with same-type literals, no cast surprises
    val counts: Map[Any, Long] = in.groupBy(col(stratumCol))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.get(0) -> r.getLong(1)).toMap
    require(counts.nonEmpty, "temperatureMix needs at least one non-null stratum")
    val quant: Long => Long = n => math.floor(
      (if (alpha == 0.5) math.sqrt(n.toDouble) else math.pow(n.toDouble, alpha))
        * 1048576.0).toLong
    val t = counts.values.sum
    val q = counts.map { case (s, n) => s -> quant(n) }
    val z = q.values.sum // exact integer — summation-order-free
    val e: Map[Any, Double] = counts.map { case (s, n) =>
      s -> math.min(maxCopies, (t.toDouble * q(s).toDouble) / (z.toDouble * n.toDouble))
    }
    val frac = hashFraction(col(keyCol),
      concat(lit(salt), lit(":"), col(epochCol).cast("string")))
    // Two plan shapes, bit-identical results (the per-stratum e values are
    // the same driver-computed doubles either way): few strata inline as a
    // when-chain (zero join, the q116 oracle's shape), but expression/codegen
    // size is O(#strata), so past the threshold the (stratum, e, epochs)
    // frame rides a BROADCAST hash join instead — constant plan size, still
    // zero corpus shuffle (a caller using registrable domains as strata
    // would otherwise build a 100k-branch expression; VERDICT r16 #3).
    val withE =
      if (e.size <= temperatureInlineMaxStrata) {
        val eCol = e.foldLeft(lit(Double.NaN)) { case (acc, (s, v)) =>
          when(col(stratumCol) === lit(s), lit(v)).otherwise(acc)
        }
        val epCol = e.foldLeft(lit(0L)) { case (acc, (s, v)) =>
          when(col(stratumCol) === lit(s), lit(math.ceil(v).toLong)).otherwise(acc)
        }
        in.withColumn("__e", eCol).withColumn("__ep", epCol)
      } else {
        val spark = df.sparkSession
        val stratumType = df.schema(df.schema.fieldIndex(stratumCol)).dataType
        val eRows = e.toSeq.map { case (s, v) =>
          org.apache.spark.sql.Row(s, v, math.ceil(v).toLong)
        }
        val eDf = spark.createDataFrame(
          scala.jdk.CollectionConverters.SeqHasAsJava(eRows).asJava,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("__s", stratumType, nullable = false),
            org.apache.spark.sql.types.StructField("__e",
              org.apache.spark.sql.types.DoubleType, nullable = false),
            org.apache.spark.sql.types.StructField("__ep",
              org.apache.spark.sql.types.LongType, nullable = false))))
        in.join(broadcast(eDf), col(stratumCol) === col("__s")).drop("__s")
      }
    withE
      .withColumn(epochCol, explode(sequence(lit(0L), col("__ep") - 1)))
      .filter(frac < col("__e") - col(epochCol))
      .drop("__e", "__ep")
  }

  /** Strata-count bound for [[temperatureMix]]'s inline when-chain; above
    * it the per-stratum frame broadcast-joins (same results, constant plan
    * size). Overridable for tests/tuning. */
  private def temperatureInlineMaxStrata: Int =
    graft.core.SysProps.int("graft.temperature.inline.strata.max", 64, min = 0)

  /** Deterministic global shuffle key: ordering by it (plus the key itself
    * as tiebreaker) is a reproducible corpus-wide permutation — the
    * "shuffle once, stream in order" step of training-data prep. Use with
    * `repartitionByRange(shuffleKey, key)` to materialize shards. */
  def shuffleKey(key: Column, salt: String = "shuffle"): Column =
    md5(concat(key.cast("string"), lit(s":$salt")).cast("binary"))

  /** Keeps the `k` best rows per stratum by `scoreCol` (descending, ties
    * broken by `keyCol` ascending, so tied scores get DISTINCT ranks) — the
    * "best documents per domain" selection step of quality-filtered corpus
    * assembly. Adds the 1-based rank as `rankCol` (replacing any existing
    * column of that name). One window per stratum; Spark's WindowGroupLimit
    * pushes the top-k below the sort at scale. */
  def topKByScore(df: DataFrame, stratumCol: String, scoreCol: String,
                  keyCol: String, k: Int, rankCol: String = "rnk"): DataFrame = {
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(col(scoreCol).desc, col(keyCol).asc)
    df.withColumn(rankCol, row_number().over(w).cast("long"))
      .filter(col(rankCol) <= k)
  }

  /** Token-budget corpus selection: per stratum (source/domain), keep the
    * best documents by `scoreCol` (desc, `keyCol` asc tiebreak) until the
    * running token total REACHES `budget` — i.e. every document whose
    * preceding better-ranked documents sum to < budget tokens. This is the
    * "fill each domain's token quota with its best documents" step of
    * training-mix assembly (the token-counted analogue of [[topKByScore]]):
    * budgets are set in tokens, not document counts, because training cost
    * is token-denominated.
    *
    * The boundary document (the one that crosses the budget) is INCLUDED —
    * the quota is a target to reach, not a hard cap — so selection is
    * well-defined even when a single document exceeds the whole budget.
    *
    * One window per stratum (cumulative token sum in rank order), exactly
    * [[topKByScore]]'s shuffle shape; the running sum uses rowsBetween
    * preceding-only so each row's test depends on strictly-better rows. */
  def tokenBudgetSelect(df: DataFrame, stratumCol: String, scoreCol: String,
                        keyCol: String, tokensCol: String, budget: Long,
                        rankCol: String = "rnk"): DataFrame = {
    val order = Window.partitionBy(col(stratumCol))
      .orderBy(col(scoreCol).desc, col(keyCol).asc)
    val prior = order.rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn(rankCol, row_number().over(order).cast("long"))
      .withColumn("__prior_tokens", coalesce(sum(col(tokensCol)).over(prior), lit(0L)))
      .filter(col("__prior_tokens") < budget)
      .drop("__prior_tokens")
  }

  /** Benchmark decontamination: ids of `train` documents sharing at least
    * one word `ngram`-shingle with any `eval` document — the standard
    * test-set-overlap flag computed before training. Candidate generation is
    * a shingle equi-join (never a cross product): the eval side collapses to
    * its DISTINCT shingle set (eval suites are corpus-tiny, so Spark
    * broadcast-joins it from its stats), and train shingles stream through a
    * left-semi probe with no full-corpus shuffle of document text.
    */
  def contaminatedIds(train: DataFrame, eval: DataFrame, idCol: String,
                      textCol: String, ngram: Int = 3): DataFrame = {
    val evalShingles = Dedup.shingles(eval, idCol, textCol, ngram)
      .select(col("sh")).distinct()
    Dedup.shinglesRaw(train, idCol, textCol, ngram)
      .join(evalShingles, Seq("sh"), "left_semi")
      .select(col(idCol)).distinct()
  }

  /** [[contaminatedIds]] with a BROADCAST-BLOOM prefilter — the scale path
    * when the eval shingle set outgrows the auto-broadcast threshold
    * (multi-benchmark suites, contamination-vs-held-out-corpus checks):
    *
    *  1. the eval shingles fold into a Bloom filter executor-side
    *     (`treeAggregate` of sketch partials — the driver merges fixed-size
    *     bit arrays, never rows: ~1.2 MB per million entries at 1% fpp vs
    *     tens of MB of broadcast-hashed strings);
    *  2. train shingles stream through `BloomFilterMightContain` (the
    *     codegen'd kernel behind Spark's own runtime row-level filtering) —
    *     ≥ (1−fpp) of the corpus dies map-side, BEFORE any join machinery;
    *  3. the survivors (true matches + fpp false positives) go through the
    *     exact semi-join, which removes the false positives.
    *
    * The result is therefore EXACTLY [[contaminatedIds]]' answer — the
    * Bloom filter only prunes, never decides — which is what the shared
    * DuckDB oracle checks. Same hash family on both ends by construction:
    * the filter stores `xxhash64(sh)` via `putLong`, the probe evaluates
    * `mightContainLong(xxhash64(sh))`.
    */
  def contaminatedIdsBloom(train: DataFrame, eval: DataFrame, idCol: String,
                           textCol: String, ngram: Int = 3,
                           fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.GraftShim
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.types.BinaryType
    import org.apache.spark.util.sketch.BloomFilter

    val spark = train.sparkSession
    import spark.implicits._
    val evalShingles = Dedup.shingles(eval, idCol, textCol, ngram)
      .select(col("sh")).distinct()
    val hashed = evalShingles.select(xxhash64(col("sh")).as("h")).as[Long]
    // sizing count + sketch fold: two metadata-scale actions over the
    // (corpus-tiny by definition) eval side
    val n = math.max(hashed.count(), 1L)
    val bf = hashed.rdd.treeAggregate(BloomFilter.create(n, fpp))(
      (f, v) => { f.putLong(v); f },
      (a, b) => { a.mergeInPlace(b); a })
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    val mightContain = GraftShim.column(BloomFilterMightContain(
      Literal(bos.toByteArray, BinaryType),
      GraftShim.expression(xxhash64(col("sh")))))

    Dedup.shinglesRaw(train, idCol, textCol, ngram)
      .filter(mightContain)
      .join(evalShingles, Seq("sh"), "left_semi")
      .select(col(idCol)).distinct()
  }

  /** Deterministic global enumeration + fixed-size shard assignment — the
    * exporter shape: every row gets a dense `global_idx` (0-based, in
    * deterministic shuffle order) and `shard` = idx ÷ `rowsPerShard`, so a
    * training run can address "shard 17, row 3" reproducibly and shards can
    * be written with `partitionBy("shard")`.
    *
    * A naive `row_number() OVER (ORDER BY key)` funnels the corpus through
    * ONE partition. Instead: the md5 shuffle key's leading hex nibbles form
    * 256 RANGE buckets (order-aligned with the key by construction), bucket
    * counts collect driver-side (≤256 rows — the same metadata-scale collect
    * as [[mixSources]]), and each bucket's rows enumerate locally under its
    * broadcast prefix offset. Parallelism is 256 × within-bucket, the
    * enumeration is exactly the global (key, tiebreak) order, and no stage
    * sees more than corpus/256 rows in one task. */
  def shardAssignments(df: DataFrame, keyCol: String, rowsPerShard: Long,
                       salt: String = "shard"): DataFrame = {
    require(rowsPerShard > 0, "rowsPerShard must be positive")
    val key = shuffleKey(col(keyCol), salt)
    val b = conv(substring(key, 1, 2), 16, 10).cast("int")
    val withB = df.withColumn("__sk", key).withColumn("__b", b)
    val counts = withB.groupBy(col("__b")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets: Map[Int, Long] = {
      var acc = 0L
      (0 until 256).map { i =>
        val o = i -> acc; acc += counts.getOrElse(i, 0L); o
      }.toMap
    }
    val w = Window.partitionBy(col("__b")).orderBy(col("__sk").asc, col(keyCol).asc)
    withB
      .withColumn("global_idx",
        (row_number().over(w).cast("long") - 1L +
          element_at(typedLit(offsets), col("__b"))))
      .withColumn("shard", expr(s"CAST(global_idx DIV $rowsPerShard AS BIGINT)"))
      .drop("__sk", "__b")
  }

  /** Materializes [[shardAssignments]] as on-disk training shards: parquet
    * under `outDir/shard=N/`, rows of each shard laid down in global order
    * (`sortWithinPartitions` after a shard repartition → one ordered file
    * per shard), plus a `_manifest` directory with per-shard row counts and
    * index ranges — what a loader needs to address "shard 17, row 3"
    * without opening data files. Returns the manifest (shard, n_rows,
    * min_idx, max_idx). */
  def exportShards(df: DataFrame, keyCol: String, rowsPerShard: Long,
                   outDir: String, salt: String = "shard"): DataFrame = {
    val assigned = shardAssignments(df, keyCol, rowsPerShard, salt).cache()
    assigned
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("global_idx"))
      .write.mode("overwrite").partitionBy("shard").parquet(outDir)
    assigned.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("global_idx")).as("min_idx"), max(col("global_idx")).as("max_idx"))
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/_manifest")
    assigned.unpersist()
    // serve the returned manifest from the file just written — an action on
    // a plan over the now-unpersisted `assigned` would re-run the whole
    // enumeration job
    df.sparkSession.read.parquet(s"$outDir/_manifest")
  }

  /** Token-budget sequence packing: assigns documents to contiguous packs of
    * ~`budgetTokens` tokens (a pack may overflow by at most one document —
    * the concat-then-chunk packing used for LM pretraining batches).
    *
    * Order within a pack is the deterministic shuffle order. Packing is
    * inherently sequential, so it runs per (stratum, bucket): the stratum
    * keeps mixes separable, and `buckets` hash-buckets per stratum bound
    * each sequential window's size — at corpus scale parallelism is
    * strata × buckets, not 1. Output adds `bucket`, `pack_id` (dense from 0
    * per (stratum, bucket)), and `pack_pos` (position within the pack).
    */
  def packSequences(df: DataFrame, keyCol: String, tokensCol: String,
                    stratumCol: String, budgetTokens: Long,
                    buckets: Int = 16): DataFrame = {
    val key = shuffleKey(col(keyCol), "pack")
    val bucket = (conv(substring(key, 1, 2), 16, 10).cast("int") % buckets).as("bucket")
    val w = Window.partitionBy(col(stratumCol), col("bucket"))
      .orderBy(key, col(keyCol))
    val withBucket = df.withColumn("bucket", bucket)
    withBucket
      .withColumn("__start", sum(col(tokensCol)).over(w) - col(tokensCol))
      .withColumn("pack_id", floor(col("__start") / lit(budgetTokens)).cast("long"))
      .withColumn("pack_pos",
        (row_number().over(Window.partitionBy(col(stratumCol), col("bucket"), col("pack_id"))
          .orderBy(key, col(keyCol))) - 1).cast("long"))
      .drop("__start")
  }

  /** Leakage-free train/val/test split: a per-DOCUMENT split ([[splitAssign]])
    * puts near-duplicates of training documents into the test set — the
    * classic contamination path — so the split key must be the duplicate
    * CLUSTER, not the document. Every member of a [[Dedup.dupClusters]]
    * component shares its cluster id as the hash key (singletons key on
    * their own id); by construction no near-dup pair can ever straddle
    * splits, and assignment stays growth-stable per GROUP (a cluster's
    * split never changes when unrelated documents arrive).
    *
    * Output: input columns + `group_id` + `split`. One broadcast-sized
    * left join (the cluster table only holds docs that HAVE duplicates)
    * and the same zero-shuffle hash projection as splitAssign. */
  def leakageFreeSplit(docs: DataFrame, pairs: DataFrame, idCol: String,
                       splits: Seq[(String, Double)],
                       salt: String = "gsplit"): DataFrame =
    leakageFreeSplitFromClusters(docs, Dedup.dupClusters(pairs), idCol, splits, salt)

  /** [[leakageFreeSplit]] over an already-computed cluster frame
    * (`cluster_id, id` — [[Dedup.dupClusters]]' shape): callers holding
    * clustering as standing state skip the pointer-jumping loop. */
  def leakageFreeSplitFromClusters(docs: DataFrame, clusters: DataFrame,
                                   idCol: String, splits: Seq[(String, Double)],
                                   salt: String = "gsplit"): DataFrame = {
    val keyed = clusters.select(col("id").as(idCol), col("cluster_id"))
    val withGroup = docs.join(broadcast(keyed), Seq(idCol), "left")
      .withColumn("group_id", coalesce(col("cluster_id"), col(idCol)).cast("long"))
      .drop("cluster_id")
    splitAssign(withGroup, "group_id", splits, salt)
  }

  /** Fixed-window token chunking with stride — the "chunk long documents,
    * THEN pack" step that precedes [[packSequences]]/`packTokenIds` in
    * every pretraining pipeline: a document longer than the model context
    * is split into `window`-token chunks whose starts advance by `stride`
    * (stride < window ⇒ consecutive chunks overlap by window − stride
    * tokens, the standard long-document recipe so no boundary context is
    * lost). Chunk count for n > 0 tokens is ⌈(n − window)/stride⌉ + 1
    * (exact integer arithmetic); every token is covered; the last chunk
    * may be short; empty documents produce no chunks.
    *
    * Pure per-row array algebra (sequence → slice under one explode) —
    * zero shuffle, chunk rows carry all input columns plus `chunk_idx`
    * and the `out` id-array column. */
  def chunkSequences(df: DataFrame, idsCol: String, out: String,
                     window: Int, stride: Int): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      s"window=$window stride=$stride must satisfy 0 < stride <= window")
    Seq("chunk_idx", out, "__chunks", "__c").foreach(c =>
      require(!df.columns.contains(c),
        s"input already carries a '$c' column — it would be silently " +
          "shadowed; rename it first"))
    val ids = col(idsCol)
    val n = size(ids)
    // ⌈(n − window)/stride⌉ + 1; Column `/` is DOUBLE division, so floor +
    // cast recovers the exact integer (operands are positive ints, far
    // inside double exactness); 0 chunks for empty docs
    val nChunks = when(n <= 0, lit(0))
      .otherwise(when(n <= window, lit(1))
        .otherwise(floor((n - window + stride - 1) / lit(stride)).cast("int") + 1))
    df.withColumn("__chunks",
        when(nChunks > 0, transform(sequence(lit(0), nChunks - 1),
          i => struct(i.as("chunk_idx"),
            slice(ids, i * stride + 1, lit(window)).as("chunk"))))
          .otherwise(array().cast("array<struct<chunk_idx:int,chunk:array<int>>>")))
      .select((df.columns.map(col) :+ explode(col("__chunks")).as("__c")): _*)
      .select((df.columns.map(col) :+ col("__c.chunk_idx").as("chunk_idx")
        :+ col("__c.chunk").as(out)): _*)
  }

  /** DSIR data selection (Xie et al. 2023, arXiv 2302.03169 — "Data
    * Selection for Language Models via Importance Resampling"): score every
    * `raw` document by how target-like its hashed-bigram distribution is.
    * The published estimator is the log importance weight
    * `Σ_ngram log p_target[bucket] − log p_raw[bucket]` over hashed n-gram
    * buckets with add-one smoothing; here every log2 is INTEGER-QUANTIZED
    * via binary-string bit length (`length(bin(x)) − 1` = ⌊log2 x⌋ — the
    * [[TextOps.lmScore]]/[[TextOps.collocations]] convention), so
    *
    *   `dsir_q = Σ (⌊log2(ct[b]+1)⌋ − ⌊log2(cr[b]+1)⌋)
    *             + n_bigrams · (⌊log2(Tr+B)⌋ − ⌊log2(Tt+B)⌋)`
    *
    * is exact BIGINT arithmetic end-to-end — engine-portable bit-for-bit
    * (no IEEE log anywhere). Buckets are the first 8 md5-hex chars mod
    * `buckets` (the md5-fraction convention every engine reproduces).
    * Higher `dsir_q` = more target-like; feed it to [[capPerGroup]] /
    * `topKByQuality`-style selection or Gumbel resampling downstream.
    *
    * Scale shape (100 TB raw corpus): bigram featurization is the
    * zero-shuffle [[Dedup.shinglesRaw]] projection; both bucket
    * distributions aggregate to ≤ `buckets` rows, so the λ table joins
    * BROADCAST against the raw instance stream; one doc-keyed aggregate
    * ends the plan. The target corpus (the quality sample — small by
    * construction) contributes one extra aggregate. All raw docs appear
    * in the output: a bigram-free doc scores 0 (no evidence either way).
    */
  def dsirWeights(raw: DataFrame, target: DataFrame, idCol: String,
                  textCol: String, buckets: Int = 8192): DataFrame = {
    require(buckets > 0, s"buckets=$buckets must be positive")
    val par = raw.sparkSession.sessionState.conf.numShufflePartitions
    def bucket(sh: Column): Column = md5Bucket(sh, buckets)
    // true bigrams only: tokens never contain the separator (see lmScore)
    def big(df: DataFrame, withId: Boolean): DataFrame = {
      // round-robin ON PURPOSE (r18): hash-by-id would fuse the dbc
      // aggregate into the kernel stage, removing the exchange that
      // dbc's TWO consumers (cr and docsum) reuse — measured 2x the
      // corpus kernel (30 -> 63 CPU-s) when converted
      val inst = Dedup.shinglesRaw(df.repartition(par), idCol, textCol, 2)
        .filter(col("sh").contains(" "))
      (if (withId) inst.select(col(idCol), bucket(col("sh")).as("b"))
       else inst.select(bucket(col("sh")).as("b")))
    }
    def flog2(x: Column): Column = flog2q(x)
    // ONE featurization pass over the raw corpus: per-(doc, bucket)
    // instance counts are the first aggregate, and everything downstream
    // (the per-bucket distribution, the totals, the per-doc sums) derives
    // from that docs×buckets-bounded frame — the corpus-scale
    // tokenize/hash projection never executes twice
    val dbc = big(raw, withId = true)
      .groupBy(col(idCol), col("b")).agg(count(lit(1)).as("cnt"))
    val cr = dbc.groupBy(col("b")).agg(sum(col("cnt")).as("cr"))
    val ct = big(target, withId = false).groupBy(col("b")).agg(count(lit(1)).as("ct"))
    // λ table: ≤ buckets rows (broadcast side of the instance join); the
    // totals ride along as 1-row cross joins off the same aggregates
    val lam = cr.join(ct, Seq("b"), "full_outer")
      .select(col("b"),
        (flog2(coalesce(col("ct"), lit(0L)) + 1) -
          flog2(coalesce(col("cr"), lit(0L)) + 1)).as("lam_q"))
    // totals from the bucket aggregates (sum of counts — the exchange is
    // reused, no second tokenization scan; see collocations), null-safe
    // for an empty corpus
    val tr = cr.agg(coalesce(sum(col("cr")), lit(0L)).as("tr"))
    val tt = ct.agg(coalesce(sum(col("ct")), lit(0L)).as("tt"))
    val constQ = tr.crossJoin(tt)
      .select((flog2(col("tr") + buckets) - flog2(col("tt") + buckets)).as("const_q"))
    val docsum = dbc.join(broadcast(lam), "b")
      .groupBy(col(idCol))
      .agg(sum(col("cnt")).as("n_bigrams"),
        sum(col("cnt") * col("lam_q")).as("sum_lam"))
    // doc spine: ids are unique by contract (no distinct shuffle — the
    // oracle's LEFT JOIN does not deduplicate either); bigram-free docs
    // score 0
    raw.select(col(idCol))
      .join(docsum, Seq(idCol), "left")
      .crossJoin(broadcast(constQ))
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        (coalesce(col("sum_lam"), lit(0L)) +
          coalesce(col("n_bigrams"), lit(0L)) * col("const_q"))
          .cast("long").as("dsir_q"))
  }

  /** Per-group quota cap (anti-spam / domain balancing): keep at most `k`
    * rows per group, best `scoreCol` first, ties broken by ascending
    * `idCol` — deterministic under any partitioning. One group-keyed
    * shuffle; the rank ≤ k filter compiles to WindowGroupLimit, so each
    * partition keeps a bounded top-k buffer instead of sorting whole
    * groups (the hot-domain skew path at crawl scale). */
  def capPerGroup(df: DataFrame, groupCol: String, scoreCol: String,
                  idCol: String, k: Int): DataFrame = {
    require(k > 0, s"k=$k must be positive")
    df.withColumn("__cap_rn", row_number().over(
        Window.partitionBy(col(groupCol))
          .orderBy(col(scoreCol).desc, col(idCol).asc)))
      .filter(col("__cap_rn") <= k)
      .drop("__cap_rn")
  }
}
