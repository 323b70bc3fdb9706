package graft.pipeline

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType}

/** Deterministic byte-pair-encoding tokenizer: train + apply — real
  * subword token counts AND packed token-id sequences for the
  * budget/packing operators instead of whitespace word counts. The
  * algorithm is the public Sennrich et al. 2016 formulation (arXiv
  * 1508.07909): start from characters plus an end-of-word marker,
  * repeatedly merge the most frequent adjacent symbol pair (ties broken by
  * lexicographically smallest pair — the exactness contract every engine
  * can reproduce), to a fixed merge budget.
  *
  * 100 TB posture, in three strictly separated phases:
  *   1. WORD-TYPE HISTOGRAM — one map-side-combined hash aggregate over
  *      the corpus (`explode(tokens) → groupBy(word) → count`). The only
  *      corpus-scale job; output is vocabulary-scale, not corpus-scale.
  *   2. MERGE TRAINING — driver-side exact-integer loop over the
  *      histogram, CAPPED at `maxWordTypes` word types (most frequent
  *      first, ties by word ascending — deterministic). The cap is the
  *      scale path: a 100 TB corpus has unbounded distinct types (typos,
  *      ids), and every public BPE trainer bounds or pre-filters its
  *      histogram; the cap rule is part of the algorithm definition, so
  *      the result stays engine-exact. The trainer maintains pair counts
  *      INCREMENTALLY around each merge (only pairs adjacent to a merged
  *      occurrence change — the standard BPE-trainer optimization) with a
  *      lazy-invalidation priority queue for the argmax: O(V·L +
  *      merges·touched·log P) vs the naive O(merges·V·L) full recount.
  *   3. APPLY — the merge table (a few KB) broadcasts; each executor
  *      tokenizes per partition with a SIZE-BOUNDED word→result memo
  *      (word types repeat massively, so apply is amortized O(1) per
  *      occurrence; the bound keeps a long-lived partition iterator over
  *      dirty 100 TB tokens — ids, hashes, typos — from growing an
  *      executor-memory leak). No shuffle at all.
  */
object BpeOps {

  /** End-of-word marker symbol (the Sennrich formulation). */
  val Eow = "</w>"

  /** Vocabulary id 0: a symbol outside the training charset (only unseen
    * CHARACTERS can be unknown — merged symbols are always in-vocab). */
  val Unk = "<unk>"

  /** Apply-side memo bound (word types per partition). The memo is a pure
    * cache — clearing costs only recompute — so a full clear at the cap
    * is sound and keeps worst-case memory O(cap · word length). */
  val MemoCap = 1 << 18

  /** Ordered merge list: element i is the pair merged at rank i. */
  type Merges = Vector[(String, String)]

  /** Trained model: the merge table plus the deterministic id-assigned
    * symbol vocabulary (index = token id). `symbols(0)` is [[Unk]].
    * `bytes` records the APPLY MODE as part of the model itself: a
    * byte-level model only reproduces its training tokenization through
    * [[toByteSymbols]], and a caller-remembered flag proved forgettable
    * (review r14) — [[trainModelBytes]] stamps it, persistence round-trips
    * it, and [[withModelTokenIds]]/tokenize_apply dispatch on it. */
  final case class BpeModel(merges: Merges, symbols: Vector[String],
                            bytes: Boolean = false)

  /** Exact-integer BPE merge training over a word-type histogram.
    * `wordCounts`: (word type, occurrence count); the histogram order does
    * not matter — ties are broken by pair content, never input order.
    *
    * Incremental: pair counts and a pair→words inverted index are built
    * once (O(V·L)), then each merge touches only the words that contain
    * the merged pair; the argmax is a priority queue with lazy
    * invalidation (an entry is valid iff its count still matches the
    * live table). Output is bit-identical to the naive
    * recount-every-round formulation (parity-gated in BpeSpec). */
  def trainMerges(wordCounts: Seq[(String, Long)], numMerges: Int): Merges = {
    val words: Array[Array[String]] = wordCounts.iterator
      .map { case (w, _) => w.map(_.toString).toArray :+ Eow }.toArray
    val wcount: Array[Long] = wordCounts.iterator.map(_._2).toArray

    final case class Entry(a: String, b: String, c: Long)
    // count desc, then lexicographically smallest (a, b) — exactly the
    // naive argmax's tie rule
    val pq = new java.util.PriorityQueue[Entry](64,
      new java.util.Comparator[Entry] {
        def compare(x: Entry, y: Entry): Int = {
          if (x.c != y.c) java.lang.Long.compare(y.c, x.c)
          else {
            val r = x.a.compareTo(y.a)
            if (r != 0) r else x.b.compareTo(y.b)
          }
        }
      })
    val counts = new java.util.HashMap[(String, String), Long]()
    // pair → indices of words that (at some point) contained it; entries
    // go stale after merges — validated against the live word before use.
    // ArrayBuffer not BitSet: pairs are sparse, duplicates are skipped by
    // the same staleness check.
    val where = new java.util.HashMap[(String, String), scala.collection.mutable.ArrayBuffer[Int]]()

    def bump(p: (String, String), d: Long): Unit = {
      val n = counts.merge(p, d, (x, y) => x + y)
      if (n == 0L) counts.remove(p)
      else pq.add(Entry(p._1, p._2, n)) // push on every change → the live
      // count always has a matching queue entry; stale ones are discarded
      // at poll time
    }

    var wi = 0
    while (wi < words.length) {
      val syms = words(wi)
      val c = wcount(wi)
      var i = 0
      while (i < syms.length - 1) {
        val p = (syms(i), syms(i + 1))
        bump(p, c)
        where.computeIfAbsent(p, _ => scala.collection.mutable.ArrayBuffer.empty[Int]) += wi
        i += 1
      }
      wi += 1
    }

    val out = Vector.newBuilder[(String, String)]
    var m = 0
    var done = false
    while (m < numMerges && !done) {
      // poll to the first VALID entry (count matches the live table)
      var top = pq.poll()
      while (top != null && counts.getOrDefault((top.a, top.b), 0L) != top.c)
        top = pq.poll()
      if (top == null) done = true
      else {
        val best = (top.a, top.b)
        out += best
        val merged = top.a + top.b
        val hits = where.get(best)
        var h = 0
        while (h < hits.length) {
          val w = hits(h)
          val syms = words(w)
          // staleness / duplicate-entry check: does the pair still occur?
          var has = false
          var i = 0
          while (!has && i < syms.length - 1) {
            has = syms(i) == top.a && syms(i + 1) == top.b
            i += 1
          }
          if (has) {
            val c = wcount(w)
            // subtract the word's whole old adjacent-pair multiset, apply
            // the left-to-right non-overlapping merge, add the new one —
            // exact bookkeeping independent of overlap subtleties
            i = 0
            while (i < syms.length - 1) { bump((syms(i), syms(i + 1)), -c); i += 1 }
            val b = Array.newBuilder[String]
            i = 0
            while (i < syms.length) {
              if (i < syms.length - 1 && syms(i) == top.a && syms(i + 1) == top.b) {
                b += merged; i += 2
              } else { b += syms(i); i += 1 }
            }
            val rebuilt = b.result()
            words(w) = rebuilt
            i = 0
            while (i < rebuilt.length - 1) {
              val p = (rebuilt(i), rebuilt(i + 1))
              bump(p, c)
              where.computeIfAbsent(p, _ => scala.collection.mutable.ArrayBuffer.empty[Int]) += w
              i += 1
            }
          }
          h += 1
        }
        where.remove(best) // fully merged away; (a, b) can never recur
        m += 1
      }
    }
    out.result()
  }

  /** Tokenize one word with a trained merge table (rank = priority):
    * repeatedly merge the present pair with the lowest rank until no
    * mergeable pair remains — exactly inverts training order. */
  def tokenizeWord(word: String, rank: collection.Map[(String, String), Int]): Vector[String] = {
    var syms: Vector[String] = word.map(_.toString).toVector :+ Eow
    var go = true
    while (go && syms.length > 1) {
      var bestI = -1
      var bestR = Int.MaxValue
      var i = 0
      while (i < syms.length - 1) {
        val r = rank.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (r < bestR) { bestR = r; bestI = i }
        i += 1
      }
      if (bestI < 0) go = false
      else syms = (syms.take(bestI) :+ (syms(bestI) + syms(bestI + 1))) ++ syms.drop(bestI + 2)
    }
    syms
  }

  /** Deterministic vocabulary from the training histogram + merge table:
    * id 0 = [[Unk]], id 1 = [[Eow]], then the histogram's distinct
    * characters ascending, then each merge's product in rank order
    * (duplicates — two merge paths producing the same string — keep their
    * first id). Engine-exact: a pure function of (histogram, merges). */
  def buildVocab(histWords: Iterable[String], merges: Merges): Vector[String] = {
    val chars = scala.collection.mutable.SortedSet.empty[String]
    histWords.foreach(w => w.foreach(ch => chars += ch.toString))
    val b = Vector.newBuilder[String]
    val seen = scala.collection.mutable.HashSet[String](Unk, Eow)
    b += Unk
    b += Eow
    chars.foreach { s => if (seen.add(s)) b += s }
    merges.foreach { case (x, y) => val p = x + y; if (seen.add(p)) b += p }
    b.result()
  }

  // ---- byte-level mode (GPT-2 family) --------------------------------

  /** GPT-2's bytes→printable-char remap (Radford et al. 2019; the public
    * encoder.py `bytes_to_unicode`): the 188 visually-printable latin-1
    * bytes map to their own codepoint, the other 68 (controls, space,
    * 0x7f, 0xa0, 0xad) to U+0100+n in byte order. Injective — so
    * byte-level BPE reuses the char-level trainer/apply machinery
    * verbatim, with each mapped char standing for exactly one UTF-8
    * byte. Any input round-trips with ZERO `<unk>`: the vocabulary seeds
    * all 256 byte symbols, and every string decomposes into bytes. */
  val ByteChar: Array[Char] = {
    val keep = ((33 to 126) ++ (161 to 172) ++ (174 to 255)).toSet
    val out = new Array[Char](256)
    var next = 256
    (0 until 256).foreach { b =>
      if (keep(b)) out(b) = b.toChar
      else { out(b) = next.toChar; next += 1 }
    }
    out
  }
  private val ByteOf: Map[Char, Int] =
    ByteChar.zipWithIndex.map { case (c, b) => c -> b }.toMap

  /** Word → its byte-symbol string (UTF-8 bytes through [[ByteChar]]). */
  def toByteSymbols(word: String): String = {
    val bs = word.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val sb = new java.lang.StringBuilder(bs.length)
    bs.foreach(b => sb.append(ByteChar(b & 0xff)))
    sb.toString
  }

  /** Inverse of [[toByteSymbols]] (the byte-mode decode gate). */
  def fromByteSymbols(s: String): String = {
    val bs = new Array[Byte](s.length)
    var i = 0
    while (i < s.length) { bs(i) = ByteOf(s.charAt(i)).toByte; i += 1 }
    new String(bs, java.nio.charset.StandardCharsets.UTF_8)
  }

  /** Byte-mode vocabulary: [[Unk]] (id 0 — unreachable by construction,
    * kept so ids/persistence share the char-mode layout), [[Eow]], ALL
    * 256 byte symbols ascending, then merge products in rank order. */
  def buildVocabBytes(merges: Merges): Vector[String] = {
    val b = Vector.newBuilder[String]
    val seen = scala.collection.mutable.HashSet[String](Unk, Eow)
    b += Unk
    b += Eow
    ByteChar.map(_.toString).sorted.foreach(s => if (seen.add(s)) b += s)
    merges.foreach { case (x, y) => val p = x + y; if (seen.add(p)) b += p }
    b.result()
  }

  /** Phase 1+2, byte mode: corpus → merges + all-bytes id table. The
    * histogram is the SAME capped word-type job as char mode (the remap is
    * injective, so remapping after the aggregate loses nothing); training
    * runs over the byte-symbol strings. */
  def trainModelBytes(docs: DataFrame, textCol: String, numMerges: Int,
                      maxWordTypes: Int = 1 << 16): BpeModel = {
    val hist = histogram(docs, textCol, maxWordTypes)
      .map { case (w, c) => (toByteSymbols(w), c) }
    val merges = trainMerges(hist, numMerges)
    BpeModel(merges, buildVocabBytes(merges), bytes = true)
  }

  /** Phase 1: the capped word-type histogram — the only corpus-scale job.
    * `tokens(textCol)` must match [[TextOps]] tokenization (lowercase
    * split on single spaces, empties dropped) so word types agree with
    * every other text operator. */
  private[pipeline] def histogram(docs: DataFrame, textCol: String,
                        maxWordTypes: Int): Seq[(String, Long)] =
    docs
      .select(explode(filter(split(lower(col(textCol)), " "), t => t =!= "")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      // deterministic cap: most frequent first, ties by word ascending.
      // Vocabulary-scale (bounded) — NOT corpus-scale — driver data.
      .orderBy(col("c").desc, col("w").asc)
      .limit(maxWordTypes)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq

  /** Phase 1+2: corpus → trained merges. */
  def train(docs: DataFrame, textCol: String, numMerges: Int,
            maxWordTypes: Int = 1 << 16): Merges =
    trainMerges(histogram(docs, textCol, maxWordTypes), numMerges)

  /** Phase 1+2 retaining the vocabulary: corpus → merges + id table. */
  def trainModel(docs: DataFrame, textCol: String, numMerges: Int,
                 maxWordTypes: Int = 1 << 16): BpeModel = {
    val hist = histogram(docs, textCol, maxWordTypes)
    val merges = trainMerges(hist, numMerges)
    BpeModel(merges, buildVocab(hist.map(_._1), merges))
  }

  /** Phase 3: per-document BPE token counts. Output: `idCol, n_words
    * BIGINT, n_bpe_tokens BIGINT` — one zero-shuffle projection with the
    * broadcast merge table and a bounded per-partition word memo. */
  def tokenCounts(docs: DataFrame, idCol: String, textCol: String,
                  merges: Merges): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(merges.zipWithIndex.toMap)
    // null text tokenizes as empty (coalesce BEFORE the kernel — a null
    // Scala String would NPE the split on real dirty corpora)
    docs.select(col(idCol).cast("long"), coalesce(lower(col(textCol)), lit("")))
      .as[(Long, String)]
      .mapPartitions { it =>
        val rank = bc.value
        val memo = new java.util.HashMap[String, Int]()
        it.map { case (id, text) =>
          var words = 0L
          var toks = 0L
          text.split(' ').foreach { w =>
            if (w.nonEmpty) {
              words += 1
              if (memo.size >= MemoCap) memo.clear()
              toks += memo.computeIfAbsent(w, w1 => tokenizeWord(w1, rank).length)
            }
          }
          (id, words, toks)
        }
      }
      .toDF(idCol, "n_words", "n_bpe_tokens")
  }

  /** Phase 3, id-emitting: appends `out` (`array<int>` token ids — the
    * actual deliverable of a training-data pipeline's tail) to `docs`.
    * Same broadcast + bounded-memo zero-shuffle shape as [[tokenCounts]];
    * characters outside the training charset map to [[Unk]]'s id 0. All
    * other input columns pass through untouched. */
  def withTokenIds(docs: DataFrame, textCol: String, model: BpeModel,
                   out: String): DataFrame =
    withTokenIdsImpl(docs, textCol, model, out, identity)

  /** Byte-mode [[withTokenIds]]: words pass through [[toByteSymbols]]
    * before tokenization, so a model from [[trainModelBytes]] applies and
    * NO id is ever [[Unk]] (all 256 byte symbols are in-vocab). */
  def withTokenIdsBytes(docs: DataFrame, textCol: String, model: BpeModel,
                        out: String): DataFrame =
    withTokenIdsImpl(docs, textCol, model, out, toByteSymbols)

  private def withTokenIdsImpl(docs: DataFrame, textCol: String, model: BpeModel,
                               out: String, pre: String => String): DataFrame = {
    val spark = docs.sparkSession
    val bcRank = spark.sparkContext.broadcast(model.merges.zipWithIndex.toMap)
    val bcIds = spark.sparkContext.broadcast(model.symbols.zipWithIndex.toMap)
    // lowercase with Spark's own lower() (appended as the LAST column and
    // dropped below) so word types agree bit-exactly with tokenCounts /
    // TextOps tokenization — a JVM-side toLowerCase could diverge on
    // Unicode edge cases
    val tmp = "__bpe_lower"
    require(!docs.columns.contains(tmp), s"input already carries a $tmp column")
    require(!docs.columns.contains(out),
      s"input already carries a '$out' column — a silent duplicate field " +
        "would shadow it; pick another output name")
    // coalesce: null text yields an empty id array, not a kernel NPE.
    // spread-if-narrow first (guide §2.6): the per-row BPE kernel ran
    // single-task off a one-split corpus; no key column is guaranteed in
    // this generic schema, so the spread is round-robin
    val staged = TextOps.spreadNarrow(docs)
      .withColumn(tmp, coalesce(lower(col(textCol)), lit("")))
    val li = staged.schema.fieldIndex(tmp)
    // containsNull = true, nullable = true: ids are never actually null,
    // but the driver's arrow-level hash compares the ORACLE side through
    // DuckDB, whose arrow output is always a nullable list<int32> — a
    // non-null declaration here fails the strict type compare
    val outSchema = docs.schema.add(out, ArrayType(IntegerType, containsNull = true),
      nullable = true)
    staged.mapPartitions { it =>
      val rank = bcRank.value
      val idOf = bcIds.value
      val memo = new java.util.HashMap[String, Array[Int]]()
      it.map { r =>
        val text = r.getString(li)
        val ids = Array.newBuilder[Int]
        text.split(' ').foreach { w =>
          if (w.nonEmpty) {
            if (memo.size >= MemoCap) memo.clear()
            ids ++= memo.computeIfAbsent(w,
              w1 => tokenizeWord(pre(w1), rank).map(s => idOf.getOrElse(s, 0)).toArray)
          }
        }
        Row.fromSeq(r.toSeq.dropRight(1) :+ ids.result().toSeq)
      }
    }(Encoders.row(outSchema))
  }

  /** Inverse of [[withTokenIds]] for one document: token ids → the word
    * stream (the round-trip gate — every non-[[Unk]] id sequence must
    * reconstruct the lowercased whitespace tokens exactly). */
  def decode(ids: Seq[Int], symbols: Vector[String]): Vector[String] = {
    val sb = new StringBuilder
    ids.foreach(i => sb.append(symbols(i)))
    sb.toString.split(Eow, -1).toVector.filter(_.nonEmpty)
  }

  /** Packed token-ID sequences — the training-data pipeline's tail
    * deliverable: tokenize each document to ids ([[withTokenIds]], zero
    * shuffle), assign ~`budgetTokens`-token packs per (stratum, bucket)
    * with [[TrainingSet.packSequences]]'s deterministic shuffle order,
    * and concatenate each pack's ids in pack order. Output one row per
    * pack: stratum, bucket, pack_id, n_docs, n_tokens, token_ids. */
  def packTokenIds(docs: DataFrame, idCol: String, textCol: String,
                   stratumCol: String, model: BpeModel,
                   budgetTokens: Long, buckets: Int): DataFrame = {
    val withIds = withTokenIds(
        docs.select(col(idCol), col(stratumCol), col(textCol)), textCol, model, "tok")
      .drop(textCol)
      .withColumn("n_bpe_tokens", size(col("tok")).cast("long"))
    TrainingSet.packSequences(withIds, idCol, "n_bpe_tokens", stratumCol,
      budgetTokens, buckets)
      .groupBy(col(stratumCol), col("bucket").cast("long").as("bucket"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bpe_tokens")).as("n_tokens"),
        flatten(transform(
          array_sort(collect_list(struct(col("pack_pos"), col("tok")))),
          x => x.getField("tok"))).as("token_ids"))
  }

  /** Persists a trained model as two parquet tables under `path`
    * (`merges`: rank/left/right, `vocab`: id/symbol) — a production
    * pipeline trains ONCE and ships the model to every later job, so the
    * model must round-trip through storage, not a JVM. Plain parquet:
    * any engine (or the DuckDB oracle) can read the tables. */
  def saveModel(spark: org.apache.spark.sql.SparkSession, model: BpeModel,
                path: String): Unit = {
    import spark.implicits._
    model.merges.zipWithIndex.map { case ((a, b), r) => (r, a, b) }
      .toDF("rank", "left", "right")
      .repartition(1).write.mode("overwrite").parquet(s"$path/merges")
    model.symbols.zipWithIndex.map { case (s, i) => (i, s) }
      .toDF("id", "symbol")
      .repartition(1).write.mode("overwrite").parquet(s"$path/vocab")
    // the apply mode rides the model (BpeModel.bytes) and round-trips
    // through the dir marker — legacy dirs without it read as char models
    Seq(("family", "bpe"), ("mode", if (model.bytes) "bytes" else "chars"))
      .toDF("key", "value")
      .repartition(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** True when the [[saveModel]] dir records byte mode ([[trainModelBytes]]
    * / [[withTokenIdsBytes]] family); dirs saved before the marker existed
    * read as char models. */
  private def savedModelBytes(spark: org.apache.spark.sql.SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$path/meta")
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p) &&
      spark.read.parquet(s"$path/meta")
        .where(col("key") === "mode").collect()
        .exists(_.getString(1) == "bytes")
  }

  /** Loads a [[saveModel]] model; merge rank order and id assignment are
    * restored exactly (both tables carry explicit ordinals — parquet row
    * order is not part of the contract). */
  def loadModel(spark: org.apache.spark.sql.SparkSession, path: String): BpeModel = {
    val merges = spark.read.parquet(s"$path/merges")
      .select("rank", "left", "right").collect()
      .sortBy(_.getInt(0)).map(r => (r.getString(1), r.getString(2))).toVector
    val symbols = spark.read.parquet(s"$path/vocab")
      .select("id", "symbol").collect()
      .sortBy(_.getInt(0)).map(_.getString(1)).toVector
    require(symbols.nonEmpty && symbols(0) == Unk,
      s"$path/vocab is not a graft BPE vocab (id 0 must be $Unk)")
    BpeModel(merges, symbols, bytes = savedModelBytes(spark, path))
  }

  /** Mode-dispatching apply: routes through the byte pre-map exactly when
    * the model says so — the one entry point tokenize_apply and any other
    * model-agnostic caller should use. */
  def withModelTokenIds(docs: DataFrame, textCol: String, model: BpeModel,
                        out: String): DataFrame =
    if (model.bytes) withTokenIdsBytes(docs, textCol, model, out)
    else withTokenIds(docs, textCol, model, out)
}
