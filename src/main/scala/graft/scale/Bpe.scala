package graft.scale

import graft.core.Ckpt

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed BPE tokenizer training + application (Sennrich et al.
  * 2016) — the "train your tokenizer on your corpus" step of an LLM
  * data pipeline, as a pure DataFrame program.
  *
  * Training operates on the WORD-FREQUENCY table, not the corpus:
  * the corpus text is scanned exactly once (explode tokens → count by
  * word — one narrow (word) exchange), and every merge iteration
  * thereafter touches only the distinct-word frame, whose size is the
  * vocabulary (~10⁶–10⁹ rows at 100 TB — still distributed, never
  * collected), not the corpus. That is the real subword-nmt shape:
  * pair statistics are weighted by word count, so the learned merges
  * are identical to training on the raw corpus.
  *
  * Words are carried as SYMBOL STRINGS with every symbol individually
  * wrapped in a `` separator pair: "hello" →
  * `⟂h⟂⟂e⟂⟂l⟂⟂l⟂⟂o⟂`. This representation makes one merge step a
  * single literal `replace`: merging (l, r) rewrites `⟂l⟂⟂r⟂` →
  * `⟂lr⟂`, and because each symbol carries its OWN delimiters,
  * left-to-right non-overlapping replacement — the semantics of both
  * Spark's and DuckDB's `replace` — is exactly greedy BPE
  * application: "aaaa" + (a,a) → [aa, aa] (the trailing delimiter of
  * a consumed pair is the leading delimiter of the next match), and a
  * multi-char symbol like `ab` (`⟂ab⟂`) can never false-match a
  * single-char pattern `⟂a⟂`. The per-iteration argmax pair is a
  * `TakeOrderedAndProject` over the (pair, count) aggregate with a
  * deterministic (count DESC, l ASC, r ASC) tie-break, collected as
  * ONE bounded row per round (never vocab-sized) and applied as
  * literals in the merge projection.
  *
  * Reference scope: the reference pipeline tokenizes with regexes
  * only (see SURVEY §2 F-str rows); BPE training is part of the
  * beyond-reference LLM-pipeline surface. */
object Bpe {

  /** Max DISTINCT-WORD rows [[train]] will collect and solve
    * driver-side before falling back to the distributed per-merge
    * loop. Specs pass 0 to disable the local path. Rationale (the
    * [[graft.scale.Clusters.CcLocalMaxEdgesDefault]] pattern): the
    * distributed loop costs ~3 Spark jobs per merge — pure fixed
    * overhead when the vocab is small — while a bounded collect of
    * ≤2^20 (word, count) rows (tens of MB) is the same driver budget a
    * broadcast join already spends. The CORPUS-sized pass (wordFreq)
    * is distributed either way; tokenizer-realistic web vocabularies
    * (10^8+) exceed the cap and take the distributed loop unchanged.
    * The local loop replays the identical greedy algorithm — literal
    * left-to-right non-overlapping `String.replace` IS Spark's
    * `replace` semantics — so the learned table is bit-equal
    * (BpeSpec pins the identity). */
  val LocalMaxVocabDefault: Long = 1L << 20

  /** Symbol separator — any char outside the [a-z] token alphabet. */
  val Sep = "\u001f"

  /** Wrap every char of a word in its own separator pair. */
  def wrapWord(word: Column): Column =
    regexp_replace(word, "(.)", s"$Sep$$1$Sep")

  /** Symbol array of a wrapped word (inverse of the wrapping). The
    * outer separators are stripped with an anchored regex — exactly
    * one at each end by construction (the two-arg `trim` emits a
    * deprecation warning on Spark 4). */
  def symbols(wrapped: Column): Column =
    split(regexp_replace(wrapped, s"^$Sep|$Sep$$$$", ""), s"$Sep$Sep")

  /** One merge step applied to a wrapped word: `⟂l⟂⟂r⟂` → `⟂lr⟂`,
    * literal left-to-right non-overlapping = greedy BPE. */
  def applyMerge(wrapped: Column, l: Column, r: Column): Column =
    replace(wrapped,
      concat(lit(Sep), l, lit(Sep), lit(Sep), r, lit(Sep)),
      concat(lit(Sep), l, r, lit(Sep)))

  /** Corpus word-frequency table: (w = wrapped word, cnt). The single
    * corpus-sized pass of the whole training run. */
  // deliberately NOT Par.widened: q188 0.22→0.44 s at sf0.1 with it —
  // the word-count aggregate's own exchange already parallelizes the
  // merge loop, and the probe path only consumes a bounded prefix
  def wordFreq(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(TextStats.tokens(col(textCol))).as("__w"))
      .groupBy(col("__w")).agg(count(lit(1)).as("cnt"))
      .select(wrapWord(col("__w")).as("w"), col("cnt"))

  /** Adjacent symbol pairs of the vocab, weighted by word count:
    * (l, r, pc). Only (string, string, long) rows shuffle — the agg
    * key is the pair, never the word. */
  private[graft] def pairCounts(vocab: DataFrame): DataFrame = {
    // __syms is an aliased column (repo hoisting rule): lambda
    // references are attribute lookups, not re-split per element.
    val syms = col("__syms")
    vocab.withColumn("__syms", symbols(col("w")))
      .select(col("cnt"), explode(
        when(size(syms) >= 2,
          transform(sequence(lit(1), size(syms) - 1),
            i => struct(element_at(syms, i).as("l"),
              element_at(syms, i + 1).as("r"))))
          .otherwise(array().cast("array<struct<l:string,r:string>>")))
        .as("__p"))
      .groupBy(col("__p.l").as("l"), col("__p.r").as("r"))
      .agg(sum(col("cnt")).as("pc"))
  }

  /** Learn `merges` BPE merges from the corpus. Output: one row per
    * merge — (step 1-based, l, r, merged = l||r, pair_count), in
    * learning order.
    *
    * Per iteration: one (l, r) pair aggregate over the vocab (bytes ≈
    * Σ|word| over DISTINCT words) ending in a top-1
    * TakeOrderedAndProject whose single row is collected (bounded by
    * construction); the merge applies as literals over the previous
    * round's CACHED vocab (persist-chained, previous layer released
    * as soon as its successor materializes) — one Spark job per
    * merge, no re-execution of earlier rounds' replaces.
    *
    * Iteration-count ceiling (honesty): the per-merge WORK is
    * vocab-sized and fully distributed, but the merge COUNT is a
    * sequential driver loop — 1 Spark job per merge, so with
    * a 0.05-1 s job-launch floor the loop costs tens of seconds at
    * 10² merges (BpeSpec runs 120) and many minutes at a
    * tokenizer-realistic 32k vocabulary, dominated by scheduling, not
    * compute. Past ~10³ merges use [[trainBatched]], which learns up
    * to `batch` symbol-disjoint merges per round and divides the job
    * count by ~batch.
    *
    * Fails fast if the corpus runs out of distinct adjacent pairs
    * before `merges` steps (every word fully merged): silently
    * continuing would cross-join an EMPTY best frame into the vocab,
    * emptying it, and [[encode]] would then null-chain every encoding
    * — ask for at most as many merges as the corpus can support, or
    * catch the error and retrain with the step count it reports. */
  /** Driver-side greedy BPE over a collected (wrapped word, count)
    * vocab — the identical algorithm the distributed loop runs:
    * per round, pair counts weighted by word count, argmax with the
    * (count DESC, l ASC, r ASC) tie-break, literal left-to-right
    * non-overlapping replace (java.lang.String.replace — the same
    * semantics as Spark's and DuckDB's `replace`). Returns the learned
    * rows; throws the same exhaustion error as the distributed loop. */
  private[graft] def localTrain(vocab0: Array[(String, Long)],
      merges: Int): Seq[(Int, String, String, String, Long)] = {
    val words = vocab0.map(_._1).toBuffer
    val counts = vocab0.map(_._2)
    val learned =
      scala.collection.mutable.ArrayBuffer[(Int, String, String, String, Long)]()
    val sepSep = Sep + Sep
    for (k <- 1 to merges) {
      val pc = scala.collection.mutable.HashMap.empty[(String, String), Long]
      var i = 0
      while (i < words.length) {
        val w = words(i)
        // strip the single outer separator at each end, split on the
        // double separator — Bpe.symbols on the driver
        val syms = w.substring(1, w.length - 1).split(sepSep, -1)
        var j = 0
        while (j < syms.length - 1) {
          val key = (syms(j), syms(j + 1))
          pc.update(key, pc.getOrElse(key, 0L) + counts(i))
          j += 1
        }
        i += 1
      }
      if (pc.isEmpty)
        throw new IllegalArgumentException(
          s"BPE training exhausted the corpus at step $k of $merges: no " +
          "adjacent symbol pairs remain (every word is fully merged). " +
          s"Retrain with merges <= ${k - 1}.")
      val ((bl, br), bpc) = pc.minBy { case ((l, r), c) => (-c, l, r) }
      learned += ((k, bl, br, bl + br, bpc))
      val pat = Sep + bl + Sep + Sep + br + Sep
      val rep = Sep + bl + br + Sep
      i = 0
      while (i < words.length) { words(i) = words(i).replace(pat, rep); i += 1 }
    }
    learned.toSeq
  }

  def train(df: DataFrame, textCol: String, merges: Int): DataFrame =
    train(df, textCol, merges, LocalMaxVocabDefault)

  /** [[train]] with the local-path cap as a parameter. */
  private[graft] def train(df: DataFrame, textCol: String, merges: Int,
      maxLocal: Long): DataFrame = {
    require(merges >= 1, "need at least one merge step")
    val spark = df.sparkSession
    // size-guarded local path (scaladoc at [[LocalMaxVocabDefault]]):
    // ONE bounded job decides the path AND fetches the vocab (the
    // Clusters.connectedComponents limit(cap+1) pattern — an overflow
    // falls through to the distributed loop, never a wrong answer)
    if (maxLocal > 0 && maxLocal < Int.MaxValue) {
      val probe = wordFreq(df, textCol).limit(maxLocal.toInt + 1).collect()
      if (probe.length <= maxLocal) {
        val learned = localTrain(
          probe.map(r => (r.getString(0), r.getLong(1))), merges)
        return spark.createDataFrame(learned)
          .toDF("step", "l", "r", "merged", "pair_count")
      }
    }
    // Cache-chained iteration (round-14 optimization): each round's
    // argmax is ONE bounded job — a top-1 TakeOrderedAndProject
    // COLLECTED as a single row (the trainBatched precedent; bounded
    // by construction, never vocab-sized). The merged pair applies as
    // LITERALS, so no per-round broadcast build job and no per-round
    // checkpoint job; each new vocab is a one-replace projection over
    // the PREVIOUS round's cached frame (persist is lazy — the next
    // round's argmax materializes it), so no plan re-execution either:
    // lineage depth grows by one cached layer per round, and the
    // previous layer is released once its successor is materialized.
    // Old shape: localCheckpoint(best) + isEmpty + broadcast-crossJoin
    // + localCheckpoint(vocab) ≈ 4 jobs/round; this shape: 1 job/round
    // + 1 trailing cache-fill (measured q188 44 → ~11 jobs).
    val learned =
      scala.collection.mutable.ArrayBuffer[(Int, String, String, String, Long)]()
    // scoped: the exhaustion throw below releases the live layers too
    // (the final vocab layer was never materialized — its release is
    // metadata-only)
    Ckpt.scoped { pins =>
      var vocab = pins.cache(wordFreq(df, textCol))
      var prev: DataFrame = null
      for (k <- 1 to merges) {
        val top = pairCounts(vocab)
          .orderBy(col("pc").desc, col("l").asc, col("r").asc).limit(1)
          .collect()
        if (prev != null) { pins.release(prev); prev = null }
        if (top.isEmpty)
          throw new IllegalArgumentException(
            s"BPE training exhausted the corpus at step $k of $merges: no " +
            "adjacent symbol pairs remain (every word is fully merged). " +
            s"Retrain with merges <= ${k - 1}.")
        val (l, r, pc) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        learned += ((k, l, r, l + r, pc))
        prev = vocab
        vocab = pins.cache(vocab
          .select(applyMerge(col("w"), lit(l), lit(r)).as("w"), col("cnt")))
        // periodic lineage truncation (r14 ADVICE): each layer is one
        // projection over the previous CACHED layer, so an evicted
        // cache mid-training would recompute through every earlier
        // (already-released) layer; one checkpoint job per 16
        // rounds bounds that recompute depth
        if (k % 16 == 0 && k < merges) {
          val truncated = pins.checkpoint(vocab)
          pins.release(vocab)
          vocab = truncated
        }
      }
    }
    spark.createDataFrame(learned.toSeq)
      .toDF("step", "l", "r", "merged", "pair_count")
  }

  /** Batched BPE training: per round, ONE pair aggregate feeds up to
    * `batch` merges — the accepted pairs are SYMBOL-DISJOINT (no two
    * share an l/r symbol, and no accepted pair's merged name is
    * another's operand), so their round-start counts are exact and
    * their replaces commute; they apply in one fused projection.
    * This divides the sequential loop's job count by ~`batch`, which
    * is what makes tokenizer-realistic merge counts (32k) practical —
    * see [[train]]'s ceiling note.
    *
    * Semantics: `batch = 1` is EXACTLY [[train]] (greedy argmax per
    * round — BpeSpec pins the identity). For `batch > 1` the learned
    * table can diverge from classic BPE in one documented way: a pair
    * CREATED by an earlier merge of the same round (count ≤ the
    * creating pair's) can in classic order outrank a later batch
    * member; batching defers such pairs to the next round. That is
    * the standard fast-BPE trade (count-preserving greedy batching) —
    * the merge table is still a valid BPE table and every count in it
    * is exact for its round-start vocab.
    *
    * The top-of-round candidate list (4·batch rows, min 32) is the
    * one driver-side collect — bounded by `batch`, never vocab-sized;
    * rounds that find fewer disjoint pairs than `batch` accept what
    * they found and rescan. Fails fast like [[train]] when the corpus
    * exhausts its pairs. */
  def trainBatched(df: DataFrame, textCol: String, merges: Int,
      batch: Int = 16): DataFrame = {
    require(merges >= 1, "need at least one merge step")
    require(batch >= 1, "batch must be positive")
    val spark = df.sparkSession
    // cache-chained like [[train]]: one job per round (the candidate
    // collect), the previous vocab layer released once its successor
    // is materialized by that collect
    val learned =
      scala.collection.mutable.ArrayBuffer[(Int, String, String, String, Long)]()
    // scoped + periodic truncation: the [[train]] release/lineage
    // discipline (see there), one round ≈ `batch` merges here
    var rounds = 0
    Ckpt.scoped { pins =>
      var vocab = pins.cache(wordFreq(df, textCol))
      var prev: DataFrame = null
      while (learned.size < merges) {
        val want = math.min(batch, merges - learned.size)
        val top = pairCounts(vocab)
          .orderBy(col("pc").desc, col("l").asc, col("r").asc)
          .limit(math.max(4 * want, 32))
          .collect()
        if (prev != null) { pins.release(prev); prev = null }
        if (top.isEmpty)
          throw new IllegalArgumentException(
            s"BPE training exhausted the corpus at step ${learned.size + 1} " +
            s"of $merges: no adjacent symbol pairs remain (every word is " +
            s"fully merged). Retrain with merges <= ${learned.size}.")
        val used = scala.collection.mutable.HashSet[String]()
        val accepted =
          scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
        val it = top.iterator
        while (accepted.size < want && it.hasNext) {
          val r = it.next()
          val (l, rr, pc) = (r.getString(0), r.getString(1), r.getLong(2))
          if (!used(l) && !used(rr) && !used(l + rr)) {
            accepted += ((l, rr, pc))
            used += l; used += rr; used += (l + rr)
          }
        }
        accepted.foreach { case (l, r, pc) =>
          learned += ((learned.size + 1, l, r, l + r, pc))
        }
        prev = vocab
        vocab = pins.cache(vocab.select(
          accepted.foldLeft(col("w")) { case (w, (l, r, _)) =>
            applyMerge(w, lit(l), lit(r)) }.as("w"),
          col("cnt")))
        rounds += 1
        if (rounds % 16 == 0 && learned.size < merges) {
          val truncated = pins.checkpoint(vocab)
          pins.release(vocab)
          vocab = truncated
        }
      }
    }
    spark.createDataFrame(learned.toSeq)
      .toDF("step", "l", "r", "merged", "pair_count")
  }

  /** One-row frame carrying the merge table as 2·nMerges string
    * columns, for broadcast into encode projections. */
  private def mergeRow(merges: DataFrame, nMerges: Int): DataFrame =
    merges.groupBy().agg(
      max(when(col("step") === 1, col("l"))).as("__l1"),
      (max(when(col("step") === 1, col("r"))).as("__r1") +:
        (2 to nMerges).flatMap(k => Seq(
          max(when(col("step") === k, col("l"))).as(s"__l$k"),
          max(when(col("step") === k, col("r"))).as(s"__r$k")))): _*)

  private def encodeWordExpr(nMerges: Int): Column => Column = w =>
    (1 to nMerges).foldLeft(wrapWord(w))((s, k) =>
      applyMerge(s, col(s"__l$k"), col(s"__r$k")))

  /** The shared encode pass: adds `__toks` (word tokens) and `__flat`
    * (the document's subword stream after all `nMerges` merges) to
    * the doc frame. Two bit-identical strategies (BpeSpec asserts the
    * identity; encoding is a pure per-word function, so WHERE it runs
    * cannot change results):
    *
    *  - `dict = false`: fully inline — the merge table broadcasts as
    *    one row and every token occurrence pays the wrap + replace
    *    chain + split. ZERO exchanges, but CPU is text-linear: the KB
    *    audit measured 59 s for a 54 MB corpus (q189) — the chain is
    *    the whole cost.
    *  - `dict = true` (default): the standard tokenizer-cache shape
    *    (HF tokenizers memoize word→ids for exactly this reason) —
    *    DISTINCT words are encoded once (one narrow (word) exchange,
    *    the q188 word-freq shape; vocab-sized work instead of
    *    corpus-sized), folded into a single word→subwords map row,
    *    and broadcast back into a pure projection that LOOKS UP each
    *    token. Same KB corpus: 30 s (q192 104 -> 29 s). Contract: the vocab must fit in
    *    a broadcast (the capped-vocab LM / PQ-codebook precedent); at
    *    vocabularies past broadcast size fall back to `dict = false`,
    *    which has no such bound. */
  private[graft] def withSubwords(docs: DataFrame, textCol: String,
      merges: DataFrame, nMerges: Int, dict: Boolean = true): DataFrame = {
    require(nMerges >= 1, "need at least one merge step")
    val one = mergeRow(merges, nMerges)
    val toks = col("__toks")
    if (!dict) {
      docs.crossJoin(broadcast(one))
        .withColumn("__toks", TextStats.tokens(col(textCol)))
        .withColumn("__sub",
          transform(toks, w => symbols(encodeWordExpr(nMerges)(w))))
        .withColumn("__flat", flatten(col("__sub")))
    } else {
      val dictRow = docs
        .select(explode(TextStats.tokens(col(textCol))).as("__w"))
        .distinct()
        .crossJoin(broadcast(one))
        .select(col("__w"), symbols(encodeWordExpr(nMerges)(col("__w")))
          .as("__s"))
        .groupBy()
        .agg(map_from_entries(collect_list(struct(col("__w"), col("__s"))))
          .as("__dict"))
      docs.crossJoin(broadcast(dictRow))
        .withColumn("__toks", TextStats.tokens(col(textCol)))
        .withColumn("__sub", transform(toks,
          w => element_at(col("__dict"), w)))
        .withColumn("__flat", flatten(col("__sub")))
    }
  }

  /** Encode the corpus with a learned merge table: per document,
    * subword statistics after applying all `nMerges` merges in
    * learning order. Output: (idCol, n_tok, n_sub, n_distinct_sub,
    * chars_per_sub). Precondition: `merges` must contain one row for
    * every step 1..nMerges (as [[train]] produces) — a missing step
    * would pivot to a null literal and null out every encoding.
    *
    * Scale shape: the merge table pivots to ONE broadcast row
    * (2·nMerges string columns); encoding is then a pure projection
    * over the corpus — wrap each token, fold the replace chain
    * inline, split and count — ZERO additional exchanges beyond the
    * scan. `chars_per_sub` is one IEEE division of exact longs,
    * rounded once — bit-stable cross-engine. */
  def encode(docs: DataFrame, idCol: String, textCol: String,
      merges: DataFrame, nMerges: Int, dict: Boolean = true): DataFrame = {
    val toks = col("__toks")
    withSubwords(docs, textCol, merges, nMerges, dict)
      .select(col(idCol),
        size(toks).cast("long").as("n_tok"),
        size(col("__flat")).cast("long").as("n_sub"),
        size(array_distinct(col("__flat"))).cast("long").as("n_distinct_sub"),
        round(length(concat_ws("", toks)).cast("double") /
          greatest(size(col("__flat")), lit(1)).cast("double"), 6)
          .as("chars_per_sub"))
  }

  /** Vocabulary coverage curve: after encoding with the learned
    * merges, the top-`topV` subwords by corpus frequency with their
    * cumulative coverage fraction — "what vocab size covers X% of all
    * subword occurrences", the statistic that sizes a production
    * vocabulary. Output: (rank, subword, cnt, cum_cnt, coverage).
    *
    * Scale shape: the encode projection (zero exchanges) feeds one
    * vocab-sized (subword) count aggregate; the global top-`topV` is
    * a TakeOrderedAndProject (per-partition top-k + driver merge —
    * the full vocab is never globally sorted); the rank/cumsum window
    * then runs over the ≤topV-row frame only (a tiny-frame
    * SinglePartition — the q171 contract). The cumulative sum is
    * INTEGER, so its value is order-free; `coverage` is one division
    * of exact longs, rounded once. */
  def vocabCoverage(docs: DataFrame, textCol: String, merges: DataFrame,
      nMerges: Int, topV: Int = 256,
      dict: Boolean = true): DataFrame = Ckpt.scoped { pins =>
    require(topV >= 1, "need at least one vocab slot")
    val counts = pins.cache(withSubwords(docs, textCol, merges, nMerges, dict)
      .select(explode(col("__flat")).as("subword"))
      .groupBy(col("subword")).agg(count(lit(1)).as("cnt")))
    val total = counts.agg(sum(col("cnt")).as("__total"))
    val top = counts.orderBy(col("cnt").desc, col("subword").asc)
      .limit(topV)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("subword").asc)
    // the ≤topV-row result is checkpointed so the vocab-sized cache
    // goes with the scope: repeated coverage calls in one session never
    // accumulate cached vocab frames
    Ckpt.local(top
      .withColumn("rank", row_number().over(w))
      .withColumn("cum_cnt",
        sum(col("cnt")).over(w.rowsBetween(Long.MinValue, 0)))
      .crossJoin(broadcast(total))
      .select(col("rank"), col("subword"), col("cnt"), col("cum_cnt"),
        round(col("cum_cnt").cast("double") /
          col("__total").cast("double"), 6).as("coverage")))
  }
}
