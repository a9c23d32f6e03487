package graft.scale

import graft.core.Ckpt
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Data selection via hashed n-gram importance weights — the DSIR
  * recipe (Xie et al. 2023, "Data Selection for Language Models via
  * Importance Resampling"): featurize documents as hashed unigram +
  * bigram counts, estimate per-bucket probabilities for a small target
  * corpus and for the raw pool, and score each raw document by the
  * log-likelihood ratio of its features under the two models. Raw
  * documents that "look like the target" get positive weights and win
  * selection.
  *
  * Scale shape: both probability models reduce to `buckets` rows
  * (add-one smoothed counts) — vocabulary-sized state like the q163
  * capped LM, broadcast by construction. The raw corpus explodes its
  * grams once, joins the broadcast log-ratio table map-side, and folds
  * per-doc sums in a partial aggregate — one narrow (id)-keyed shuffle
  * carries the only data movement. Nothing is quadratic in corpus
  * size; the target pass is a second scan of the (small) target set.
  */
object Selection {

  /** Per-doc hashed feature stream `(idCol, __b)`: one row per unigram
    * and per adjacent bigram (multiplicity kept), bucketed by the
    * md5-60 hash (cross-engine reproducible — the q111 fold) mod
    * `buckets`. Zero-gram docs surface one null `__b` row
    * (explode_outer; generate hygiene — Dedup class doc). */
  private def featureBuckets(df: DataFrame, idCol: String,
      textCol: String, buckets: Int): DataFrame =
    graft.core.Par.widen(df, col(idCol))
      .select(col(idCol), TextStats.tokens(col(textCol)).as("__toks"))
      .select(col(idCol), explode_outer(concat(
        col("__toks"),
        when(size(col("__toks")) >= 2,
          transform(sequence(lit(1), size(col("__toks")) - 1),
            i => concat_ws(" ", element_at(col("__toks"), i),
              element_at(col("__toks"), i + 1))))
          .otherwise(array()))).as("__g"))
      .select(col(idCol),
        when(col("__g").isNotNull,
          pmod(Dedup.md5Hash60(concat(col("__g"), lit(":dsir"))),
            lit(buckets.toLong))).as("__b"))

  /** Token-budget selection: order documents by (`scoreCol` DESC,
    * `idCol` ASC) and select the maximal prefix whose cumulative
    * token count stays under `budgetFraction` of the corpus total —
    * "take the best N% of tokens" (data mixing / quality-pruning
    * under a fixed training budget). A document is selected iff the
    * EXACT sum of tokens over all strictly-preceding documents is
    * below the budget (the boundary doc that crosses the budget is
    * still taken).
    *
    * Output: `idCol, scoreCol, ntokCol, cum_before, selected`.
    *
    * Scale shape: the naive form is a GLOBAL cumulative-sum window —
    * a single-partition sort of the corpus, the one shape that cannot
    * distribute. This instead computes the exact same prefix in three
    * linear pieces: (1) one tiny reduce row (score range + total →
    * budget) broadcast back; (2) per-bin token sums over `bins`
    * value-range buckets (≤ `bins` rows) with a cumulative offset
    * window over that tiny frame; (3) ONE window partitioned BY BIN —
    * B-way parallel, each bin sorting only its own slice — whose
    * in-bin prefix plus the bin offset is the exact global
    * `cum_before`. Binning is a monotone function of score, so
    * bin-desc + in-bin order IS the global total order; equal scores
    * always share a bin and break ties by id. Degenerate contract: a
    * corpus whose scores are all equal collapses to one bin (a global
    * window again) — callers with coarse scores should widen them
    * (the q171 blend is continuous for exactly this reason). */
  def budgetSelect(df: DataFrame, idCol: String, scoreCol: String,
      ntokCol: String, budgetFraction: Double, bins: Int = 256): DataFrame = {
    require(budgetFraction > 0.0 && budgetFraction <= 1.0,
      "budgetFraction must be in (0, 1]")
    require(bins >= 1, "need at least one score bin")
    val W = org.apache.spark.sql.expressions.Window
    // pin the scored projection: the stats reduce, the bin-sum
    // aggregate, and the final prefix pass all read it, and the
    // caller's scoring expressions (typically a regex battery) must
    // run ONCE, not once per consumer. A lazy local checkpoint, not a
    // persist: the result is returned lazily, so nothing could release
    // a cache entry, while the checkpoint's blocks go with the frame.
    val base = Ckpt.local(df.select(col(idCol),
      col(scoreCol).cast("double").as("__s"),
      col(ntokCol).cast("long").as("__n")), eager = false)
    val stats = base.agg(min(col("__s")).as("__lo"),
      max(col("__s")).as("__hi"), sum(col("__n")).as("__tot"))
    val binned = base.crossJoin(broadcast(stats))
      .withColumn("__budget",
        floor(lit(budgetFraction) * col("__tot")).cast("long"))
      .withColumn("__bin",
        when(col("__hi") <= col("__lo"), lit(0))
          .otherwise(least(floor((col("__s") - col("__lo")) /
              (col("__hi") - col("__lo")) * bins).cast("int"),
            lit(bins - 1))))
    val wBins = W.partitionBy(lit(1)).orderBy(col("__bin").desc)
      .rowsBetween(Long.MinValue, -1)
    val binOffsets = binned.groupBy(col("__bin"))
      .agg(sum(col("__n")).as("__bn"))
      .withColumn("__off", coalesce(sum(col("__bn")).over(wBins), lit(0L)))
      .select(col("__bin"), col("__off"))
    val wIn = W.partitionBy(col("__bin"))
      .orderBy(col("__s").desc, col(idCol).asc)
      .rowsBetween(Long.MinValue, -1)
    binned.join(broadcast(binOffsets), Seq("__bin"))
      .withColumn("__cb",
        col("__off") + coalesce(sum(col("__n")).over(wIn), lit(0L)))
      .select(col(idCol), col("__s").as(scoreCol), col("__n").as(ntokCol),
        col("__cb").as("cum_before"),
        (col("__cb") < col("__budget")).cast("int").as("selected"))
  }

  /** [[budgetSelect]] with an independent budget PER GROUP — the
    * language/domain-balancing form ("keep the best 50% of tokens of
    * EACH language"), which a single global budget cannot express: a
    * global prefix starves low-resource strata because their docs
    * compete against the majority language's score distribution.
    *
    * Output: `groupCol, idCol, scoreCol, ntokCol, cum_before`
    * (exclusive token prefix WITHIN the group by (score DESC, id)),
    * `selected` (1 iff cum_before < floor(budgetFraction × group
    * total); the boundary doc is taken, per-group).
    *
    * Scale shape: the [[budgetSelect]] decomposition with every piece
    * keyed by group — a ≤groups-row stats aggregate (broadcast back),
    * a ≤groups×bins-row offset frame whose cumulative window
    * partitions BY GROUP (parallel across groups), and ONE corpus
    * window partitioned by (group, bin) — groups×B-way parallel; no
    * stratum ever funnels the corpus to one partition, and a skewed
    * majority language still spreads over its `bins` value-range
    * buckets. Same degenerate contract as [[budgetSelect]]: a group
    * whose scores are all equal collapses to one bin (that GROUP's
    * slice in one partition — callers with coarse scores should
    * widen them). Groups must be catalog-sized (languages, domains,
    * sources): the stats and offset frames broadcast. */
  def budgetSelectBy(df: DataFrame, groupCol: String, idCol: String,
      scoreCol: String, ntokCol: String, budgetFraction: Double,
      bins: Int = 256): DataFrame = {
    require(budgetFraction > 0.0 && budgetFraction <= 1.0,
      "budgetFraction must be in (0, 1]")
    require(bins >= 1, "need at least one score bin")
    val W = org.apache.spark.sql.expressions.Window
    val base = Ckpt.local(df.select(col(groupCol), col(idCol),
      col(scoreCol).cast("double").as("__s"),
      col(ntokCol).cast("long").as("__n")),
      eager = false) // see budgetSelect
    val stats = base.groupBy(col(groupCol)).agg(min(col("__s")).as("__lo"),
      max(col("__s")).as("__hi"), sum(col("__n")).as("__tot"))
    val binned = base.join(broadcast(stats), Seq(groupCol))
      .withColumn("__budget",
        floor(lit(budgetFraction) * col("__tot")).cast("long"))
      .withColumn("__bin",
        when(col("__hi") <= col("__lo"), lit(0))
          .otherwise(least(floor((col("__s") - col("__lo")) /
              (col("__hi") - col("__lo")) * bins).cast("int"),
            lit(bins - 1))))
    val wBins = W.partitionBy(col(groupCol)).orderBy(col("__bin").desc)
      .rowsBetween(Long.MinValue, -1)
    val binOffsets = binned.groupBy(col(groupCol), col("__bin"))
      .agg(sum(col("__n")).as("__bn"))
      .withColumn("__off", coalesce(sum(col("__bn")).over(wBins), lit(0L)))
      .select(col(groupCol), col("__bin"), col("__off"))
    val wIn = W.partitionBy(col(groupCol), col("__bin"))
      .orderBy(col("__s").desc, col(idCol).asc)
      .rowsBetween(Long.MinValue, -1)
    binned.join(broadcast(binOffsets), Seq(groupCol, "__bin"))
      .withColumn("__cb",
        col("__off") + coalesce(sum(col("__n")).over(wIn), lit(0L)))
      .select(col(groupCol), col(idCol), col("__s").as(scoreCol),
        col("__n").as(ntokCol), col("__cb").as("cum_before"),
        (col("__cb") < col("__budget")).cast("int").as("selected"))
  }

  /** Curriculum ordering (Bengio et al. 2009 as a data op): assign
    * every document its EXACT global difficulty rank, band ranks into
    * `stages` equal-size curriculum stages (easy → hard; sizes differ
    * by ≤ 1), and order deterministically WITHIN each stage by a
    * seeded hash — training walks the stages in order but sees each
    * stage's documents in a reproducible pseudo-random order.
    *
    * Output: `idCol, scoreCol, rank` (0-based global by (score ASC,
    * id ASC)), `stage` (0-based, floor(rank·stages/N)), `ord`
    * (1-based position within the stage by the seeded 60-bit hash,
    * ties by id).
    *
    * Scale shape: the global rank is the [[budgetSelect]]
    * decomposition with unit weights — one tiny stats reduce
    * broadcast back, a ≤bins-row offset frame, ONE corpus window
    * partitioned by value-range bin (in-bin row_number + bin offset
    * IS the exact global rank); the in-stage shuffle is a second
    * window partitioned by stage (stages-way parallel). The naive
    * global row_number's single-partition corpus sort never appears.
    * Stage arithmetic is exact while N·stages < 2^53 (double
    * division of exact longs; the true quotient is ≥ 1/N from any
    * other integer) — comfortably past any corpus. Same degenerate
    * contract as [[budgetSelect]]: all-equal scores collapse to one
    * bin; callers with coarse scores should widen them. */
  def curriculumOrder(df: DataFrame, idCol: String, scoreCol: String,
      stages: Int, bins: Int = 256, seed: String = "cur"): DataFrame = {
    require(stages >= 1, "need at least one stage")
    require(bins >= 1, "need at least one score bin")
    val W = org.apache.spark.sql.expressions.Window
    val base = Ckpt.local(df.select(col(idCol),
      col(scoreCol).cast("double").as("__s")),
      eager = false) // see budgetSelect
    val stats = base.agg(min(col("__s")).as("__lo"),
      max(col("__s")).as("__hi"), count(lit(1)).as("__N"))
    val binned = base.crossJoin(broadcast(stats))
      .withColumn("__bin",
        when(col("__hi") <= col("__lo"), lit(0))
          .otherwise(least(floor((col("__s") - col("__lo")) /
              (col("__hi") - col("__lo")) * bins).cast("int"),
            lit(bins - 1))))
    val wBins = W.partitionBy(lit(1)).orderBy(col("__bin").asc)
      .rowsBetween(Long.MinValue, -1)
    val binOffsets = binned.groupBy(col("__bin"))
      .agg(count(lit(1)).as("__bn"))
      .withColumn("__off", coalesce(sum(col("__bn")).over(wBins), lit(0L)))
      .select(col("__bin"), col("__off"))
    val wIn = W.partitionBy(col("__bin"))
      .orderBy(col("__s").asc, col(idCol).asc)
    val ranked = binned.join(broadcast(binOffsets), Seq("__bin"))
      .withColumn("rank", col("__off") + row_number().over(wIn) - 1)
      .withColumn("stage",
        floor((col("rank") * stages).cast("double") / col("__N"))
          .cast("int"))
    val wStage = W.partitionBy(col("stage")).orderBy(
      Dedup.md5Hash60(concat(lit(s"$seed:"), col(idCol).cast("string")))
        .asc, col(idCol).asc)
    ranked.withColumn("ord", row_number().over(wStage))
      .select(col(idCol), col("__s").as(scoreCol), col("rank"),
        col("stage"), col("ord"))
  }

  /** Sequence packing, exact concat-and-chunk form — training-sample
    * construction (the GPT-style "concatenate the corpus in a fixed
    * order, then cut fixed-length sequences" recipe every LM
    * pretraining pipeline runs after curation; docs may straddle a
    * cut, so a doc emits one SEGMENT row per training sequence it
    * touches). The complement of [[Sampling.packSequences]], which
    * bins WHOLE documents shard-locally and lets the tail of each bin
    * under/overflow — this form never splits across shards, always
    * fills every non-tail sequence exactly, and splits documents at
    * the cuts instead. Documents are laid out in `idCol` order; a doc
    * whose exclusive token prefix is `off` and length `n` occupies
    * global token interval [off, off+n), and sequence `s` holds
    * tokens [s*seqLen, (s+1)*seqLen).
    *
    * Output, one row per (sequence, doc) overlap:
    * `seq_id, idCol, doc_off` (first token of the segment WITHIN the
    * doc), `seq_pos` (its position within the sequence), `seg_len`.
    * Zero-token docs emit nothing. Segment rows reassemble both ways:
    * per doc, doc_off partitions [0,n); per sequence, seq_pos
    * partitions [0, seqLen) except the tail sequence.
    *
    * Scale shape: the only global state is the exclusive cumulative
    * token count in id order — the same decomposition as
    * [[budgetSelect]] (a global cumsum window would single-partition
    * the corpus): one tiny id-range reduce broadcast back, per-bin
    * token sums cumulated over a ≤ `bins`-row frame, then ONE window
    * partitioned by bin, each bin sorting only its slice. Binning is
    * monotone in `idCol`, so bin-asc + in-bin id order IS the global
    * layout order. The explode emits ceil(n/seqLen)+1 ≤ rows per doc —
    * output is Θ(corpus tokens / seqLen + docs), never quadratic. */
  def packSequences(df: DataFrame, idCol: String, ntokCol: String,
      seqLen: Long, bins: Int = 256): DataFrame =
    packSequencesBy(df, idCol, Seq.empty, ntokCol, seqLen, bins)

  /** [[packSequences]] over an arbitrary numeric layout key with
    * tie-break columns — the form a SHUFFLED training layout needs:
    * order by a per-copy position hash (ties broken deterministically
    * by the carried id columns), not by document id. `tieCols` ride
    * through to the output between `seq_id` and the packing columns.
    * Bin choice only steers the decomposition, never the result: the
    * exclusive prefix is exact for any binning, so the uniform
    * layout-range split below is purely a parallelism knob. */
  def packSequencesBy(df: DataFrame, layoutCol: String,
      tieCols: Seq[String], ntokCol: String, seqLen: Long,
      bins: Int = 256): DataFrame = {
    require(seqLen >= 1, "seqLen must be >= 1")
    require(bins >= 1, "need at least one layout bin")
    val W = org.apache.spark.sql.expressions.Window
    val ties = tieCols.map(col)
    val base = Ckpt.local(df.select(
      (col(layoutCol).cast("long").as("__id") +: ties) :+
        col(ntokCol).cast("long").as("__n"): _*)
      .filter(col("__n") > 0), eager = false) // see budgetSelect
    val stats = base.agg(min(col("__id")).as("__lo"),
      max(col("__id")).as("__hi"))
    // overflow-safe range binning: width-divide, never value-multiply
    // (a 60-bit hash layout key times 256 bins would overflow a long)
    val width = greatest(lit(1L),
      (col("__hi") - col("__lo")) / bins + lit(1L))
    val binned = base.crossJoin(broadcast(stats))
      .withColumn("__bin",
        when(col("__hi") <= col("__lo"), lit(0))
          .otherwise(least(
            floor((col("__id") - col("__lo")) / width).cast("int"),
            lit(bins - 1))))
    val wBins = W.partitionBy(lit(1)).orderBy(col("__bin").asc)
      .rowsBetween(Long.MinValue, -1)
    val binOffsets = binned.groupBy(col("__bin"))
      .agg(sum(col("__n")).as("__bn"))
      .withColumn("__off", coalesce(sum(col("__bn")).over(wBins), lit(0L)))
      .select(col("__bin"), col("__off"))
    val wIn = W.partitionBy(col("__bin"))
      .orderBy(col("__id").asc +: tieCols.map(col(_).asc): _*)
      .rowsBetween(Long.MinValue, -1)
    val laid = binned.join(broadcast(binOffsets), Seq("__bin"))
      .withColumn("__c",
        col("__off") + coalesce(sum(col("__n")).over(wIn), lit(0L)))
    laid
      .withColumn("seq_id", explode(sequence(
        floor(col("__c") / seqLen),
        floor((col("__c") + col("__n") - 1) / seqLen))))
      .select((col("seq_id") +: col("__id").as(layoutCol) +: ties) ++ Seq(
        greatest(lit(0L), col("seq_id") * seqLen - col("__c"))
          .as("doc_off"),
        greatest(lit(0L), col("__c") - col("seq_id") * seqLen)
          .as("seq_pos"),
        (least(col("__n"), (col("seq_id") + 1) * seqLen - col("__c")) -
          greatest(lit(0L), col("seq_id") * seqLen - col("__c")))
          .as("seg_len")): _*)
  }

  /** Deterministic weight table for [[classifierScore]]: integer
    * weights in [-500, 500], one per hash bucket — the stand-in for a
    * trained fastText/logistic-regression weight vector (the real
    * model would load the same shape from a file; everything
    * downstream is identical). */
  private[graft] def classifierWeights(buckets: Int): Seq[Long] =
    (0 until buckets).map(b => ((b % 1001) - 500).toLong)

  /** Linear quality-classifier scoring over hashed unigram+bigram
    * features — the fastText-style model-based filter every modern
    * curation pipeline runs (CCNet, DCLM, FineWeb-Edu): each gram
    * hashes to one of `buckets` weight slots, a document's score is
    * the sum of its gram weights, and `keep = score_sum > 0`. The
    * weight vector ships INLINED as an array literal (the PQ-codebook
    * pattern — a few KB of plan constants), so scoring is a PURE
    * PROJECTION: tokens, grams, hashes, the weight lookup, and the
    * per-doc fold all run inside HOF lambdas over the token array —
    * ZERO exchanges, the corpus is classified at scan speed
    * (SelectionSpec asserts the exchange-free plan). Contrast q169
    * DSIR, which must aggregate corpus-wide bucket counts first; a
    * pre-trained classifier has no corpus-wide state at all.
    *
    * Output: `idCol, n_feats, w_sum, w_mean, keep`. Determinism: the
    * hash is the md5-60 fold (cross-engine reproducible), weights and
    * `w_sum` are exact longs folded in array order, and `w_mean` is
    * one correctly-rounded IEEE division — bit-stable vs the oracle
    * with no rounding step. */
  def classifierScore(df: DataFrame, idCol: String, textCol: String,
      buckets: Int = 1024, fastHash: Boolean = false): DataFrame =
    classifierScoreAll(df, idCol, textCol, buckets, fastHash)
      .select(col(idCol), col("n_feats"), col("w_sum"), col("w_mean"),
        col("keep"))

  /** [[classifierScore]] keeping EVERY input column — the form a
    * pipeline composes with: because scoring is a pure projection,
    * the gate is `.filter(col("keep") === 1)` on the scored frame
    * itself, NEVER a score-ids-then-join-back (which would re-key
    * the corpus TEXT on id — the exact shuffle the zero-exchange
    * contract exists to avoid; curateV3's first draft measured that
    * mistake at 4.3× source).
    *
    * `fastHash` swaps the md5-60 bucket hash for xxhash64 — the
    * production choice (fastText itself hashes with a cheap
    * multiplicative hash). md5 is the default ONLY because DuckDB can
    * replay it, making the q173 gate bit-exact; it is also the
    * operator's remaining wall-clock cost (two md5 evaluations per
    * gram — 4.9 s at sf1 for 50k docs once the tokenization hoist
    * below removed the quadratic, where the whole exchange volume is
    * ZERO). The fast path keeps the identical plan shape
    * (pure projection, zero exchanges — spec-asserted) but its bucket
    * assignments, and therefore its keep verdicts, differ from the
    * md5 model's; it has no SQL oracle. */
  def classifierScoreAll(df: DataFrame, idCol: String, textCol: String,
      buckets: Int = 1024, fastHash: Boolean = false): DataFrame = {
    require(buckets >= 2, "need at least 2 weight buckets")
    val weights = typedLit(classifierWeights(buckets))
    // Tokenize into an ALIASED column first — the repo-wide hoisting
    // rule (featureBuckets, spanHashes, the unitChunks callers). The
    // first form of this function built the bigram stream over the raw
    // tokenization EXPRESSION, and `element_at(toks, i)` inside the
    // transform lambda re-ran the regex split TWICE PER BIGRAM —
    // O(tokens²) work per document, masquerading as "the md5 price"
    // (a KB-corpus jstack showed every busy core inside
    // Pattern.split/toLowerCase, not md5). As a multi-referenced
    // non-cheap alias, __qc_toks stays a real column under
    // CollapseProject, so lambda references are attribute lookups.
    val toks = col("__qc_toks")
    val grams = concat(
      toks,
      when(size(toks) >= 2,
        transform(sequence(lit(1), size(toks) - 1),
          i => concat_ws(" ", element_at(toks, i),
            element_at(toks, i + 1))))
        .otherwise(array()))
    df.withColumn("__qc_toks", TextStats.tokens(col(textCol)))
      .withColumn("__g", grams)
      .withColumn("n_feats", size(col("__g")).cast("long"))
      .withColumn("w_sum",
        aggregate(
          transform(col("__g"), g => element_at(weights,
            pmod(
              if (fastHash) xxhash64(concat(g, lit(":qc")))
              else Dedup.md5Hash60(concat(g, lit(":qc"))),
              lit(buckets.toLong)).cast("int") + 1)),
          lit(0L), (acc, w) => acc + w))
      .withColumn("w_mean",
        when(col("n_feats") > 0,
          col("w_sum").cast("double") / col("n_feats")).otherwise(lit(0.0)))
      .withColumn("keep", (col("w_sum") > 0).cast("int"))
      .drop("__g", "__qc_toks")
  }

  /** Leakage-safe train/val/test split: hash the CLUSTER label, not
    * the document id, so every member of a near-dup cluster (the
    * [[Clusters.dedupClusters]] output) lands in the SAME split —
    * near-duplicate pairs can never straddle train/test and leak
    * evaluation data into training. `trainPct`/`valPct` are integer
    * percents; the rest is test. A pure projection over the labeled
    * frame — zero additional data movement beyond the clustering that
    * produced the labels. */
  def leakageSafeSplit(labeled: DataFrame, labelCol: String,
      trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    require(trainPct >= 1 && valPct >= 0 && trainPct + valPct <= 100,
      "percents must satisfy 1 <= trainPct, 0 <= valPct, sum <= 100")
    val h = pmod(Dedup.md5Hash60(
      concat(lit("split:"), col(labelCol).cast("string"))), lit(100L))
    labeled
      .withColumn("split",
        when(h < trainPct, lit("train"))
          .when(h < trainPct + valPct, lit("val"))
          .otherwise(lit("test")))
  }

  /** Importance weights for every `raw` document against the `target`
    * distribution: `idCol, n_feats, logw_sum, logw_mean, selected`
    * (mean log-ratio > 0 ⇔ the doc is more probable under the target
    * model). Probabilities are add-one smoothed over `buckets` hashed
    * unigram+bigram feature buckets. */
  def dsirWeights(raw: DataFrame, target: DataFrame, idCol: String,
      textCol: String, buckets: Int = 256): DataFrame = {
    require(buckets >= 2, "need at least 2 feature buckets")
    // rawFeats backs TWO consumers (the raw-side bucket counts and the
    // final per-doc weight aggregate) — materialize the narrow
    // (id, bucket) gram stream once (guide §2.3): unmaterialized, the
    // whole tokenize + gram explode + md5 pipeline over the RAW corpus
    // executes twice. ~16 B/gram in block storage vs one full repeat
    // of the md5-per-gram battery.
    val rawFeats = graft.core.Ckpt.local(
      featureBuckets(raw, idCol, textCol, buckets))
    val targetCounts = featureBuckets(target, idCol, textCol, buckets)
      .filter(col("__b").isNotNull)
      .groupBy(col("__b")).agg(count(lit(1)).as("__ct"))
    val rawCounts = rawFeats.filter(col("__b").isNotNull)
      .groupBy(col("__b")).agg(count(lit(1)).as("__cr"))
    // ≤ buckets rows per side; totals via an all-rows window keeps the
    // model a single small frame (no scalar collect)
    val all = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1)).rowsBetween(Long.MinValue, Long.MaxValue)
    val logRatio = rawCounts.join(targetCounts, Seq("__b"), "full_outer")
      .withColumn("__tt", sum(coalesce(col("__ct"), lit(0L))).over(all))
      .withColumn("__tr", sum(coalesce(col("__cr"), lit(0L))).over(all))
      .select(col("__b"),
        (log((coalesce(col("__ct"), lit(0L)) + lit(1L)).cast("double") /
             (col("__tt") + buckets).cast("double")) -
         log((coalesce(col("__cr"), lit(0L)) + lit(1L)).cast("double") /
             (col("__tr") + buckets).cast("double"))).as("__lr"))
    rawFeats
      .join(broadcast(logRatio), Seq("__b"), "left")
      .groupBy(col(idCol))
      // the trailing + 0.0 normalizes IEEE signed zero: a tiny
      // negative sum rounds to -0.0 in DuckDB but +0.0 in Spark
      // (BigDecimal HALF_UP drops the sign) — adding +0.0 maps both
      // to +0.0 and changes no other value (first seen at sf1,
      // 50k docs: a doc whose log-ratios cancel to -1e-9)
      .agg(count(col("__b")).as("n_feats"),
        (round(coalesce(sum(col("__lr")), lit(0.0)), 6) + lit(0.0))
          .as("logw_sum"),
        (round(coalesce(avg(col("__lr")), lit(0.0)), 6) + lit(0.0))
          .as("logw_mean"))
      .withColumn("selected", (col("logw_mean") > 0).cast("int"))
  }

  /** Sequence-length bucketing / padding-waste report — the
    * length-grouped-batching statistic: when batches pad every
    * sequence to its bucket's cap, how much compute is padding?
    * Docs land in power-of-two buckets (bucket b covers
    * [2ᵇ, 2ᵇ⁺¹)); per bucket: doc count, true token sum, padded
    * token cost (docs × cap, cap = 2ᵇ⁺¹−1) and the waste fraction.
    * Guides whether [[packSequences]]' exact concat-and-chunk or
    * plain bucketed padding serves a corpus better.
    *
    * Scale shape: a pure projection (the bucket is
    * `length(bin(n))−1` — INTEGER bit-length arithmetic, no
    * FP log2 whose boundary rounding engines could disagree on)
    * feeding one ≤64-row (bucket) aggregate. The only FP is the
    * final waste division, rounded once. Zero-token docs are
    * reported in bucket −1 with zero cap/waste. */
  def lengthBuckets(df: DataFrame, textCol: String): DataFrame = {
    val n = col("__n")
    val cap = col("__cap")
    df.select(TextStats.tokens(col(textCol)).as("__toks"))
      .select(size(col("__toks")).cast("long").as("__n"))
      .withColumn("bucket",
        when(n <= 0L, lit(-1)).otherwise(length(bin(n)) - 1).cast("int"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(n).as("tok_sum"))
      .withColumn("__cap",
        when(col("bucket") < 0, lit(0L))
          .otherwise(expr("shiftleft(CAST(1 AS BIGINT), bucket + 1) - 1")))
      .select(col("bucket"), col("__cap").as("cap"), col("n_docs"),
        col("tok_sum"),
        (col("n_docs") * cap).as("padded_tokens"),
        when(col("bucket") < 0, lit(0.0)).otherwise(
          round(lit(1.0) - col("tok_sum").cast("double") /
            (col("n_docs") * cap).cast("double"), 6)).as("waste"))
  }
}
