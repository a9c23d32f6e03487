package graft.scale

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for corpus curation (BASELINE.json
  * extension): token counting, quality scoring, language-ID heuristic.
  * All pure Catalyst expressions — codegen'd, no UDFs in the hot path.
  */
object TextStats {

  /** The lowercase word-token stream (non-distinct) every text metric
    * is built on — one definition instead of six inline copies.
    * Round-14: the fused codegen scan ([[graft.functions.TextFns
    * .wordTokens]]); [[tokensComposed]] is the built-in form it is
    * bit-equal to (ScaleSpec pins the identity — the HOF filter is
    * CodegenFallback and ran interpreted in every corpus hot stage). */
  def tokens(text: Column): Column =
    graft.functions.TextFns.wordTokensCol(text)

  /** [[tokens]] composed from built-ins — the cross-check form. */
  def tokensComposed(text: Column): Column =
    filter(split(lower(text), "[^a-z]+"), t => t =!= "")

  /** Whitespace token count — count of maximal non-whitespace runs
    * (`\S+` matches), the same value as the composed
    * `size(filter(split(text, "\\s+"), _ <> ''))`. */
  def tokenCountWs(text: Column): Column =
    graft.functions.TextFns.regexCountCol(text, "\\S+")

  /** [[tokenCountWs]] composed from built-ins — the cross-check. */
  def tokenCountWsComposed(text: Column): Column =
    size(filter(split(text, "\\s+"), t => t =!= ""))

  /** BPE-ish token count: letter runs, digit runs, and single
    * punctuation marks each count as one token. */
  val BpeishPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
  def tokenCountBpeish(text: Column): Column =
    graft.functions.TextFns.regexCountCol(text, BpeishPattern)

  def charCount(text: Column): Column = length(text)

  val PunctPattern = "[^A-Za-z0-9\\s]"

  def punctRatio(text: Column): Column =
    round(graft.functions.TextFns.regexCountCol(text, PunctPattern)
      .cast("double") / greatest(length(text), lit(1)).cast("double"), 6)

  /** [[punctRatio]] composed from built-ins — the cross-check. */
  def punctRatioComposed(text: Column): Column =
    round(size(regexp_extract_all(text, lit(PunctPattern), lit(0)))
      .cast("double") / greatest(length(text), lit(1)).cast("double"), 6)

  val Stopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "was")

  def stopwordRatio(text: Column): Column = {
    val toks = tokens(text)
    round(graft.functions.TextFns.countInSetCol(toks, Stopwords)
      .cast("double")
      / greatest(size(toks), lit(1)).cast("double"), 6)
  }

  /** [[stopwordRatio]] composed from built-ins — the cross-check. */
  def stopwordRatioComposed(text: Column): Column = {
    val toks = tokensComposed(text)
    round(size(filter(toks, t => t.isInCollection(Stopwords))).cast("double")
      / greatest(size(toks), lit(1)).cast("double"), 6)
  }

  def meanTokenLen(text: Column): Column = {
    val toks = tokens(text)
    round(graft.functions.TextFns.stringLenSumCol(toks).cast("double")
      / greatest(size(toks), lit(1)).cast("double"), 6)
  }

  /** [[meanTokenLen]] composed from built-ins — the cross-check. */
  def meanTokenLenComposed(text: Column): Column = {
    val toks = tokensComposed(text)
    round(aggregate(toks, lit(0), (acc, t) => acc + length(t)).cast("double")
      / greatest(size(toks), lit(1)).cast("double"), 6)
  }

  /** Composite quality score in [0,1]: rewards stopword presence and
    * 3-8 char mean token length, penalizes punctuation noise and
    * sub-20-token docs. Weights are illustrative — the *shape*
    * (pure-expression scoring over 100 TB) is the point. */
  def qualityScore(text: Column): Column = {
    val lenOk = when(tokenCountWs(text) >= 20, 1.0).otherwise(0.0)
    val meanOk = when(meanTokenLen(text).between(3.0, 8.0), 1.0).otherwise(0.0)
    val punctOk = when(punctRatio(text) <= 0.1, 1.0).otherwise(0.0)
    val stopOk = when(stopwordRatio(text) >= 0.05, 1.0).otherwise(0.0)
    round(lenOk * 0.3 + meanOk * 0.2 + punctOk * 0.2 + stopOk * 0.3, 2)
  }

  /** TF-IDF top terms per document: one explode, two aggregations
    * (term-frequency per doc, document-frequency per term), idf join
    * broadcast (vocabulary ≪ corpus), windowed top-k. All shuffles are
    * on (doc,term)/term keys — corpus text never moves twice. */
  def tfidfTopTerms(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, topK: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = df.count()
    val terms = df.select(col(idCol),
      explode_outer(tokens(col(textCol))).as("term"))
      .filter(col("term").isNotNull) // generate hygiene — Dedup class doc
    val tf = terms.groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = terms.select(col(idCol), col("term")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("tfidf").desc, col("term").asc)
    tf.join(broadcast(dfreq), Seq("term"))
      .withColumn("tfidf",
        round(col("tf") * log(lit(n.toDouble) / col("df")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col(idCol), col("term"), col("tf"), col("df"),
        col("tfidf"), col("rank"))
  }

  /** Stopword-profile language ID. Real n-gram models plug in the same
    * way (argmax over per-language scores); ties → lexicographically
    * smallest code, "und" when nothing matches. */
  val LangMarkers: Map[String, Seq[String]] = Map(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht"),
    "en" -> Seq("the", "a", "and", "is", "of", "to"),
    "es" -> Seq("el", "la", "los", "que", "es", "y"),
    "fr" -> Seq("le", "la", "les", "et", "est", "que"))

  def langScores(text: Column): Seq[(String, Column)] = {
    val toks = tokens(text)
    LangMarkers.toSeq.sortBy(_._1).map { case (lang, markers) =>
      lang -> size(filter(toks, t => t.isInCollection(markers)))
    }
  }

  def langId(text: Column): Column = {
    val scores = langScores(text)
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und")) { case ((lang, score), acc) =>
      when(score === best && best > 0, lit(lang)).otherwise(acc)
    }
  }

  // ---- Unigram LM surprisal ----------------------------------------------

  /** Mean per-token surprisal −mean(ln p(tok)) under the corpus unigram
    * model — the cheap LM-quality signal (low = stereotypical text,
    * high = rare vocabulary). Corpus counts: one explode + one agg;
    * vocabulary broadcasts back to the token stream (vocab ≪ corpus). */
  def unigramSurprisal(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val terms = df.select(col(idCol),
      explode_outer(tokens(col(textCol))).as("term"))
      .filter(col("term").isNotNull) // generate hygiene — Dedup class doc
    val counts = terms.groupBy("term").agg(count(lit(1)).as("cnt"))
    // corpus total derived from the (small) vocabulary frame and
    // broadcast as a 1-row cross join — the whole plan stays lazy and
    // tokenizes the corpus once (an eager terms.count() here would
    // run a full extra pass over the corpus per invocation)
    val total = counts.agg(sum("cnt").as("__total"))
    terms.join(broadcast(counts), Seq("term"))
      .crossJoin(broadcast(total))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_toks"),
        round(-avg(log(col("cnt").cast("double") / col("__total"))), 6)
          .as("mean_surprisal"))
  }

  /** Interpolated (Jelinek-Mercer) bigram surprisal — the standard
    * upgrade over [[unigramSurprisal]] for corpus quality filtering:
    *   p(w | prev) = λ·c(prev,w)/c(prev,·) + (1−λ)·c(w)/T
    * per-doc −mean(ln p) over adjacent-token pairs. The backoff to the
    * unigram distribution keeps unseen-in-context words finite, so λ<1
    * needs no extra smoothing.
    *
    * Scale shape: tokenize once into a list column, derive bigrams by
    * zipping the list with its own tail (no self-join on positions),
    * aggregate the count tables corpus-wide, DENORMALIZE them into one
    * stats table keyed by (prev,cur), and join the bigram stream to it
    * exactly once. The stats-side joins touch only vocabulary-sized
    * tables (prev totals derive from the bigram counts by a second
    * aggregation — Σ_cur c(prev,cur) = c(prev,·) — not from another
    * pass over the corpus stream). The corpus-sized stream therefore
    * never enters an exchange: the stats table is the trained MODEL,
    * and models ship to the workers — the join carries an EXPLICIT
    * broadcast, because leaving it to AQE is not enough (static
    * planning can't size an aggregated side, so it plans sort-merge,
    * and by the time AQE's runtime stats demote it to broadcast the
    * position stream's map stage has already written its full shuffle
    * — the round-8 sf10 audit measured 433-492 MB of exactly such
    * dead shuffle for a 961-row stats table; with the static
    * broadcast the query's total shuffle is the vocabulary-sized
    * count tables plus per-doc partial aggs). A corpus whose bigram
    * vocabulary genuinely outgrows broadcast needs a top-K/OOV-bucket
    * cap on the model first — the standard LM-scorer contract — and
    * `vocabCap` IS that cap, enforceable by callers: Some(K) keeps
    * the top-K bigram rows and top-K unigram rows (by count, ties by
    * key — deterministic), so both broadcasts are bounded by K
    * regardless of corpus vocabulary; bigram occurrences outside the
    * capped model back off to the unigram leg alone,
    * p = (1−λ)·c(w)/T, with a count floor of 1 for out-of-model
    * words. A cap at least as large as both vocabularies is
    * bit-identical to the uncapped form (TextStatsSpec asserts it).
    * None (q118's mode) keeps the exact interpolated model. Docs
    * with < 2 tokens have no bigrams and drop out. */
  def bigramSurprisal(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, lambda: Double = 0.75,
      vocabCap: Option[Int] = None): org.apache.spark.sql.DataFrame = {
    val lists = df.select(col(idCol), tokens(col(textCol)).as("__l"))
    val uni = lists.select(explode_outer(col("__l")).as("term"))
      .filter(col("term").isNotNull) // generate hygiene — Dedup class doc
      .groupBy("term").agg(count(lit(1)).as("cu"))
    val total = uni.agg(sum("cu").as("__total"))
    // no `size(__l) >= 2` pre-filter: that predicate pushes below the
    // `lists` projection, substituting the full tokenization into a
    // per-row scan filter on every branch that reads `bi` (three extra
    // interpreted split+filter evaluations per document — caught by
    // PlanSpec's generate-hygiene guard). Docs with < 2 tokens zip to
    // an EMPTY array (greatest keeps the slice length total at 0),
    // explode_outer turns them into one null row, and the hygiene
    // filter drops it — same rows out, tokenization evaluated once.
    val tailLen = greatest(size(col("__l")) - 1, lit(0))
    val bi = lists
      .select(col(idCol), explode_outer(arrays_zip(
        slice(col("__l"), lit(1), tailLen),
        slice(col("__l"), lit(2), tailLen))).as("__z"))
      .filter(col("__z").isNotNull)
      .select(col(idCol), col("__z").getField("0").as("prev"),
        col("__z").getField("1").as("cur"))
    val bigCounts = bi.groupBy("prev", "cur").agg(count(lit(1)).as("cb"))
    // c(prev,·) always derives from the FULL bigram counts, so capped
    // probabilities stay proper (the cap drops rows from the shipped
    // model, not mass from the denominators)
    val prevCounts = bigCounts.groupBy("prev").agg(sum("cb").as("cp"))
    val p = lit(lambda) * (col("cb").cast("double") / col("cp")) +
      lit(1.0 - lambda) * (col("cu").cast("double") / col("__total"))
    def statsOf(bc: org.apache.spark.sql.DataFrame) = bc
      .join(prevCounts, Seq("prev"))
      .join(uni.withColumnRenamed("term", "cur"), Seq("cur"))
      .crossJoin(broadcast(total))
      .select(col("prev"), col("cur"), p.as("__p"))
    vocabCap match {
      case None =>
        bi.join(broadcast(statsOf(bigCounts)), Seq("prev", "cur"))
          .groupBy(col(idCol))
          .agg(count(lit(1)).as("n_bigrams"),
            round(-avg(log(col("__p"))), 6).as("mean_surprisal"))
      case Some(cap) =>
        val cappedStats = statsOf(
          bigCounts.orderBy(col("cb").desc, col("prev"), col("cur"))
            .limit(cap))
        val cappedUni = uni.orderBy(col("cu").desc, col("term")).limit(cap)
          .select(col("term").as("cur"), col("cu").as("__cuc"))
        val pOov = lit(1.0 - lambda) *
          (coalesce(col("__cuc"), lit(1L)).cast("double") / col("__total"))
        bi.join(broadcast(cappedStats), Seq("prev", "cur"), "left")
          .join(broadcast(cappedUni), Seq("cur"), "left")
          .crossJoin(broadcast(total))
          .groupBy(col(idCol))
          .agg(count(lit(1)).as("n_bigrams"),
            round(-avg(log(coalesce(col("__p"), pOov))), 6)
              .as("mean_surprisal"))
    }
  }

  // ---- PII redaction ------------------------------------------------------

  /** Patterns restricted to syntax shared by Java regex and RE2 (no
    * backrefs/lookaround) so the DuckDB oracle runs the identical
    * pattern. */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern = "\\+?[0-9][0-9() -]{6,}[0-9]"

  /** Corpus drift report between two snapshots (the data-version QA
    * check: did this ingest change the token distribution?): for the
    * top-`topK` terms by combined count, each snapshot's term
    * probability and the absolute drift. All counts are exact longs
    * from ONE conditional-aggregate corpus pass (one narrow (term)
    * exchange — the split flag rides the explode, so A and B are never
    * scanned separately); probabilities and drift are single rounded
    * IEEE divisions — bit-stable per row, no ordered-sum anywhere.
    * Top-k is a TakeOrderedAndProject; the term table is never
    * globally sorted. Output: (term, cnt_a, cnt_b, p_a, p_b, drift).
    *
    * A scalar total divergence is deliberately NOT emitted: it would
    * need an ordered FP reduction over the unbounded term table.
    * Consumers rank by per-term drift, which is what an alert keys on
    * anyway. */
  def tokenDrift(df: org.apache.spark.sql.DataFrame, textCol: String,
      isA: Column, topK: Int = 64): org.apache.spark.sql.DataFrame =
    graft.core.Ckpt.scoped { pins =>
      // cached: the totals branch reads the cached vocab-sized frame
      // instead of re-scanning the corpus (pre-materialization plans
      // print the counts subtree once per consumer — the q181 note);
      // outer explode + null filter per the generate-hygiene rule.
      // The ≤topK-row result is checkpointed so the vocab-sized cache
      // goes with the scope: repeated drift calls in one session never
      // accumulate cached vocab frames.
      val counts = pins.cache(df
        .select(isA.as("__a"),
          explode_outer(tokens(col(textCol))).as("__t"))
        .filter(col("__t").isNotNull)
        .groupBy(col("__t")).agg(
          sum(when(col("__a"), 1L).otherwise(0L)).as("cnt_a"),
          sum(when(!col("__a"), 1L).otherwise(0L)).as("cnt_b")))
      graft.core.Ckpt.local(driftFromCounts(counts, topK))
    }

  /** The comparison half of [[tokenDrift]], over an already-built
    * (term `__t`, cnt_a, cnt_b) count table — the entry point for
    * INCREMENTALLY maintained counts: per-batch [[tokenCountDelta]]
    * frames fold by exact-long addition (associative — fold order
    * cannot change a bit), so drift computed from a maintained table
    * equals the from-scratch corpus scan bit-for-bit (q198's oracle
    * is literally q195's). */
  def driftFromCounts(counts: org.apache.spark.sql.DataFrame,
      topK: Int): org.apache.spark.sql.DataFrame = {
    val tot = counts.agg(sum(col("cnt_a")).as("__ta"),
      sum(col("cnt_b")).as("__tb"))
    val pa = round(col("cnt_a").cast("double") /
      greatest(col("__ta"), lit(1L)).cast("double"), 6)
    val pb = round(col("cnt_b").cast("double") /
      greatest(col("__tb"), lit(1L)).cast("double"), 6)
    counts.crossJoin(broadcast(tot))
      .orderBy((col("cnt_a") + col("cnt_b")).desc, col("__t").asc)
      .limit(topK)
      .select(col("__t").as("term"), col("cnt_a"), col("cnt_b"),
        pa.as("p_a"), pb.as("p_b"),
        round(abs(pa - pb), 6).as("drift"))
  }

  /** One ingest batch's contribution to a maintained drift count
    * table: (term `__t`, cnt_a, cnt_b), where the batch belongs
    * entirely to side A or side B. Fold deltas with
    * [[foldCountDeltas]]. */
  def tokenCountDelta(df: org.apache.spark.sql.DataFrame,
      textCol: String, isA: Boolean): org.apache.spark.sql.DataFrame =
    df.select(explode_outer(tokens(col(textCol))).as("__t"))
      .filter(col("__t").isNotNull)
      .groupBy(col("__t"))
      .agg(count(lit(1)).as(if (isA) "cnt_a" else "cnt_b"))
      .withColumn(if (isA) "cnt_b" else "cnt_a", lit(0L))
      .select(col("__t"), col("cnt_a"), col("cnt_b"))

  /** Fold per-batch deltas into the maintained count table — exact
    * long sums, associative and commutative: ANY fold order or batch
    * grouping yields the identical table. */
  def foldCountDeltas(deltas: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    deltas.groupBy(col("__t"))
      .agg(sum(col("cnt_a")).as("cnt_a"), sum(col("cnt_b")).as("cnt_b"))

  /** Mask emails then phones (in that order — emails contain digits, so
    * the phone pass must run on email-free text). */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, EmailPattern, "[EMAIL]"),
      PhonePattern, "[PHONE]")

  def countMatches(text: Column, pattern: String): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0)))

  // ---- Repetition / duplicate-content scoring -----------------------------

  /** Word bigrams ("a b") from the lowercase token stream. The <2-token
    * guard matters: sequence(1, 0) in Spark is DESCENDING [1, 0], not
    * empty. */
  def bigrams(text: Column): Column = bigramsFromTokens(tokens(text))

  def bigramsFromTokens(toks: Column): Column =
    when(size(toks) < 2, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(toks) - 1),
        i => concat(element_at(toks, i), lit(" "), element_at(toks, i + 1))))

  /** Per-document repetition metrics (Gopher-style duplicate-content
    * rules): duplicate-token ratio, top-token share, duplicate-bigram
    * ratio. One explode + partial-agg shuffles on (doc, token) — the
    * text column itself is never shuffled. */
  def repetitionMetrics(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val base = df.select(col(idCol), tokens(col(textCol)).as("__toks"))
      .withColumn("__bi", bigramsFromTokens(col("__toks")))
    val tokCounts = base
      .select(col(idCol), explode_outer(col("__toks")).as("__t"))
      .filter(col("__t").isNotNull) // generate hygiene — Dedup class doc
      .groupBy(col(idCol), col("__t")).agg(count(lit(1)).as("__n"))
      .groupBy(col(idCol))
      .agg(sum("__n").as("n_toks"), count(lit(1)).as("n_distinct"),
        max("__n").as("top_n"))
    val biStats = base.select(col(idCol),
      size(col("__bi")).as("n_bi"),
      size(array_distinct(col("__bi"))).as("n_bi_distinct"))
    // left join from biStats (covers every doc) — token-less docs get
    // zero counts and zero ratios, not dropped rows.
    biStats.join(tokCounts, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_toks"), lit(0L)).as("n_toks"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        round(when(coalesce(col("n_toks"), lit(0L)) === 0, 0.0)
          .otherwise(lit(1.0) - col("n_distinct").cast("double")
            / col("n_toks").cast("double")), 6).as("dup_tok_ratio"),
        round(when(coalesce(col("n_toks"), lit(0L)) === 0, 0.0)
          .otherwise(col("top_n").cast("double")
            / col("n_toks").cast("double")), 6).as("top_tok_share"),
        round(when(col("n_bi") === 0, 0.0)
          .otherwise(lit(1.0) - col("n_bi_distinct").cast("double")
            / col("n_bi").cast("double")), 6).as("dup_bigram_ratio"))
  }
}
