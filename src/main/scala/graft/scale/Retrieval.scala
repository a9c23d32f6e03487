package graft.scale

import graft.core.Ckpt

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Lexical retrieval scoring — the BM25 side of the search story (the
  * ANN operators in [[Similarity]] are its dense counterpart).
  *
  * Scale shape: every form scans and tokenizes the corpus ONCE into a
  * narrow base — (id, dl, tf of each distinct query term) — with tf
  * read off the query-term token stream in the projection, so no
  * posting is ever exploded or shuffled. The statistics BM25 needs
  * beyond the document itself are collected to the driver ONCE per
  * call: N, Σdl and the df of each query term (2 + #terms longs; the
  * one-shot forms aggregate them from the materialized base, the
  * `WithStats` forms fold them from the maintained [[bm25StatsDelta]]
  * rows, which never re-scan the corpus). They are bounded by the
  * query, not the corpus, and inlined as literals, so scoring is a
  * pure projection over the base — no broadcast join, no df or
  * one-row stats aggregate in the plan. The only exchange left is the
  * ranking: a per-term window ([[bm25]]), per-partition top-k heaps
  * ([[bm25Query]]), or a per-query window ([[bm25Queries]]). Nothing
  * ever shuffles the text column.
  *
  * Determinism: every float is derived from exact longs (tf, df, N,
  * Σdl) with a fixed expression shape — avgdl is exact-sum-then-divide,
  * NOT a float avg (partial-sum order would differ between engines) —
  * so scores are bit-stable and oracle-checkable. Multi-term document
  * scores ([[bm25Query]]) sum the per-term scores in the CALLER'S term
  * order as one fixed left-to-right expression, never a float `sum`
  * aggregate whose combine order could vary. Document ids are unique
  * by contract (each row is one document).
  */
object Retrieval {

  /** (idCol, __dl, __tf0 … __tfN) for the distinct `terms`: tf is the
    * count of the term in the query-term token stream (fused
    * [[graft.functions.TokensInSetExpr]], pinned bit-equal to
    * `filter(toks, isInCollection)` in ScaleSpec), read off with
    * `size(qt) - size(array_remove(qt, t))`. */
  // deliberately NOT Par.widened: measured at sf0.1 AND the KB corpus,
  // the raw-text exchange costs more than the (fused, fast) tokenize
  // battery saves here — q138 0.66→0.99 s, q141 0.52→0.91 s with it
  private def termBase(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String]): DataFrame = {
    val qt = col("__qt")
    docs
      .select(col(idCol), TextStats.tokens(col(textCol)).as("__toks"))
      .select(col(idCol), size(col("__toks")).as("__dl"),
        graft.functions.TextFns.tokensInSetCol(col("__toks"), terms)
          .as("__qt"))
      .select(col(idCol) +: col("__dl") +: terms.indices.map(i =>
        (size(qt) - size(array_remove(qt, terms(i)))).as(s"__tf$i")): _*)
  }

  /** Corpus statistics held on the driver: N and Σdl (None when the
    * corpus is empty) and the df of each query term that has one. */
  private case class CorpusStats(n: Long, sumDl: Option[Long],
      df: Map[String, Long])

  /** One-shot stats: ONE aggregate over the materialized base. */
  private def corpusStats(base: DataFrame, terms: Seq[String]): CorpusStats = {
    val r = base.agg(count(lit(1)), sum(col("__dl")) +:
      terms.indices.map(i => count(when(col(s"__tf$i") > 0, lit(1)))): _*)
      .head()
    CorpusStats(r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)),
      terms.indices.map(i => terms(i) -> r.getLong(i + 2)).toMap)
  }

  /** Maintained stats: the sum-by-key fold of the appended
    * [[bm25StatsDelta]] rows, restricted to the corpus rows and the
    * query terms' df rows (≤ 2 + #terms rows reach the driver). */
  private def foldStats(statsRows: DataFrame,
      terms: Seq[String]): CorpusStats = {
    val folded = statsRows
      .filter(col("stat") === "corpus" ||
        (col("stat") === "df" && col("key").isInCollection(terms)))
      .groupBy(col("stat"), col("key")).agg(sum(col("n")))
      .collect().map(r =>
        (r.getString(0), r.getString(1)) -> r.getAs[java.lang.Long](2))
      .toMap
    val n = folded.get(("corpus", "n_docs"))
    require(n.isDefined && folded.contains(("corpus", "sum_dl")),
      "BM25 stats rows hold no corpus n_docs/sum_dl rows")
    // Σdl is null when every folded batch was empty
    CorpusStats(n.get, Option(folded(("corpus", "sum_dl"))).map(_.toLong),
      folded.collect { case (("df", t), v) => t -> v.toLong })
  }

  /** A scored base: `frame` holds one `__s{i}` column per slot term —
    * its BM25 score (Robertson/Lucene IDF: ln((N - df + 0.5)/(df +
    * 0.5) + 1)), rounded to 6, where the document holds the term, null
    * elsewhere. A term without a df (absent from the maintained stats)
    * scores nowhere. */
  private case class Scored(frame: DataFrame, slots: Seq[String],
      st: CorpusStats) {
    def hit(t: String): Column =
      if (st.df.contains(t)) col(s"__tf${slots.indexOf(t)}") > 0 else lit(false)
    /** A query matches the documents holding any of its scored terms. */
    def matches(query: Seq[String]): Column =
      query.distinct.map(hit).reduce(_ || _)
    /** A query's unrounded total: the fixed left-to-right chain of
      * coalesce(score_t, 0) in the query's own term order. */
    def total(query: Seq[String]): Column =
      query.map(t => coalesce(col(s"__s${slots.indexOf(t)}"), lit(0.0)))
        .reduce(_ + _)
  }

  /** Score the distinct `terms` in one of two stats modes: `statsRows`
    * None → materialize the base (it is read twice: stats, then
    * scores) and aggregate its stats; Some → fold the maintained rows
    * and score the batch in one pass. N, avgdl and df are literals. */
  private def scoredBase(docs: DataFrame, statsRows: Option[DataFrame],
      idCol: String, textCol: String, terms: Seq[String], k1: Double,
      b: Double): Scored = {
    val slots = terms.distinct
    require(slots.nonEmpty, "need at least one query term")
    val base = termBase(docs, idCol, textCol, slots)
    val (in, st) = statsRows match {
      case None =>
        // lazy: the stats job materializes the blocks the scores read
        val m = Ckpt.local(base, eager = false)
        (m, corpusStats(m, slots))
      case Some(rows) => (base, foldStats(rows, slots))
    }
    val n = lit(st.n)
    val avgdl = st.sumDl.fold(lit(null).cast("long"))(lit(_))
      .cast("double") / n
    Scored(in.select(col("*") +: slots.indices.map { i =>
      val tf = col(s"__tf$i")
      st.df.get(slots(i)).fold(lit(null).cast("double")) { d =>
        val df = lit(d)
        val idf = log((n - df + lit(0.5)) / (df + lit(0.5)) + lit(1.0))
        when(tf > 0, round(idf * tf * lit(k1 + 1.0) /
          (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("__dl") / avgdl)), 6))
      }.as(s"__s$i")
    }: _*), slots, st)
  }

  /** Per-batch corpus-stats DELTA: (stat, key, n) rows —
    * ('df', term, docs-containing-term), ('corpus', 'n_docs', batch
    * size), ('corpus', 'sum_dl', batch token count). All three are
    * ADDITIVE, so the current corpus stats are a sum-by-key over
    * appended deltas (the IncrementalGold decomposability argument):
    * a retrieval deployment appends one tiny delta per ingest batch
    * and never re-scans the corpus to refresh df/N/avgdl. */
  def bm25StatsDelta(batch: DataFrame, idCol: String, textCol: String,
      terms: Seq[String]): DataFrame = {
    val ts = terms.distinct
    val st = corpusStats(termBase(batch, idCol, textCol, ts), ts)
    val sp = batch.sparkSession
    import sp.implicits._
    // one df row per term held by at least one document
    (("corpus", "n_docs", Option(st.n)) +: ("corpus", "sum_dl", st.sumDl) +:
      ts.filter(st.df(_) > 0).map(t => ("df", t, Option(st.df(t)))))
      .toDF("stat", "key", "n")
  }

  /** Score documents against MAINTAINED stats (the sum-by-key fold of
    * appended [[bm25StatsDelta]] rows) — same float shape as [[bm25]],
    * with N and Σdl exact longs, so the two forms are bit-identical
    * on the same corpus. */
  def bm25WithStats(docs: DataFrame, statsRows: DataFrame, idCol: String,
      textCol: String, terms: Seq[String], k: Int, k1: Double = 1.2,
      b: Double = 0.75): DataFrame =
    rankPerTerm(docs, Some(statsRows), idCol, textCol, terms, k, k1, b)

  /** Top-k documents per query term by BM25. Output:
    * (term, idCol, score rounded to 6, rank ≤ k). */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int, k1: Double = 1.2,
      b: Double = 0.75): DataFrame =
    rankPerTerm(docs, None, idCol, textCol, terms, k, k1, b)

  /** One (term, id, score) row per scored term a document holds, then
    * a rank window partitioned by term (WindowGroupLimit prunes). */
  private def rankPerTerm(docs: DataFrame, statsRows: Option[DataFrame],
      idCol: String, textCol: String, terms: Seq[String], k: Int,
      k1: Double, b: Double): DataFrame = {
    val sc = scoredBase(docs, statsRows, idCol, textCol, terms, k1, b)
    val perTerm = sc.slots.indices.map(i => struct(lit(sc.slots(i)).as("term"),
      sc.hit(sc.slots(i)).as("__hit"), col(s"__s$i").as("score")))
    sc.frame.filter(sc.matches(sc.slots))
      .select(col(idCol), explode(array(perTerm: _*)).as("__p"))
      .filter(col("__p.__hit"))
      .select(col("__p.term").as("term"), col(idCol),
        col("__p.score").as("score"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("term"))
          .orderBy(col("score").desc, col(idCol).asc)))
      .filter(col("rank") <= k)
  }

  /** The user-facing retrieval shape: a multi-term QUERY scored per
    * document — score(doc) = Σ over query terms of the q138 per-term
    * BM25 score — then top-k documents. The sum is a FIXED left-to-
    * right chain of coalesce(score_t, 0) in the caller's term order,
    * not a float aggregate, so the total is bit-stable and the oracle
    * replays it verbatim. Output: (idCol, score rounded to 6,
    * rank ≤ k). */
  def bm25Query(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int, k1: Double = 1.2,
      b: Double = 0.75): DataFrame =
    rankPerDoc(docs, None, idCol, textCol, terms, k, k1, b)

  /** [[bm25Query]] against MAINTAINED stats (the q139 decomposition
    * applied to the per-document form): tf comes from the batch being
    * scored, df/N/Σdl from folded [[bm25StatsDelta]] rows — the
    * corpus is never re-scanned, and the scores are bit-identical to
    * the one-shot [[bm25Query]] on the same corpus (shared oracle). */
  def bm25QueryWithStats(docs: DataFrame, statsRows: DataFrame,
      idCol: String, textCol: String, terms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame =
    rankPerDoc(docs, Some(statsRows), idCol, textCol, terms, k, k1, b)

  /** Matching documents with their rounded totals, then the global
    * top-k WITHOUT a global rank window: an ordered limit plans as
    * TakeOrderedAndProject — per-partition top-k heaps merged once —
    * where a row_number-then-filter would funnel every matched
    * document to ONE partition first (SelectionSpec pins the shape).
    * The order is total (score desc, id asc), so the k-prefix is
    * deterministic and the rank window that numbers it runs over ≤ k
    * rows. */
  private def rankPerDoc(docs: DataFrame, statsRows: Option[DataFrame],
      idCol: String, textCol: String, terms: Seq[String], k: Int,
      k1: Double, b: Double): DataFrame = {
    val sc = scoredBase(docs, statsRows, idCol, textCol, terms, k1, b)
    sc.frame.filter(sc.matches(terms))
      .select(col(idCol), round(sc.total(terms), 6).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score").desc, col(idCol).asc)).cast("int"))
  }

  /** BATCH multi-query BM25: score a whole query WORKLOAD in one
    * pass — the base and the driver-held stats cover the union of all
    * query terms, each base row fans out to the queries it matches,
    * and a rank window PARTITIONED by query (parallel, never a
    * single-partition sort) takes each query's top k. Versus one
    * [[bm25Query]] plan per query, the corpus is tokenized once per
    * workload instead of once per query.
    *
    * Determinism: each query's total is the chain over THAT QUERY'S
    * OWN term order — not the union order, which would re-associate
    * the float sum whenever two queries share a term at different
    * relative positions (FP addition is non-associative). Absent terms
    * contribute an exact `0.0` (coalesce) and `x + 0.0` is exact in
    * IEEE arithmetic, so each total is bit-identical to its standalone
    * [[bm25Query]] chain with no precondition on term overlap or order
    * (SelectionSpec asserts equality on overlapping, differently-ordered
    * specs). Query ids must be distinct and every query needs a term.
    * Output: `(query_id, idCol, score, rank ≤ k)`. */
  def bm25Queries(docs: DataFrame, idCol: String, textCol: String,
      queries: Seq[(Long, Seq[String])], k: Int, k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(queries.nonEmpty, "need at least one query")
    require(queries.map(_._1).distinct.size == queries.size,
      s"duplicate query ids: ${queries.map(_._1).diff(queries.map(_._1).distinct)}")
    require(queries.forall(_._2.nonEmpty),
      s"queries without terms: ${queries.filter(_._2.isEmpty).map(_._1)}")
    val sc = scoredBase(docs, None, idCol, textCol, queries.flatMap(_._2),
      k1, b)
    val perQuery = queries.map { case (q, ts) =>
      struct(lit(q).as("__qid"), sc.matches(ts).as("__hit"),
        sc.total(ts).as("__sum"))
    }
    sc.frame.filter(sc.matches(sc.slots))
      .select(col(idCol), explode(array(perQuery: _*)).as("__p"))
      .filter(col("__p.__hit"))
      .select(col("__p.__qid").as("__qid"), col(idCol),
        round(col("__p.__sum"), 6).as("score"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("__qid"))
          .orderBy(col("score").desc, col(idCol).asc)).cast("int"))
      .filter(col("rank") <= k)
      .select(col("__qid").as("query_id"), col(idCol), col("score"),
        col("rank"))
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) of a lexical and a
    * dense ranked list — the standard hybrid-retrieval combiner
    * (Elasticsearch/Vespa/OpenSearch all ship exactly this):
    * `rrf(d) = Σ_lists 1/(k0 + rank_list(d))`, with a document absent
    * from a list contributing 0 for that list. Inputs are per-query
    * ranked lists `(queryCol, idCol, rankCol)` — typically
    * [[bm25Query]] output unioned per query and a per-query ANN top-k
    * from [[Similarity]]. Output:
    * `(queryCol, idCol, lex_rank, vec_rank, rrf_score, rank ≤ k)`.
    *
    * Scale shape: both inputs are ALREADY top-k-per-query lists —
    * ≤ n_queries × k rows each, however large the corpus behind them —
    * so the fusion join and the per-query rank window cost O(n_q · k)
    * regardless of corpus size; the heavy lifting stays inside the
    * audited BM25/ANN kernels. Determinism: ranks are exact ints,
    * 1/(k0+rank) and the two-term sum are single correctly-rounded
    * IEEE ops in a fixed order, so fused scores are bit-stable
    * cross-engine with NO rounding step; ties break by id. */
  def rrfFuse(lex: DataFrame, dense: DataFrame, queryCol: String,
      idCol: String, rankCol: String, k0: Int = 60,
      k: Int = 10): DataFrame = {
    require(k0 >= 1, "k0 must be >= 1")
    val l = lex.select(col(queryCol).as("__q"), col(idCol).as("__id"),
      col(rankCol).cast("int").as("lex_rank"))
    val d = dense.select(col(queryCol).as("__q"), col(idCol).as("__id"),
      col(rankCol).cast("int").as("vec_rank"))
    l.join(d, Seq("__q", "__id"), "full_outer")
      .withColumn("rrf_score",
        coalesce(lit(1.0) / (lit(k0) + col("lex_rank")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(k0) + col("vec_rank")), lit(0.0)))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("__q"))
          .orderBy(col("rrf_score").desc, col("__id").asc)).cast("int"))
      .filter(col("rank") <= k)
      .select(col("__q").as(queryCol), col("__id").as(idCol),
        col("lex_rank"), col("vec_rank"), col("rrf_score"), col("rank"))
  }
}
