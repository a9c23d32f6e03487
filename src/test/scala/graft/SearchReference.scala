package graft

import graft.scale.{Similarity, TextStats}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reference forms of BM25 and IVF search, kept in test scope as the
  * differential oracle for [[graft.scale.Retrieval]] and
  * [[graft.scale.Similarity]]: every corpus statistic is a frame
  * (postings aggregate, df aggregate, one-row (N, avgdl) aggregate)
  * broadcast into the scoring join, and IVF assigns each corpus vector
  * by crossing it with every seed centroid and keeping the row_number
  * winner. Same float expressions, roundings and tie orders as the
  * production operators, so results must agree bit for bit. */
object SearchReference {

  private def tokenized(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs
      .select(col(idCol), TextStats.tokens(col(textCol)).as("__toks"))
      .select(col(idCol), col("__toks"), size(col("__toks")).as("__dl"))

  /** (idCol, __dl, __t, __tf) postings for the query-term set. */
  private def postings(toks: DataFrame, idCol: String,
      terms: Seq[String]): DataFrame =
    toks
      .select(col(idCol), col("__dl"), explode_outer(col("__toks")).as("__t"))
      .filter(col("__t").isNotNull && col("__t").isInCollection(terms))
      .groupBy(col(idCol), col("__t"), col("__dl"))
      .agg(count(lit(1)).as("__tf"))

  /** (dfreq, corpus) frames of the one-shot forms. */
  private def oneShotStats(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String]): (DataFrame, DataFrame, DataFrame) = {
    val toks = tokenized(docs, idCol, textCol)
    val tf = postings(toks, idCol, terms)
    val dfreq = tf.groupBy(col("__t")).agg(count(lit(1)).as("__df"))
    val corpus = toks.agg(count(lit(1)).as("__N"),
      (sum(col("__dl")).cast("double") / count(lit(1))).as("__avgdl"))
    (tf, dfreq, corpus)
  }

  /** Per-batch additive stats rows: (stat, key, n). */
  def bm25StatsDelta(batch: DataFrame, idCol: String, textCol: String,
      terms: Seq[String]): DataFrame = {
    val toks = tokenized(batch, idCol, textCol)
    val corpus = toks.agg(count(lit(1)).as("__n"), sum(col("__dl")).as("__s"))
      .select(explode(array(
        struct(lit("corpus").as("stat"), lit("n_docs").as("key"),
          col("__n").as("n")),
        struct(lit("corpus").as("stat"), lit("sum_dl").as("key"),
          col("__s").as("n")))).as("r"))
      .select("r.stat", "r.key", "r.n")
    val dfreq = postings(toks, idCol, terms)
      .groupBy(col("__t")).agg(count(lit(1)).as("n"))
      .select(lit("df").as("stat"), col("__t").as("key"), col("n"))
    corpus.unionByName(dfreq)
  }

  /** (dfreq, corpus) frames from maintained additive stats rows. */
  private def foldStats(statsRows: DataFrame): (DataFrame, DataFrame) = {
    val folded = statsRows.groupBy(col("stat"), col("key"))
      .agg(sum(col("n")).as("n"))
    val corpus = folded.filter(col("stat") === "corpus")
      .groupBy()
      .agg(max(when(col("key") === "n_docs", col("n"))).as("__N"),
        max(when(col("key") === "sum_dl", col("n"))).as("__sumdl"))
      .select(col("__N"),
        (col("__sumdl").cast("double") / col("__N")).as("__avgdl"))
    val dfreq = folded.filter(col("stat") === "df")
      .select(col("key").as("__t"), col("n").as("__df"))
    (dfreq, corpus)
  }

  private def scoredPostings(tf: DataFrame, dfreq: DataFrame,
      stats: DataFrame, k1: Double, b: Double): DataFrame =
    tf
      .join(broadcast(dfreq), Seq("__t"))
      .crossJoin(broadcast(stats.select(col("__N"), col("__avgdl"))))
      .withColumn("__idf",
        log((col("__N") - col("__df") + lit(0.5)) / (col("__df") + lit(0.5))
          + lit(1.0)))
      .withColumn("score", round(
        col("__idf") * col("__tf") * lit(k1 + 1.0) /
          (col("__tf") + lit(k1) *
            (lit(1.0 - b) + lit(b) * col("__dl") / col("__avgdl"))), 6))

  private def rankPerTerm(scored: DataFrame, idCol: String,
      k: Int): DataFrame =
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("__t"))
          .orderBy(col("score").desc, col(idCol).asc)))
      .filter(col("rank") <= k)
      .select(col("__t").as("term"), col(idCol), col("score"), col("rank"))

  private def chain(ts: Seq[String]): Column = ts.map(t =>
    coalesce(max(when(col("__t") === t, col("score"))), lit(0.0)))
    .reduce(_ + _)

  private def rankPerDoc(scored: DataFrame, idCol: String,
      terms: Seq[String], k: Int): DataFrame =
    scored.groupBy(col(idCol))
      .agg(round(chain(terms), 6).as("score"))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score").desc, col(idCol).asc)).cast("int"))
      .filter(col("rank") <= k)
      .select(col(idCol), col("score"), col("rank"))

  def bm25(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int, k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val (tf, dfreq, corpus) = oneShotStats(docs, idCol, textCol, terms)
    rankPerTerm(scoredPostings(tf, dfreq, corpus, k1, b), idCol, k)
  }

  def bm25WithStats(docs: DataFrame, statsRows: DataFrame, idCol: String,
      textCol: String, terms: Seq[String], k: Int, k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val (dfreq, corpus) = foldStats(statsRows)
    rankPerTerm(scoredPostings(
      postings(tokenized(docs, idCol, textCol), idCol, terms),
      dfreq, corpus, k1, b), idCol, k)
  }

  def bm25Query(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int, k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val (tf, dfreq, corpus) = oneShotStats(docs, idCol, textCol, terms)
    rankPerDoc(scoredPostings(tf, dfreq, corpus, k1, b), idCol, terms, k)
  }

  def bm25QueryWithStats(docs: DataFrame, statsRows: DataFrame,
      idCol: String, textCol: String, terms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val (dfreq, corpus) = foldStats(statsRows)
    rankPerDoc(scoredPostings(
      postings(tokenized(docs, idCol, textCol), idCol, terms),
      dfreq, corpus, k1, b), idCol, terms, k)
  }

  def bm25Queries(docs: DataFrame, idCol: String, textCol: String,
      queries: Seq[(Long, Seq[String])], k: Int, k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val (tf, dfreq, corpus) = oneShotStats(docs, idCol, textCol,
      queries.flatMap(_._2).distinct)
    val sp = docs.sparkSession
    import sp.implicits._
    val qt = queries.flatMap { case (q, ts) => ts.map(t => (q, t)) }
      .toDF("__qid", "__t")
    val total = round(queries.tail.foldLeft(
      when(col("__qid") === queries.head._1, chain(queries.head._2))) {
        case (acc, (q, ts)) => acc.when(col("__qid") === q, chain(ts))
      }, 6)
    scoredPostings(tf, dfreq, corpus, k1, b)
      .join(broadcast(qt), Seq("__t"))
      .groupBy(col("__qid"), col(idCol))
      .agg(total.as("score"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("__qid"))
          .orderBy(col("score").desc, col(idCol).asc)).cast("int"))
      .filter(col("rank") <= k)
      .select(col("__qid").as("query_id"), col(idCol), col("score"),
        col("rank"))
  }

  /** (query_id, neighbor_id, __qv, __cv) IVF candidates: nearest seed
    * cell per corpus vector by a cross join + row_number, nearest
    * nProbe cells per query the same way. */
  def ivfCandidates(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, nCells: Int, nProbe: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("__cv"))
    val centroids = corpus.orderBy(col(idCol)).limit(nCells)
      .select(col(idCol).as("cell"),
        col(vecCol).cast("array<double>").as("__centroid"))
    val wAssign = Window.partitionBy(col("neighbor_id"))
      .orderBy(col("cdist").desc, col("cell").asc)
    val assigned = c.crossJoin(broadcast(centroids))
      .withColumn("cdist",
        round(Similarity.cosine(col("__cv"), col("__centroid")), 9))
      .withColumn("rn", row_number().over(wAssign))
      .filter(col("rn") === 1)
      .select(col("neighbor_id"), col("__cv"), col("cell"))
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("__qv"))
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("qdist").desc, col("cell").asc)
    val probes = q.crossJoin(broadcast(centroids))
      .withColumn("qdist",
        round(Similarity.cosine(col("__qv"), col("__centroid")), 9))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nProbe)
      .select(col("query_id"), col("__qv"), col("cell"))
    assigned.join(broadcast(probes), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
  }

  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nCells: Int, nProbe: Int): DataFrame =
    ivfCandidates(corpus, queries, idCol, vecCol, nCells, nProbe)
      .withColumn("sim",
        round(Similarity.cosine(col("__qv"), col("__cv")), 6))
      .withColumn("rank", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("sim").desc, col("neighbor_id").asc)))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "sim", "rank")
}
