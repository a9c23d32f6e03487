package graft

import graft.core.Tables
import graft.scale.{Retrieval, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** BM25 and IVF search against their reference forms
  * ([[SearchReference]]) on adversarial inputs, argument validation,
  * and the plan shapes of the driver-held-statistics operators. */
class SearchSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val documents =
    Tables.load(spark, SparkTestSession.sfDir, "documents")
  private lazy val embeddings =
    Tables.load(spark, SparkTestSession.sfDir, "embeddings")

  /** Rows as a sorted list of strings: doubles print exactly (17 sig
    * digits), so equal lists mean bit-identical scores. */
  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case d: Double => java.lang.Double.toString(d)
      case v => String.valueOf(v)
    }.mkString("|")).toSeq.sorted

  private def assertSame(got: DataFrame, want: DataFrame, what: String): Unit =
    assert(rows(got) === rows(want), what)

  // ---- BM25 ---------------------------------------------------------------

  // a term repeated within one document (1, 6, 7), a term in no
  // document ("unicorn", df = 0), null and empty text (3, 4), mixed case
  // (7) and a document matching no query term (5)
  private lazy val bm25Docs = Seq[(Long, String)](
    (1L, "spark spark spark join"),
    (2L, "join vector scan"),
    (3L, null),
    (4L, ""),
    (5L, "nothing relevant here at all"),
    (6L, "scan scan vector"),
    (7L, "Spark SQL JOIN join join"),
    (8L, "vector"),
    (9L, "spark of a join between scans and vectors")).toDF("doc_id", "text")

  private val terms = Seq("spark", "join", "unicorn", "scan")
  private val absent = Seq("unicorn", "dragon")
  private val specs = Seq(
    0L -> Seq("spark", "join"),
    1L -> absent,
    2L -> Seq("scan", "join", "spark", "join"),
    3L -> Seq("vector"))

  test("bm25 / bm25Query / bm25Queries equal the postings-and-broadcast " +
      "reference on repeated, absent and null-text inputs") {
    for (docs <- Seq(bm25Docs, documents); k <- Seq(2, 10)) {
      assertSame(Retrieval.bm25(docs, "doc_id", "text", terms, k),
        SearchReference.bm25(docs, "doc_id", "text", terms, k), s"bm25 k=$k")
      for (ts <- Seq(terms, absent, Seq("join", "join", "vector")))
        assertSame(Retrieval.bm25Query(docs, "doc_id", "text", ts, k),
          SearchReference.bm25Query(docs, "doc_id", "text", ts, k),
          s"bm25Query $ts k=$k")
      assertSame(Retrieval.bm25Queries(docs, "doc_id", "text", specs, k),
        SearchReference.bm25Queries(docs, "doc_id", "text", specs, k),
        s"bm25Queries k=$k")
    }
    assert(Retrieval.bm25Query(bm25Docs, "doc_id", "text", absent, 10)
      .isEmpty, "a query whose terms are all absent matches nothing")
  }

  test("stats deltas and the WithStats forms equal the reference, " +
      "including terms missing from the maintained stats") {
    val all = terms :+ "vector"
    def deltas(f: (DataFrame, String, String, Seq[String]) => DataFrame,
        docs: DataFrame) =
      f(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", all)
        .unionByName(f(docs.filter(col("doc_id") % 2 === 1), "doc_id",
          "text", all))
    for (docs <- Seq(bm25Docs, documents)) {
      val stats = deltas(Retrieval.bm25StatsDelta, docs)
      assertSame(stats, deltas(SearchReference.bm25StatsDelta, docs),
        "bm25StatsDelta")
      // stats from the even batch only: terms held only by odd
      // documents have no df row and must score nowhere
      val partial = Retrieval.bm25StatsDelta(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", all)
      // stats of an empty batch: N = 0, Σdl null, no df rows
      val empty = Retrieval.bm25StatsDelta(docs.limit(0), "doc_id", "text", all)
      for (st <- Seq(stats, partial, empty); ts <- Seq(all, absent)) {
        assertSame(
          Retrieval.bm25WithStats(docs, st, "doc_id", "text", ts, 3),
          SearchReference.bm25WithStats(docs, st, "doc_id", "text", ts, 3),
          s"bm25WithStats $ts")
        assertSame(
          Retrieval.bm25QueryWithStats(docs, st, "doc_id", "text", ts, 3),
          SearchReference.bm25QueryWithStats(docs, st, "doc_id", "text",
            ts, 3), s"bm25QueryWithStats $ts")
      }
    }
  }

  test("bm25Queries rejects duplicate query ids and empty term lists") {
    val dup = intercept[IllegalArgumentException](Retrieval.bm25Queries(
      bm25Docs, "doc_id", "text", Seq(0L -> Seq("spark"), 0L -> Seq("scan")),
      k = 5))
    assert(dup.getMessage.contains("duplicate query ids"))
    val empty = intercept[IllegalArgumentException](Retrieval.bm25Queries(
      bm25Docs, "doc_id", "text", Seq(0L -> Seq("spark"), 1L -> Nil), k = 5))
    assert(empty.getMessage.contains("without terms"))
  }

  test("WithStats forms reject stats rows without corpus totals") {
    val noCorpus = Seq(("df", "spark", Option(2L))).toDF("stat", "key", "n")
    intercept[IllegalArgumentException](Retrieval.bm25WithStats(bm25Docs,
      noCorpus, "doc_id", "text", terms, k = 5))
  }

  test("bm25 plans: no broadcast and no exchange keyed on the term " +
      "column; scores are projections over the materialized base") {
    for (df <- Seq(
        Retrieval.bm25(documents, "doc_id", "text", terms, 10),
        Retrieval.bm25Query(documents, "doc_id", "text", terms, 10),
        Retrieval.bm25Queries(documents, "doc_id", "text", specs, 10))) {
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastExchange"),
        s"stats must be literals, not broadcast frames:\n$plan")
      assert(!plan.contains("hashpartitioning(__t"),
        s"no postings or df aggregate may shuffle on the term:\n$plan")
    }
  }

  // ---- IVF ----------------------------------------------------------------

  // seeds are the first nCells ids: 0 is null, 1-3 are the unit axes,
  // so 4 ties exactly between cells 1 and 2 and 8 between all three;
  // 5 and 100 are zero vectors (NaN cosines); 6 has a different
  // dimension and 13 and 102 are null (null cosines)
  private lazy val ivfCorpus = Seq[(Long, Seq[Double])]((0L, null),
    (1L, Seq(1.0, 0.0, 0.0)), (2L, Seq(0.0, 1.0, 0.0)),
    (3L, Seq(0.0, 0.0, 1.0)), (4L, Seq(1.0, 1.0, 0.0)),
    (5L, Seq(0.0, 0.0, 0.0)), (6L, Seq(1.0, 0.0)),
    (7L, Seq(2.0, 2.0, 1.0)), (8L, Seq(0.5, 0.5, 0.5)),
    (9L, Seq(3.0, 1.0, 2.0)), (10L, Seq(1.0, 2.0, 3.0)),
    (11L, Seq(-1.0, 0.0, 0.0)), (12L, Seq(0.0, -1.0, 1.0)), (13L, null))
    .toDF("vec_id", "embedding")

  private lazy val ivfQueries = ivfCorpus.filter(col("vec_id").isin(4, 5, 6, 9))
    .unionByName(Seq[(Long, Seq[Double])]((100L, Seq(0.0, 0.0, 0.0)),
      (101L, Seq(1.0, 1.0, 1.0)), (102L, null)).toDF("vec_id", "embedding"))

  test("ivfTopK equals the cross-join/window reference on cosine ties, " +
      "zero, null and mis-dimensioned vectors, and nProbe >= nCells") {
    for ((nCells, nProbe) <- Seq((4, 1), (4, 2), (4, 3), (4, 6), (1, 1),
        (3, 4), (20, 2)); k <- Seq(1, 3, 20))
      assertSame(
        Similarity.ivfTopK(ivfCorpus, ivfQueries, "vec_id", "embedding", k,
          nCells, nProbe),
        SearchReference.ivfTopK(ivfCorpus, ivfQueries, "vec_id", "embedding",
          k, nCells, nProbe), s"nCells=$nCells nProbe=$nProbe k=$k")
    val q = embeddings.filter(col("vec_id") < 5)
    assertSame(
      Similarity.ivfTopK(embeddings, q, "vec_id", "embedding", 10, 16, 2),
      SearchReference.ivfTopK(embeddings, q, "vec_id", "embedding", 10, 16, 2),
      "embeddings table")
    assert(Similarity.ivfTopK(ivfCorpus.limit(0), ivfQueries, "vec_id",
      "embedding", 3, 3, 1).isEmpty, "an empty corpus has no neighbors")
  }

  test("ivfTopK and ivfRecall require k, nCells and nProbe >= 1") {
    for ((k, nCells, nProbe) <- Seq((0, 3, 1), (3, 0, 1), (3, 3, 0))) {
      intercept[IllegalArgumentException](Similarity.ivfTopK(ivfCorpus,
        ivfQueries, "vec_id", "embedding", k, nCells, nProbe))
      intercept[IllegalArgumentException](Similarity.ivfRecall(ivfCorpus,
        ivfQueries, "vec_id", "embedding", k, nCells, nProbe, 0.0))
    }
  }

  test("IVF plans: no nested-loop join assigns or probes cells and no " +
      "exchange is keyed on neighbor_id") {
    val q = embeddings.filter(col("vec_id") < 5)
    def plan(df: DataFrame): String = {
      df.collect()
      df.queryExecution.executedPlan.toString
    }
    def nestedLoops(p: String) =
      "CartesianProduct|BroadcastNestedLoopJoin".r.findAllIn(p).size
    val topK = plan(Similarity.ivfTopK(embeddings, q, "vec_id", "embedding",
      10, 16, 2))
    assert(nestedLoops(topK) === 0, topK)
    assert(!topK.contains("hashpartitioning(neighbor_id"), topK)
    // the recall gate keeps its own (the brute-force truth's broadcast
    // queries, the one-row mean-recall totals): ivfRecall must have no
    // more than lshRecall, whose banded candidates join on buckets
    val recall = plan(Similarity.ivfRecall(embeddings, q, "vec_id",
      "embedding", 10, 16, 2, 0.0))
    val lsh = plan(Similarity.lshRecall(embeddings, q, "vec_id", "embedding",
      10, dim = 64, nPlanes = 4, bands = 2, seed = 7L, minMeanRecall = 0.0))
    assert(nestedLoops(recall) === nestedLoops(lsh), recall)
    assert(!recall.contains("hashpartitioning(neighbor_id"), recall)
  }
}
