package lakebench

import graft.scale.{Curation, Dedup, Retrieval, Similarity, TextStats}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.io.File
import scala.collection.mutable

/** LLM-corpus curation over KB-sized documents: each cycle runs one
  * `Curation.curateV2` pass with q130's parameters, then BM25 and IVF
  * search batches.
  *
  * The corpus plants exact duplicates (must never survive curation),
  * near duplicates (for LSH precision), a rare "needle" term per BM25
  * query in known documents, and label-clustered embeddings. */
final class CorpusCuration(dir: File) extends Workload {
  import CorpusCuration._

  private val NDocs = 400
  private val Queries = 8
  private val SearchRounds = 2

  private var docsRows: Seq[Row] = Nil
  private var embRows: Seq[Row] = Nil
  private var exactDups = Set.empty[Long]
  private var corpusSize = 0L
  /** BM25 query id → (terms, ids of the documents holding its needle). */
  private var bm25: Seq[(Long, Seq[String], Set[Long])] = Nil
  /** IVF query batches (vector ids). */
  private var ivfBatches: Seq[Seq[Long]] = Nil
  private var truth: Map[Int, Map[Long, (Seq[Long], Set[Long])]] = Map.empty
  private var docs: DataFrame = _
  private var emb: DataFrame = _
  private val recalls = mutable.Buffer[Double]()

  def generate(seed: Long): Unit = {
    val rnd = new scala.util.Random(seed)
    val vocab = Vocab.words(rnd)
    val texts = mutable.ArrayBuffer[String]()
    val dups = mutable.Set[Long]()
    // ids divisible by 50 form q130's decontamination benchmark set;
    // planted copies and their originals are kept out of it
    def inCorpus(id: Long) = id % 50 != 0
    (0 until NDocs).foreach { id =>
      val copyOf = if (id > 10 && inCorpus(id) && rnd.nextInt(100) < 6) {
        val src = Iterator.continually(rnd.nextInt(id).toLong).find(inCorpus).get
        Some(src)
      } else None
      texts += (copyOf match {
        case Some(src) if rnd.nextBoolean() =>
          dups += id.toLong
          texts(src.toInt)
        case Some(src) =>
          // near duplicate: ~4% of the words replaced
          texts(src.toInt).split(' ').map(w =>
            if (rnd.nextInt(100) < 4) vocab.sample(rnd) else w).mkString(" ")
        case None =>
          Vocab.document(vocab, 100 + rnd.nextInt(901), rnd)
      })
    }
    // one needle term per BM25 query, planted in three fresh documents
    val free = (0 until NDocs).filter(i => inCorpus(i) && !dups(i.toLong))
    bm25 = (0 until Queries).map { q =>
      val holders = Seq.fill(3)(free(rnd.nextInt(free.size)).toLong).toSet
      val needle = s"zqx${('a' + q).toChar}needle"
      holders.foreach(h => texts(h.toInt) = s"$needle ${texts(h.toInt)}")
      // the second term is frequent, so it cannot outrank the needle
      (q.toLong, Seq(needle, vocab.frequent(rnd.nextInt(10))), holders)
    }
    // exact copies must stay byte-identical after needle planting
    dups.foreach { d =>
      val src = (0 until d.toInt).find(i => texts(i) == texts(d.toInt))
      if (src.isEmpty) dups -= d
    }
    exactDups = dups.toSet
    corpusSize = (0 until NDocs).count(i => inCorpus(i)).toLong
    val langs = Seq("en", "zh", "fr", "es", "de")
    docsRows = texts.zipWithIndex.map { case (t, i) =>
      Row(i.toLong, t, langs(rnd.nextInt(langs.size)))
    }.toSeq
    // label-clustered unit vectors, one per document
    val centroids = Seq.fill(Labels)(Array.fill(Dim)(rnd.nextDouble() - 0.5))
    embRows = (0 until NDocs).map { i =>
      val label = rnd.nextInt(Labels)
      val raw = centroids(label).map(_ + 0.35 * rnd.nextGaussian())
      val norm = math.sqrt(raw.map(x => x * x).sum)
      Row(i.toLong, raw.map(x => (x / norm).toFloat).toSeq, label)
    }
    ivfBatches = (0 until SearchRounds).map(_ =>
      Seq.fill(Queries)(rnd.nextInt(NDocs).toLong).distinct)
    truth = ivfBatches.indices.map(i => i -> ivfTruth(ivfBatches(i))).toMap
  }

  /** Per query: what `Similarity.ivfTopK` must return (the top 10 of
    * the probed cells, in rank order) and the exact top 10 over all
    * vectors (for recall). Cosines use the engine's formula and rounding
    * (dot/(√‖a‖²·√‖b‖²), HALF_UP), so the expected lists are exact. */
  private def ivfTruth(queries: Seq[Long]): Map[Long, (Seq[Long], Set[Long])] = {
    val vecs = embRows.map(_.getSeq[Float](1).map(_.toDouble).toArray).toIndexedSeq
    def cos(a: Int, b: Int, scale: Int) = {
      val (x, y) = (vecs(a), vecs(b))
      var dot, na, nb = 0.0
      x.indices.foreach { i => dot += x(i) * y(i); na += x(i) * x(i); nb += y(i) * y(i) }
      BigDecimal(dot / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    // seed centroids: the first IvfCells vectors by id; ties to the lower cell
    val cells = 0 until IvfCells
    def nearest(v: Int) = cells.sortBy(c => (-cos(v, c, 9), c))
    val members = vecs.indices.groupBy(v => nearest(v).head)
    def top10(q: Int, from: Seq[Int]) =
      from.filter(_ != q).sortBy(v => (-cos(q, v, 6), v)).take(10).map(_.toLong)
    queries.map { q =>
      val probed = nearest(q.toInt).take(IvfProbes).flatMap(members.getOrElse(_, Nil))
      q -> (top10(q.toInt, probed), top10(q.toInt, vecs.indices).toSet)
    }.toMap
  }

  def warmUp(spark: SparkSession, tracer: Tracer): Unit = {
    dir.mkdirs()
    val dPath = new File(dir, "documents").getAbsolutePath
    val ePath = new File(dir, "embeddings").getAbsolutePath
    spark.createDataFrame(java.util.Arrays.asList(docsRows: _*), DocSchema)
      .repartition(4).write.mode("overwrite").parquet(dPath)
    spark.createDataFrame(java.util.Arrays.asList(embRows: _*), EmbSchema)
      .repartition(2).write.mode("overwrite").parquet(ePath)
    docs = spark.read.parquet(dPath)
    emb = spark.read.parquet(ePath)
    // the first curation pass runs ~2x slower (codegen, JIT)
    cycle(spark, tracer)
    recalls.clear()
  }

  private def queryVecs(ids: Seq[Long]): DataFrame =
    emb.filter(col("vec_id").isin(ids: _*))

  def cycleSeconds: Double = 9.5
  def jobKinds: Set[String] = Set("curate")
  def callKinds: Set[String] = Set("bm25", "ivf")

  def summarize(spark: SparkSession, ops: Seq[Op]): Summary = {
    val curate = ops.filter(_.kind == "curate").map(_.seconds)
    val search = ops.filter(_.kind != "curate")
    Summary(Seq(Metric("curation_docs_per_s", corpusSize / Stats.median(curate), "1/s"),
        Metric("search_qps", search.size * Queries / search.map(_.seconds).sum, "1/s")),
      Seq(Metric("scale.ivf.recall_at_10", Stats.mean(recalls.toSeq), "ratio")))
  }

  /** One curateV2 pass, then the search batches. */
  def cycle(spark: SparkSession, tracer: Tracer): Seq[Op] = {
    val ops = mutable.Buffer[Op]()
    def op(kind: String, span: String)(call: => Boolean): Unit = {
      val t0 = System.nanoTime()
      val ok = try tracer.span(span)(call) catch {
        case e: Exception =>
          System.err.println(s"lakebench: $kind op failed: $e")
          false
      }
      if (!ok) System.err.println(s"lakebench: $kind output check failed")
      ops += Op(kind, (System.nanoTime() - t0) / 1e9, ok)
    }
    op("curate", "scale.Curation.curateV2")(
      checkCurated(curateV2().collect()))
    (0 until SearchRounds).foreach { round =>
      op("bm25", "scale.Retrieval.bm25Queries")(checkBm25(Retrieval.bm25Queries(
        docs, "doc_id", "text", bm25.map(q => (q._1, q._2)), k = 10).collect()))
      op("ivf", "scale.Similarity.ivfTopK")(checkIvf(round, Similarity.ivfTopK(
        emb, queryVecs(ivfBatches(round)), "vec_id", "embedding", k = 10,
        nCells = IvfCells, nProbe = IvfProbes).collect()))
    }
    ops.toSeq
  }

  private def curateV2(): DataFrame = Curation.curateV2(
    corpus = docs.filter(col("doc_id") % 50 =!= 0),
    bench = docs.filter(col("doc_id") % 50 === 0),
    embeddings = emb,
    idCol = "doc_id", textCol = "text", langCol = "lang",
    minQuality = 0.5, minJaccard = 0.7, p = MinHash,
    semK = 8, semIters = 2, semMinCosine = 0.9, semMaxNeighbors = 16,
    unitTokens = 3, decontamN = 5,
    tau = 0.7, budgetDocs = 150L,
    packBudget = 512L, packShards = 4, maxBucket = Some(1000))

  /** Survivors are distinct corpus documents and no planted exact copy
    * survives. */
  private def checkCurated(out: Array[Row]): Boolean = {
    val ids = out.map(_.getAs[Long]("doc_id"))
    ids.nonEmpty && ids.distinct.length == ids.length &&
      ids.forall(i => i % 50 != 0 && i >= 0 && i < NDocs) &&
      !ids.exists(exactDups)
  }

  /** Every query returns its needle documents first, ranks 1..n. */
  private def checkBm25(out: Array[Row]): Boolean = {
    val byQ = out.groupBy(_.getAs[Long]("query_id"))
    bm25.forall { case (q, _, holders) =>
      byQ.get(q).exists { rs =>
        val ranked = rs.sortBy(_.getAs[Int]("rank"))
        ranked.map(_.getAs[Int]("rank")).toSeq == (1 to ranked.length) &&
          ranked.length <= 10 &&
          ranked.take(holders.size).map(_.getAs[Long]("doc_id")).toSet == holders
      }
    }
  }

  /** Each query's neighbours, in rank order, are the top 10 of its
    * probed cells. Recall@10 against the exact top 10 is recorded, not
    * gated: how well seed centroids fit the clusters varies with the
    * seed. */
  private def checkIvf(round: Int, out: Array[Row]): Boolean = {
    val want = truth(round)
    val got = out.groupBy(_.getAs[Long]("query_id")).map { case (q, rs) =>
      q -> rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("neighbor_id")).toSeq
    }
    recalls += want.toSeq.map { case (q, (_, exact)) =>
      got.getOrElse(q, Nil).count(exact).toDouble / exact.size
    }.sum / want.size
    got.keySet == want.keySet && want.forall { case (q, (ivf, _)) => got(q) == ivf }
  }

  /** Kernel throughput as no-op-sink projections, and the LSH candidate
    * precision. */
  override def layerExtras(spark: SparkSession): Seq[Metric] = {
    val corpus = docs.filter(col("doc_id") % 50 =!= 0)
    val n = corpus.count().toDouble
    val probes = emb.limit(32).select(col("embedding").cast("array<double>").as("q"))
    val pairs = emb.select(col("embedding").cast("array<double>").as("e"))
      .crossJoin(broadcast(probes))
    val nPairs = pairs.count().toDouble
    def rate(rows: Double, df: => DataFrame): Double = {
      df.write.format("noop").mode("overwrite").save() // warm
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      rows / ((System.nanoTime() - t0) / 1e9)
    }
    val kernels = Seq(
      Metric("functions.minhash.rows_per_s",
        rate(n, Dedup.signatures(corpus, "doc_id", "text", MinHash)), "1/s"),
      Metric("functions.simhash.rows_per_s",
        rate(n, Dedup.simhash(corpus, "doc_id", "text", reproducible = true)), "1/s"),
      Metric("functions.quality.rows_per_s",
        rate(n, corpus.select(TextStats.qualityScore(col("text")))), "1/s"),
      Metric("functions.cosine.rows_per_s",
        rate(nPairs, pairs.select(Similarity.cosine(col("e"), col("q")))), "1/s"))
    val cands = Dedup.candidatePairs(
      Dedup.signatures(corpus, "doc_id", "text", MinHash), "doc_id", MinHash,
      Some(1000)).count().toDouble
    val (near, release) = Dedup.nearDuplicatesReleasable(corpus, "doc_id", "text",
      0.7, MinHash, Some(1000))
    val confirmed = near.count().toDouble
    release()
    kernels :+ Metric("scale.lsh.candidate_precision",
      if (cands > 0) confirmed / cands else 0.0, "ratio")
  }
}

object CorpusCuration {
  val Dim = 64
  val Labels = 10
  val IvfCells = 16
  val IvfProbes = 2
  val MinHash = Dedup.MinHashParams(k = 64, bands = 16, shingle = 3, reproducible = true)

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType), StructField("lang", StringType)))
  val EmbSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("label", IntegerType)))
}

/** A Zipf-weighted synthetic vocabulary with English stopwords, so the
  * quality gate (token length, stopword share, punctuation) passes most
  * documents and fails some. */
final class Vocab(words: IndexedSeq[String], cum: Array[Double]) {
  /** The i-th most frequent word after the stopwords. */
  def frequent(i: Int): String = words(Vocab.Stop.size + i)

  def sample(rnd: scala.util.Random): String = {
    val i = java.util.Arrays.binarySearch(cum, rnd.nextDouble() * cum.last)
    words(math.min(words.size - 1, if (i >= 0) i else -i - 1))
  }
}

object Vocab {
  val Stop = Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "was")

  def words(rnd: scala.util.Random): Vocab = {
    val letters = "abcdefghijklmnoprstuvwy"
    val made = (0 until 3000).map(_ =>
      Seq.fill(3 + rnd.nextInt(7))(letters(rnd.nextInt(letters.length))).mkString)
    val ws = (Stop ++ made).distinct.toIndexedSeq
    val cum = ws.indices.map(i => 1.0 / (i + 1)).scanLeft(0.0)(_ + _).tail.toArray
    new Vocab(ws, cum)
  }

  /** Sentences of 5-20 words; some documents get a noisy punctuation
    * tail the quality gate rejects. */
  def document(v: Vocab, nWords: Int, rnd: scala.util.Random): String = {
    val b = new StringBuilder
    var left = nWords
    while (left > 0) {
      val n = math.min(left, 5 + rnd.nextInt(16))
      b ++= Seq.fill(n)(v.sample(rnd)).mkString(" ")
      b ++= ". "
      left -= n
    }
    if (rnd.nextInt(100) < 8) b ++= Seq.fill(nWords / 3)("#@!").mkString(" ")
    b.toString.trim
  }
}
