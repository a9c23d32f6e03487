package graft

import graft.core.Tables
import graft.functions.{RollingHash, Sentiment}
import graft.scale.{Dedup, KMeans, Multimodal, Similarity, TextStats}
import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ScaleSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val docs = Tables.load(spark, SparkTestSession.sfDir, "documents")

  test("exactDedup collapses whitespace/case variants to the smallest id") {
    val df = Seq(
      (1L, "Hello  World"), (2L, "hello world"), (3L, "HELLO WORLD  "),
      (4L, "different")).toDF("doc_id", "text")
    val kept = Dedup.exactDedup(df, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq === Seq(1L, 4L))
  }

  test("minhash LSH finds planted near-duplicates with high estimated jaccard") {
    // plant: doc 9001/9002 = doc 1/2 with one word changed
    val base = docs.filter(col("doc_id") < 50)
    val planted = base.filter(col("doc_id").isin(1L, 2L))
      .withColumn("doc_id", col("doc_id") + 9000L)
      .withColumn("text", concat(col("text"), lit(" extraword")))
    val corpus = base.unionByName(planted)
    val pairs = Dedup.nearDuplicates(corpus, "doc_id", "text",
      minJaccard = 0.6, Dedup.MinHashParams(k = 64, bands = 32, shingle = 2))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet // (id_a, id_b)
    assert(pairs.contains((1L, 9001L)) && pairs.contains((2L, 9002L)))
  }

  test("hot-bucket guard recall at the shipping cap (1000): planted " +
      "near-dups inside an overloaded bucket family are recovered via " +
      "their private bands; in-family boilerplate pairs are dropped") {
    // A 30-token template cloned 1050× overloads EVERY band bucket the
    // family shares (population > 1000, the Curation pipelines' cap).
    // 20 planted pairs are template+2 unique tokens, identical WITHIN
    // the pair (jaccard 1.0): most of their bands collide with the hot
    // family (dropped), but any band whose minhash samples a perturbed
    // shingle forms a private 2-member bucket — the recovery path the
    // boundBuckets scaladoc argues. This measures it.
    val tmpl = (0 until 30).map(i => s"tok$i").mkString(" ")
    val clones = spark.range(1050)
      .select((col("id") + 10000L).as("doc_id"), lit(tmpl).as("text"))
    val planted = (0 until 20).flatMap { j =>
      val t = s"$tmpl pa$j pb$j"
      Seq((20000L + 2 * j, t), (20001L + 2 * j, t))
    }.toDF("doc_id", "text")
    // the degradation edge: pairs ONE token away from the boilerplate
    // (a single new shingle) — each band escapes the hot bucket only
    // if one of its 4 minhash rows samples that shingle, so some of
    // these pairs are expected to agree with the family in all 16
    // bands and be lost. This measures how sharp the cliff is.
    val grazing = (0 until 20).flatMap { j =>
      val t = s"$tmpl pz$j"
      Seq((21000L + 2 * j, t), (21001L + 2 * j, t))
    }.toDF("doc_id", "text")
    val corpus = docs.filter(col("doc_id") < 200).select("doc_id", "text")
      .unionByName(clones).unionByName(planted).unionByName(grazing)
    val pairs = Dedup.guardRecallPairs(corpus, "doc_id", "text",
      minJaccard = 0.4, Dedup.MinHashParams(), maxBucket = 1000)
      .persist()
    // the at-risk planted pairs: both ids in the planted range, same j
    val plantedRecall = pairs
      .filter(col("id_a") >= 20000L && col("id_a") < 21000L &&
        col("id_b") === col("id_a") + 1 &&
        (col("id_a") - 20000L) % 2 === 0)
      .agg(count(lit(1)).as("n"), avg(col("found").cast("double")).as("r"))
      .head()
    assert(plantedRecall.getLong(0) === 20L,
      "all 20 planted pairs must be true near-dups")
    assert(plantedRecall.getDouble(1) >= 0.9,
      s"planted-pair recall ${plantedRecall.getDouble(1)} under the floor")
    val grazingRecall = pairs
      .filter(col("id_a") >= 21000L && col("id_b") === col("id_a") + 1 &&
        (col("id_a") - 21000L) % 2 === 0)
      .agg(count(lit(1)).as("n"), avg(col("found").cast("double")).as("r"))
      .head()
    assert(grazingRecall.getLong(0) === 20L)
    // the analytic expectation here is ~0.9 (per band, P(escape) =
    // 1-(28/29)^4 ≈ 0.13; P(no private band in 16) ≈ 0.11); the
    // deterministic seed-42 outcome measures 1.0 — floor well below
    assert(grazingRecall.getDouble(1) >= 0.85,
      s"grazing-pair recall ${grazingRecall.getDouble(1)} under the floor")
    val overall = pairs
      .agg(count(lit(1)).as("n"), avg(col("found").cast("double")).as("r"))
      .head()
    info(f"planted at-risk pair recall (2-token divergence): " +
      f"${plantedRecall.getDouble(1)}%.3f (${plantedRecall.getLong(0)} pairs)")
    info(f"grazing pair recall (1-token divergence): " +
      f"${grazingRecall.getDouble(1)}%.3f (${grazingRecall.getLong(0)} pairs)")
    info(f"overall recall incl. intentionally-dropped boilerplate pairs: " +
      f"${overall.getDouble(1)}%.4f over ${overall.getLong(0)} true pairs")
    // binding side: clone-family pairs agree ONLY in overloaded buckets
    // and are dropped by design — zero survive
    val famFound = pairs
      .filter(col("id_a") >= 10000L && col("id_b") < 20000L && col("found"))
      .count()
    assert(famFound === 0L,
      "boilerplate in-family pairs must not survive the guard")
    pairs.unpersist()
  }

  test("LSH candidates do not miss high-jaccard pairs (recall vs exact, j>=0.8)") {
    val sub = docs.filter(col("doc_id") < 100)
    val sets = sub.select(col("doc_id"), Dedup.shingleSet(col("text"), 2).as("t"))
    val a = sets.select(col("doc_id").as("id_a"), col("t").as("ta"))
    val b = sets.select(col("doc_id").as("id_b"), col("t").as("tb"))
    val exact = a.join(b, col("id_a") < col("id_b"))
      .withColumn("j", Dedup.jaccard(col("ta"), col("tb")))
      .filter(col("j") >= 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val found = Dedup.nearDuplicates(sub, "doc_id", "text", minJaccard = 0.8,
      Dedup.MinHashParams(k = 64, bands = 32, shingle = 2))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // bands=32, r=2 → collision prob at j=0.8 is 1-(1-0.64)^32 ≈ 1-4e-15
    assert(exact.nonEmpty || found.isEmpty) // sanity
    assert((exact -- found).isEmpty,
      s"LSH missed ${(exact -- found).size} of ${exact.size} exact pairs")
  }

  test("simhash: identical text → distance 0; near-dup pairs verified by hamming") {
    val df = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "zeta eta theta iota")).toDF("doc_id", "text")
    val sigs = Dedup.simhash(df, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long)].collect()
    assert(sigs(0)._2 === sigs(1)._2)
    val pairs = Dedup.simhashPairs(df, "doc_id", "text", maxHamming = 0)
      .as[(Long, Long, Int)].collect()
    assert(pairs.map(p => (p._1, p._2)).toSet === Set((1L, 2L)))
  }

  test("simhash fused == composed, both hashers, on real docs + edges") {
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents")
      .filter(col("doc_id") < 120).select("doc_id", "text")
      .unionByName(Seq((9001L, ""), (9002L, "   "), (9003L, "one"),
        (9004L, "UPPER lower 123 mixed"), (9005L, null.asInstanceOf[String]))
        .toDF("doc_id", "text"))
    for (repro <- Seq(false, true); nBits <- Seq(60, 64)) {
      val fused = Dedup.simhash(docs, "doc_id", "text", repro, nBits)
        .as[(Long, Long)].collect().sorted.toSeq
      val composed = Dedup.simhashComposed(docs, "doc_id", "text", repro,
        nBits).as[(Long, Long)].collect().sorted.toSeq
      assert(fused === composed,
        s"fused != composed for reproducible=$repro nBits=$nBits")
    }
  }

  test("brute-force ANN: self-similarity 1, symmetric, rank ordering correct") {
    val emb = Tables.load(spark, SparkTestSession.sfDir, "embeddings")
    val top = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") === 0),
      "vec_id", "embedding", k = 20).collect()
    val sims = top.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("sim"))
    assert(sims.toSeq === sims.sorted.reverse.toSeq) // descending by rank
    assert(sims.forall(s => s >= -1.0 && s <= 1.0))
  }

  test("LSH ANN returns a subset of brute-force candidates with identical sims") {
    val emb = Tables.load(spark, SparkTestSession.sfDir, "embeddings")
    val q = emb.filter(col("vec_id") < 5)
    val brute = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 1000)
      .select("query_id", "neighbor_id", "sim")
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, s) => (a, b) -> s }.toMap
    val lsh = Similarity.lshTopK(emb, q, "vec_id", "embedding", k = 10,
      dim = 64, nPlanes = 4)
      .select("query_id", "neighbor_id", "sim")
      .as[(Long, Long, Double)].collect()
    assert(lsh.nonEmpty)
    lsh.foreach { case (a, b, s) => assert(brute((a, b)) === s) }
  }

  test("IVF ANN: sims identical to brute force; nProbe=2 finds the top-1 for most queries") {
    val emb = Tables.load(spark, SparkTestSession.sfDir, "embeddings")
    val q = emb.filter(col("vec_id") < 5)
    val brute = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 1000)
      .select("query_id", "neighbor_id", "sim")
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, s) => (a, b) -> s }.toMap
    val ivf = Similarity.ivfTopK(emb, q, "vec_id", "embedding", k = 10,
      nCells = 16, nProbe = 2)
      .select("query_id", "neighbor_id", "sim")
      .as[(Long, Long, Double)].collect()
    assert(ivf.nonEmpty)
    ivf.foreach { case (a, b, s) => assert(brute((a, b)) === s) }
  }

  test("native cosine expression is bit-identical to the composed HOF form") {
    val emb = Tables.load(spark, SparkTestSession.sfDir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val pairs = emb.limit(100).crossJoin(
      emb.limit(100).select(col("v").as("w")))
    val mism = pairs.select(
      Similarity.cosine(col("v"), col("w")).as("native"),
      Similarity.cosineComposed(col("v"), col("w")).as("composed"))
      .filter(col("native") =!= col("composed")).count()
    assert(mism === 0L)
  }

  test("native md5Hash60 is bit-identical to the conv/substring/md5 " +
    "composed form") {
    // corpus text + shingle-shaped strings + edge cases (empty string,
    // high digest bytes, unicode)
    val samples = docs.select(col("text").as("s"))
      .unionByName(docs.select(
        concat_ws(" ", slice(split(lower(col("text")), "[^a-z]+"), 1, 3))
          .as("s")))
      .unionByName(Seq("", "a", "ü 雪 ∂", "qs:x").toDF("s"))
    val mism = samples.select(
      Dedup.md5Hash60(col("s")).as("native"),
      Dedup.md5Hash60Composed(col("s")).as("composed"))
      .filter(col("native") =!= col("composed")).count()
    assert(mism === 0L)
  }

  test("fused text/vector expressions are bit-identical to their " +
      "composed HOF forms (r14 optimization pins)") {
    // corpus text + adversarial edges: empty, whitespace-only, unicode
    // letters (must NOT tokenize as [a-z]), punctuation runs, short
    // docs (shingle slice truncation), repeated tokens (distinct +
    // stopword duplicate counting)
    val samples = docs.select(col("text").as("s")).unionByName(Seq(
      "", "   ", "a", "The the THE the", "ü Ül 雪-∂ foo",
      "a b", "a b c d a b c", "x!!!y??z", "tab\tand\nnewline",
      "ONLY UPPER", "1234 5678").toDF("s"))
    import graft.scale.TextStats
    def mism(n: org.apache.spark.sql.Column,
        c: org.apache.spark.sql.Column): Long =
      samples.select(n.as("n"), c.as("c"))
        .filter(!(col("n") <=> col("c"))).count()
    assert(mism(TextStats.tokens(col("s")),
      TextStats.tokensComposed(col("s"))) === 0L, "tokens")
    assert(mism(TextStats.tokenCountWs(col("s")),
      TextStats.tokenCountWsComposed(col("s"))) === 0L, "tokenCountWs")
    assert(mism(TextStats.punctRatio(col("s")),
      TextStats.punctRatioComposed(col("s"))) === 0L, "punctRatio")
    assert(mism(TextStats.stopwordRatio(col("s")),
      TextStats.stopwordRatioComposed(col("s"))) === 0L, "stopwordRatio")
    assert(mism(TextStats.meanTokenLen(col("s")),
      TextStats.meanTokenLenComposed(col("s"))) === 0L, "meanTokenLen")
    // fused tokens-in-set == filter(toks, isInCollection) (duplicates
    // and order kept; empty set; term absent from every doc)
    Seq(Seq("the", "a", "b", "and"), Seq("zzz_absent"), Seq("x", "y"))
      .foreach { terms =>
        assert(mism(
          graft.functions.TextFns.tokensInSetCol(
            TextStats.tokens(col("s")), terms),
          org.apache.spark.sql.functions.filter(
            TextStats.tokensComposed(col("s")),
            t => t.isInCollection(terms))) === 0L, s"tokensInSet($terms)")
      }
    // fused ws_chunks == unitChunks(filter(split(text, \s+)), n):
    // several widths on the corpus (covers multi-space/newline shapes)
    Seq(1, 3, 5, 50).foreach { n =>
      assert(mism(
        graft.functions.TextFns.wsChunksCol(col("s"), n),
        Dedup.unitChunks(
          filter(split(col("s"), "\\s+"), t => t =!= ""), n))
        === 0L, s"wsChunks($n)")
    }
    // shingles at several widths, incl. width > token count
    Seq(1, 3, 5, 50).foreach { n =>
      assert(mism(
        Dedup.shinglesFromTokens(TextStats.tokens(col("s")), n),
        Dedup.shinglesFromTokensComposed(
          TextStats.tokensComposed(col("s")), n)) === 0L, s"shingles($n)")
    }
    // minhash signatures: fused per-doc pass == explode + k-min agg,
    // both hash modes, on the corpus shingle sets (row sets AND values)
    Seq(true, false).foreach { repro =>
      val p = Dedup.MinHashParams(k = 16, bands = 4, shingle = 3,
        reproducible = repro)
      val sets = docs
        .select(col("doc_id"), TextStats.tokens(col("text")).as("tk"))
        .select(col("doc_id").as("__id"),
          Dedup.shinglesFromTokens(col("tk"), p.shingle).as("__set"))
      val fused = Dedup.signaturesFromSets(
        sets.select(col("__id").as("doc_id"), col("__set")), "doc_id", p)
      val agg = Dedup.signaturesFromSetsComposed(
        sets.select(col("__id").as("doc_id"), col("__set")), "doc_id", p)
      assert(fused.count() === agg.count(), s"sig row count repro=$repro")
      val joinedMism = fused.withColumnRenamed("sig", "f")
        .join(agg.withColumnRenamed("sig", "a"), Seq("doc_id"))
        .filter(!(col("f") <=> col("a"))).count()
      assert(joinedMism === 0L, s"sig values repro=$repro")
    }
    // quantize: corpus vectors + negative/tiny/huge/tie edges
    val emb = Tables.load(spark, SparkTestSession.sfDir, "embeddings")
      .select(col("embedding").cast("array<double>").as("v"))
      .unionByName(Seq(
        Seq(-1.5, 2.5, -2.5), Seq(1e-300, -1e300),
        Seq(0.49999999999, -0.5)).toDF("v"))
    val qm = emb.select(
      Similarity.quantizeInt8(col("v")).as("n"),
      Similarity.quantizeInt8Composed(col("v")).as("c"))
      .filter(!(col("n") <=> col("c"))).count()
    assert(qm === 0L, "quantizeInt8")
    // zero-vector parity: BOTH forms fail loudly (ANSI divide-by-zero
    // in the composed chain; the fused expression mirrors it) — a
    // contract-violating input must never silently quantize
    val zero = Seq(Seq(0.0, 0.0)).toDF("v")
    intercept[Exception] {
      zero.select(Similarity.quantizeInt8Composed(col("v"))).collect()
    }
    intercept[Exception] {
      zero.select(Similarity.quantizeInt8(col("v"))).collect()
    }
  }

  test("fused PQ encode/ADC and sign-bucket expressions are " +
      "bit-identical to their composed HOF forms (r15 optimization pins)") {
    val dim = 64; val m = 8; val sub = 8; val ksub = 16
    val embRaw = Tables.load(spark, SparkTestSession.sfDir, "embeddings")
      .select(col("embedding").cast("array<double>").as("v"))
    val seeds: Seq[Seq[Double]] = embRaw.limit(ksub).collect()
      .map(_.getSeq[Double](0).toSeq).toSeq
    val cb = (0 until m).map(s => seeds.map(_.slice(s * sub, (s + 1) * sub)))
    // corpus vectors + adversarial edges: a seed copy (exact-tie dots),
    // all-zero and ±0.0 (tie across every centroid), a SHORT vector
    // (zip_with null-pad → null code/term at the truncated subspace),
    // a null element, a NaN element (NaN dots: greatest, tie → code 0)
    val edges = Seq(
      seeds.head.map(Option(_)),
      Seq.fill(dim)(Option(0.0)),
      Seq.fill(dim)(Option(-0.0)),
      Seq.fill(dim - 1)(Option(1.0)),
      Option(1.0) +: Option.empty[Double] +: Seq.fill(dim - 2)(Option(2.0)),
      Option(Double.NaN) +: Seq.fill(dim - 1)(Option(0.25))).toDF("v")
      .select(col("v").cast("array<double>").as("v"))
    val samples = embRaw.unionByName(edges)
    import graft.functions.VectorMath
    def mism(n: org.apache.spark.sql.Column,
        c: org.apache.spark.sql.Column): Long =
      samples.select(n.as("n"), c.as("c"))
        .filter(!(col("n") <=> col("c"))).count()
    // encode
    assert(mism(VectorMath.pqEncodeCol(col("v"), cb, sub),
      Similarity.pqCodesComposed(col("v"), cb, sub)) === 0L, "pqEncode")
    // ADC: codes from the composed encode (valid + null-bearing rows),
    // query vector = the row's own vector
    val withCodes = samples.select(col("v"),
      Similarity.pqCodesComposed(col("v"), cb, sub).as("codes"))
    val adcMism = withCodes.select(
      VectorMath.pqAdcCol(col("v"), col("codes"), cb, sub).as("n"),
      Similarity.pqAdcComposed(col("v"), col("codes"), cb, sub).as("c"))
      .filter(!(col("n") <=> col("c"))).count()
    assert(adcMism === 0L, "pqAdc")
    // out-of-range code parity: composed throws (ANSI element_at),
    // fused throws too — never a silent wrong score
    val badCodes = samples.limit(1).select(col("v"),
      array((0 until m).map(_ => lit(ksub)): _*).as("codes"))
    intercept[Exception] {
      badCodes.select(Similarity.pqAdcComposed(
        col("v"), col("codes"), cb, sub)).collect()
    }
    intercept[Exception] {
      badCodes.select(VectorMath.pqAdcCol(
        col("v"), col("codes"), cb, sub)).collect()
    }
    // sign-bucket, several widths/seeds
    Seq((8, 42L), (6, 43L), (1, 7L)).foreach { case (nPlanes, seed) =>
      assert(mism(Similarity.lshBucket(col("v"), dim, nPlanes, seed),
        Similarity.lshBucketComposed(col("v"), dim, nPlanes, seed)) === 0L,
        s"signBucket($nPlanes, $seed)")
    }
  }

  test("fused any-cosine-ge verdict is bit-identical to the composed " +
      "exists chain (expression + semanticDups operator)") {
    import graft.functions.VectorMath
    // expression-level adversarial neighbor lists: match, no-match,
    // empty, dim-mismatched neighbor, zero-vector self (NaN cosine —
    // Spark compares NaN greatest, so it MATCHES), zero neighbor,
    // negative-cosine rounding at the threshold boundary
    val rows: Seq[(Seq[Seq[Double]], Seq[Double])] = Seq(
      (Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)), Seq(1.0, 0.0)),
      (Seq(Seq(-1.0, 0.0)), Seq(1.0, 0.0)),
      (Seq.empty[Seq[Double]], Seq(1.0, 0.0)),
      (Seq(Seq(1.0, 0.0, 0.0)), Seq(1.0, 0.0)),
      (Seq(Seq(1.0, 0.0)), Seq(0.0, 0.0)),
      (Seq(Seq(0.0, 0.0)), Seq(1.0, 0.0)),
      (Seq(Seq(0.9000004, 0.43589), Seq(0.9, 0.4358899)), Seq(1.0, 0.0)))
    val pf = rows.toDF("prev", "q")
      .select(col("prev").cast("array<array<double>>").as("prev"),
        col("q").cast("array<double>").as("q"))
    Seq(0.9, 0.0, -0.5).foreach { min =>
      val m = pf.select(
        VectorMath.anyCosineGeCol(col("prev"), col("q"), min).as("n"),
        when(exists(col("prev"), v =>
          round(Similarity.cosine(col("q"), v), 6) >= min), 1)
          .otherwise(0).as("c"))
        .filter(!(col("n") <=> col("c"))).count()
      assert(m === 0L, s"anyCosineGe($min)")
    }
    // operator-level: fused semanticDups == composed form on the
    // corpus embeddings (row sets and values)
    val vecs = Tables.load(spark, SparkTestSession.sfDir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val f = KMeans.semanticDups(vecs, "vec_id", "v", 4, 2, 0.9, 8)
    val c = KMeans.semanticDupsComposed(vecs, "vec_id", "v", 4, 2, 0.9, 8)
    assert(f.unionByName(c).distinct().count() === f.count(),
      "semanticDups fused == composed")
  }

  test("fused best-cell ranking is bit-identical to the composed " +
      "greatest(struct) chain") {
    import graft.functions.VectorMath
    import graft.scale.Similarity
    // adversarial centroid set: an exact duplicate pair (round-9 tie →
    // smaller cell id must win), plus distinct cells; adversarial rows:
    // tie row, zero vector (NaN cosine everywhere → min cell, NaN sim),
    // dimension-mismatched vector (all candidates null → min cell,
    // null sim), and a null vector
    val cent: Seq[(Long, Seq[Double])] = Seq(
      (7L, Seq(1.0, 0.0)), (3L, Seq(1.0, 0.0)),
      (9L, Seq(0.0, 1.0)), (11L, Seq(0.5, 0.5)))
    val qs: Seq[Option[Seq[Double]]] = Seq(
      Some(Seq(1.0, 0.0)), Some(Seq(0.0, 1.0)), Some(Seq(0.0, 0.0)),
      Some(Seq(0.3, 0.9)), Some(Seq(-0.6, 0.4)),
      Some(Seq(1.0, 2.0, 3.0)), None)
    val df = qs.toDF("q").select(col("q").cast("array<double>").as("__q"))
    val cands = cent.map { case (cellId, ce) =>
      val cos = Similarity.cosine(col("__q"), lit(ce.toArray))
      struct(round(cos, 9).as("__d"), lit(-cellId).as("__nc"),
        round(cos, 6).as("sim"), lit(cellId).as("cell"))
    }
    val m = df.select(
      VectorMath.bestCellCol(col("__q"), cent).as("f"),
      greatest(cands: _*).as("c"))
      .filter(!(col("f.cell") <=> col("c.cell")) ||
        !(col("f.sim") <=> col("c.sim")))
      .count()
    assert(m === 0L, "bestCell fused == composed")
    // single-candidate form (composed skips greatest entirely)
    val one = cent.take(1)
    val m1 = df.select(
      VectorMath.bestCellCol(col("__q"), one).as("f"),
      cands.head.as("c"))
      .filter(!(col("f.cell") <=> col("c.cell")) ||
        !(col("f.sim") <=> col("c.sim")))
      .count()
    assert(m1 === 0L, "bestCell k=1 fused == composed")
  }

  test("sentiment builtin === udf on the corpus (occurrence semantics)") {
    val both = docs.select(
      Sentiment.scoreBuiltin(col("text")).as("b"),
      Sentiment.scoreUdf(col("text")).as("u"))
    assert(both.filter(col("b") =!= col("u")).count() === 0)
    // occurrence counting, not distinct: "fast fast slow" → (2-1)/3
    val s = Seq("fast fast slow").toDF("t")
      .select(Sentiment.scoreBuiltin(col("t"))).first().getDouble(0)
    assert(s === 0.3333)
  }

  test("rolling-hash expression matches reference impl and is codegen-stable") {
    val mism = docs.select(
      RollingHash.fingerprint64(col("text")).as("e"),
      udf((t: String) => RollingHash.hashBytes(
        t.toLowerCase.replaceAll("\\s+", " ").trim.getBytes("UTF-8")))
        .apply(col("text")).as("r"))
      .filter(col("e") =!= col("r")).count()
    assert(mism === 0L)
    assert(RollingHash.hashBytes("ab".getBytes) === 31L * 97 + 98)
  }

  test("multimodal decode: features derive from bytes deterministically") {
    val media = Multimodal.packText(docs.limit(10), "doc_id", "text")
    assert(media.schema.map(_.name) === Seq("media_id", "media_type", "media"))
    val feats = Multimodal.decodeFeatures(media).collect()
    assert(feats.length === 10)
    feats.foreach { r =>
      val n = r.getAs[Int]("n_bytes")
      assert(r.getAs[Int]("width") === n % 640 + 1)
      assert(r.getAs[Int]("height") === n % 480 + 1)
      assert(r.getAs[Long]("checksum") > 0)
    }
  }

  test("deterministic split: stable across runs, duplicate content lands together, ~80/10/10") {
    val s1 = graft.scale.Sampling.deterministicSplit(docs, "text")
    val s2 = graft.scale.Sampling.deterministicSplit(docs, "text")
    assert(s1.select("doc_id", "split").except(
      s2.select("doc_id", "split")).count() === 0)
    // duplicated content gets the same split regardless of id
    val dup = docs.limit(20).withColumn("doc_id", col("doc_id") + 5000L)
    val joined = graft.scale.Sampling.deterministicSplit(
      docs.limit(20).unionByName(dup), "text")
      .groupBy("text").agg(countDistinct(col("split")).as("n"))
    assert(joined.filter(col("n") > 1).count() === 0)
    val frac = s1.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = frac.values.sum.toDouble
    assert(frac("train") / n > 0.7 && frac("train") / n < 0.9)
  }

  test("stratified sample respects per-stratum fractions (0 → empty, 1 → all)") {
    val sampled = graft.scale.Sampling.stratifiedSample(docs, "lang",
      Map("en" -> 0.0, "de" -> 1.0))
    val en = sampled.filter(col("lang") === "en").count()
    val de = sampled.filter(col("lang") === "de").count()
    assert(en === 0L)
    assert(de === docs.filter(col("lang") === "de").count())
  }

  test("deterministic stratified sample: 0 → empty, 1 → all, " +
      "repartition-stable membership") {
    val fr = Map("en" -> 0.0, "de" -> 1.0, "es" -> 0.4, "zh" -> 0.4,
      "fr" -> 0.4)
    val s = graft.scale.Sampling.stratifiedDeterministic(
      docs, "lang", "text", fr)
    assert(s.filter(col("lang") === "en").count() === 0L)
    assert(s.filter(col("lang") === "de").count() ===
      docs.filter(col("lang") === "de").count())
    val ids = s.select("doc_id").collect().map(_.getLong(0)).sorted
    val ids2 = graft.scale.Sampling.stratifiedDeterministic(
      docs.repartition(7), "lang", "text", fr)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq === ids2.toSeq, "membership must be content-pure")
  }

  test("lang-id picks the language with most marker hits; und when none") {
    val df = Seq("der hund und die katze ist da",
      "the cat and the dog is here", "xyzzy qwerty").toDF("t")
    val got = df.select(TextStats.langId(col("t"))).as[String].collect()
    assert(got.toSeq === Seq("de", "en", "und"))
  }

  test("seeded shards: full coverage, contiguous positions, repartition-stable, seed-sensitive") {
    val ids = docs.select("doc_id")
    val sh = graft.scale.Sampling.seededShards(ids, "doc_id", 16)
    val byShard = sh.groupBy("shard")
      .agg(count(lit(1)).as("n"), max("shard_pos").as("mx"),
        min("shard_pos").as("mn")).collect()
    assert(byShard.length === 16) // every shard populated at 500 docs
    byShard.foreach { r => // positions are 1..n, no gaps
      assert(r.getAs[Long]("mn") === 1L)
      assert(r.getAs[Long]("mx") === r.getAs[Long]("n"))
    }
    // pure function of (id, seed): unchanged by physical layout
    val re = graft.scale.Sampling.seededShards(ids.repartition(7), "doc_id", 16)
    assert(sh.except(re).count() === 0)
    // a different seed actually reshuffles
    val other = graft.scale.Sampling.seededShards(ids, "doc_id", 16, seed = 7L)
    assert(sh.join(other, "doc_id")
      .filter(sh("shard") === other("shard")).count() < 450)
  }

  test("decontaminate: a doc sharing a benchmark n-gram is flagged; disjoint docs are not") {
    val bench = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val corpus = Seq(
      (10L, "xx alpha beta gamma yy"),   // shares the 3-gram "alpha beta gamma"
      (11L, "one two three four five"))  // disjoint
      .toDF("doc_id", "text")
    val out = graft.scale.Decontaminate
      .overlap(corpus, bench, "doc_id", "text", n = 3)
      .orderBy("doc_id").collect()
    assert(out(0).getAs[Long]("overlap") === 1L)
    assert(out(0).getAs[Int]("contaminated") === 1)
    assert(out(1).getAs[Long]("overlap") === 0L)
    assert(out(1).getAs[Int]("contaminated") === 0)
  }

  test("token counts: BPE-ish splits punctuation, ws does not") {
    val df = Seq("hello, world! it's 42").toDF("t")
    val r = df.select(
      TextStats.tokenCountWs(col("t")).as("ws"),
      TextStats.tokenCountBpeish(col("t")).as("bpe")).first()
    assert(r.getInt(0) === 4)
    // hello , world ! it ' s 42 → 8
    assert(r.getInt(1) === 8)
  }

  test("packSequences: full coverage, budget respected, contiguous positions") {
    val docs = (1L to 300L).map(i => (i, 1 + (i * 37 % 500).toInt))
      .toDF("doc_id", "n_toks")
    val packed = graft.scale.Sampling
      .packSequences(docs, "doc_id", "n_toks", budget = 1000L, shards = 4)
      .select("doc_id", "n_toks", "pack_id", "pack_pos", "pack_fill")
      .as[(Long, Int, Long, Int, Long)].collect()
    assert(packed.length === 300) // every doc lands in exactly one pack
    val byPack = packed.groupBy(_._3)
    byPack.foreach { case (_, rows) =>
      assert(rows.map(_._4).sorted.toSeq === (1 to rows.length)) // contiguous
      val fill = rows.map(_._2.toLong).sum
      // a pack only exceeds budget when a single doc overflows it, and
      // contiguous packing closes the bin right after
      assert(fill <= 1000L + rows.map(_._2).max)
    }
    // deterministic: same input → same packing
    val again = graft.scale.Sampling
      .packSequences(docs, "doc_id", "n_toks", budget = 1000L, shards = 4)
      .select("doc_id", "pack_id").as[(Long, Long)].collect().toMap
    assert(packed.map(r => r._1 -> r._3).toMap === again)
  }

  test("weightedSample: rate 0 drops all, rate 1 keeps all, monotone in rate") {
    val docs = (1L to 200L).map(i => (i, s"doc number $i body")).toDF("doc_id", "text")
    def run(rate: Double) = graft.scale.Sampling
      .weightedSample(docs, "text", lit(rate)).select("doc_id")
      .as[Long].collect().toSet
    assert(run(0.0).isEmpty)
    assert(run(1.0).size === 200)
    val half = run(0.5)
    assert(half.subsetOf(run(0.8))) // deterministic nesting, no reshuffle
    assert(half.size > 50 && half.size < 150) // roughly proportional
  }

  test("bucketed embedding dedup: subset of exact pairs, identical " +
    "cosines, and a broadcast-free plan") {
    // planted near-dups: perturbed copies at ~0.99 cosine — the regime
    // production embedding dedup runs in (the raw synthetic vectors are
    // near-orthogonal, where no LSH can prune)
    val base = spark.read.parquet(s"${SparkTestSession.sfDir}/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val emb = base.unionByName(base.select(
      (col("vec_id") + 100000).as("vec_id"),
      transform(col("embedding"), x => x * 0.95 + 0.01).as("embedding")))
    def pairs(rows: Array[(Long, Long, Double)]): Map[(Long, Long), Double] =
      rows.map { case (a, b, c) => (a, b) -> c }.toMap
    val exact = pairs(graft.scale.Dedup
      .embeddingNearDups(emb, "vec_id", "embedding", minCosine = 0.9)
      .as[(Long, Long, Double)].collect())
    val bucketed = graft.scale.Dedup.embeddingNearDupsBucketed(
      emb, "vec_id", "embedding", minCosine = 0.9, dim = 64, nPlanes = 8,
      bands = 2)
    val got = pairs(bucketed.as[(Long, Long, Double)].collect())
    // every bucketed pair is a true near-dup with the exact same score
    got.foreach { case (k, c) => assert(exact.get(k).contains(c), k) }
    // 8 planes × 2 bands at ~0.99 cosine → expect ≳95% recall
    assert(exact.nonEmpty && got.size >= exact.size * 8 / 10,
      s"recall collapsed: ${got.size}/${exact.size}")
    // the 100 TB shape: the pair join must NOT broadcast either side
    val plan = bucketed.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastHashJoin"), plan.linesIterator.take(20).mkString("\n"))
  }

  test("unitDedup: first occurrence wins, within-doc repeats collapse, " +
    "docs reassemble in unit order") {
    val df = Seq(
      (1L, Seq("a b", "c d", "a b")), // within-doc repeat of "a b"
      (2L, Seq("c d", "e f")),        // "c d" already seen in doc 1
      (3L, Seq("a b", "c d")),        // fully duplicate doc → empty
      (4L, Seq.empty[String])
    ).toDF("doc_id", "units")
    val got = graft.scale.Dedup.unitDedup(df, "doc_id", "units")
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    assert(got(0) == ((1L, 3L, 2L, "a b c d")))
    assert(got(1) == ((2L, 2L, 1L, "e f")))
    assert(got(2) == ((3L, 2L, 0L, "")))
    // empty-unit docs produce no exploded rows and drop out — callers
    // keep them via the q127 left-join pattern if needed
    assert(got.length == 3)
    // chunker: ragged tail, empty input
    val chunks = Seq((1L, Seq("a", "b", "c", "d", "e")), (2L, Seq.empty[String]))
      .toDF("id", "t")
      .select(graft.scale.Dedup.unitChunks(col("t"), 2).as("u"))
      .as[Seq[String]].collect()
    assert(chunks.contains(Seq("a b", "c d", "e")) && chunks.contains(Seq.empty))
  }

  test("kmeans: deterministic across runs; planted copies cluster with " +
    "their originals and are marked dups") {
    val base = spark.read.parquet(s"${SparkTestSession.sfDir}/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .withColumn("mx", array_max(transform(col("e"), x => abs(x))))
      .filter(col("mx") > 0)
      .select(col("vec_id"), Similarity.quantizeInt8(col("e")).as("q"))
    val emb = base.unionByName(base.select(
      (col("vec_id") + 100000).as("vec_id"),
      transform(col("q"), x => round(x * 0.95 + 0.01, 0)).as("q")))
    // maxNeighbors = corpus size ⇒ the window covers every preceding
    // cluster-mate, i.e. the unbounded lower-id SemDeDup semantics
    val run1 = graft.scale.KMeans
      .semanticDups(emb, "vec_id", "q", k = 8, iters = 2, minCosine = 0.9,
        maxNeighbors = 2000)
      .as[(Long, Long, Double, Int)].collect().sortBy(_._1)
    val run2 = graft.scale.KMeans
      .semanticDups(emb, "vec_id", "q", k = 8, iters = 2, minCosine = 0.9,
        maxNeighbors = 2000)
      .as[(Long, Long, Double, Int)].collect().sortBy(_._1)
    // integer-exact centroid sums ⇒ bit-identical reruns despite
    // nondeterministic partial-agg row order
    assert(run1.sameElements(run2))
    val cellOf = run1.map(r => r._1 -> r._2).toMap
    val n = base.count()
    // a ~0.9997-cosine copy must land in its original's cell
    val together = run1.filter(_._1 >= 100000)
      .count(r => cellOf(r._1 - 100000) == r._2)
    assert(together >= n * 95 / 100, s"$together/$n copies split from originals")
    // and, sharing the cell of a lower-id near-identical doc, be a dup
    assert(run1.count(_._4 == 1) >= n * 95 / 100)
    // every base cluster is non-trivial (8 seeds over near-orthogonal
    // vectors should not collapse)
    assert(run1.map(_._2).distinct.length == 8)
  }

  test("semanticDups: per-row candidate work is bounded by maxNeighbors " +
    "(window frame, no within-cluster self-join)") {
    // one giant cell (k = 1): id 0 and id 41 are identical vectors, the
    // 40 fillers between them are orthogonal to both — the only near-dup
    // of row 41 sits exactly 41 predecessors back
    val rows = Seq((0L, Seq(10.0, 0.0, 0.0, 0.0))) ++
      (1L to 40L).map(i => (i, Seq(0.0, 10.0, i.toDouble, 0.0))) :+
      (41L, Seq(10.0, 0.0, 0.0, 0.0))
    val df = rows.toDF("vec_id", "q")
    def dupOf41(maxNeighbors: Int): Int = graft.scale.KMeans
      .semanticDups(df, "vec_id", "q", k = 1, iters = 1, minCosine = 0.9,
        maxNeighbors = maxNeighbors)
      .filter(col("vec_id") === 41).select("is_dup").as[Int].head()
    // bound enforced: with the near-dup outside the 40-row window the
    // row is NOT marked (the guard refuses the quadratic comparison)...
    assert(dupOf41(40) == 0)
    // ...and one more slot brings it back in
    assert(dupOf41(41) == 1)
    // the 100 TB shape: dup marking is a window pass — the ONLY join in
    // the whole plan is the broadcast-NLJ centroid assignment, so
    // candidate volume per row is structurally ≤ maxNeighbors whatever
    // the cluster-size distribution
    val plan = graft.scale.KMeans
      .semanticDups(df, "vec_id", "q", k = 1, iters = 1, minCosine = 0.9,
        maxNeighbors = 8)
      .queryExecution.executedPlan.toString
    for (j <- Seq("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"))
      assert(!plan.contains(j), j)
    assert(plan.contains("Window"))
  }

  test("unitDedup shuffles the 8-byte unit hash, not the unit text") {
    val df = Seq((1L, Seq("a b", "c d"))).toDF("doc_id", "units")
    val plan = graft.scale.Dedup.unitDedup(df, "doc_id", "units")
      .queryExecution.executedPlan.toString
    // the dedup window's exchange must partition on the xxhash64 key
    assert(plan.contains("hashpartitioning(__uh"),
      plan.linesIterator.take(30).mkString("\n"))
    assert(!plan.contains("hashpartitioning(__unit"),
      "window keyed on raw unit text — wide shuffle at paragraph scale")
  }

  test("dedupAgainstIndex: batch dups of indexed docs drop with the right " +
      "match; novel docs keep; the check runs on sigs alone") {
    val p = Dedup.MinHashParams(k = 64, bands = 32, shingle = 2)
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again"),
      (11L, "completely unrelated corpus text about spark physical plans"),
      (12L, "the quick brown fox jumps over the lazy dog again and again"))
      .toDF("doc_id", "text")
    val batch = Seq(
      // exact copy of indexed 10/12 → agree 1.0, matched to min id 10
      (100L, "the quick brown fox jumps over the lazy dog again and again"),
      // genuinely new content → kept
      (101L, "a brand new document that matches nothing in the index"))
      .toDF("doc_id", "text")
    // the index is sigs only — text is gone before the dedup call
    val index = Dedup.signatureIndex(corpus, "doc_id", "text", p)
    assert(index.columns.toSeq === Seq("doc_id", "sig"))
    val out = Dedup
      .dedupAgainstIndex(batch, index, "doc_id", "text", minAgree = 0.5, p)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(100L).get(1) === 10L) // min matching corpus id
    assert(out(100L).getInt(2) === 0)
    assert(out(100L).getDouble(3) === 1.0) // identical text → all 64 agree
    assert(out(101L).isNullAt(1) && out(101L).getInt(2) === 1)
  }

  test("index maintenance loop: kept batch sigs appended to a PERSISTED " +
      "versioned index catch later dups of batch docs") {
    import graft.ingest.VersionedTableIO
    val p = Dedup.MinHashParams(k = 64, bands = 32, shingle = 2)
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    val batch1 = Seq(
      (100L, "totally novel content about catalyst optimizer rules here"),
      (101L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text") // 101 dups corpus 1, 100 is new
    val batch2 = Seq(
      (200L, "totally novel content about catalyst optimizer rules here"),
      (201L, "something else entirely unseen by any earlier generation"))
      .toDF("doc_id", "text") // 200 dups KEPT batch1 doc 100
    val io = new VersionedTableIO(
      Files.createTempDirectory("sigidx").toString)
    io.append(Dedup.signatureIndex(corpus, "doc_id", "text", p), "sig_index")
    val marks1 = Dedup.dedupAgainstIndex(
      batch1, io.read(spark, "sig_index"), "doc_id", "text", 0.5, p)
    val kept1 = marks1.filter(col("kept") === 1).select("doc_id")
    assert(kept1.as[Long].collect().toSeq === Seq(100L))
    // the daily append: ~0.5 KB/kept-doc, corpus never re-read
    io.append(
      Dedup.signatures(batch1, "doc_id", "text", p)
        .join(kept1, Seq("doc_id")), "sig_index")
    val marks2 = Dedup.dedupAgainstIndex(
        batch2, io.read(spark, "sig_index"), "doc_id", "text", 0.5, p)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(marks2(200L).get(1) === 100L) // caught by the batch-1 entry
    assert(marks2(201L).getInt(2) === 1) // genuinely new → kept
  }

  test("bm25: higher tf wins within a term; rarer terms carry higher idf; " +
      "length normalization penalizes padding") {
    val df = Seq(
      (1L, "spark spark spark filler words here to pad the document"),
      (2L, "spark filler words here to pad the document out a bit"),
      (3L, "unicorn filler words here to pad the document out a bit"),
      (4L, "no match at all in this one just padding words here now"),
      (5L, "spark " + ("pad " * 50))).toDF("doc_id", "text")
    val out = graft.scale.Retrieval
      .bm25(df, "doc_id", "text", Seq("spark", "unicorn"), k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> (r.getDouble(2), r.getInt(3))).toMap
    // tf dominance: doc 1 (tf=3) outranks doc 2 (tf=1)
    assert(out(("spark", 1L))._2 === 1)
    assert(out(("spark", 1L))._1 > out(("spark", 2L))._1)
    // length normalization: doc 5 (tf=1, 51 tokens) scores below doc 2
    // (tf=1, 11 tokens)
    assert(out(("spark", 2L))._1 > out(("spark", 5L))._1)
    // idf: "unicorn" (df=1) in doc 3 beats "spark" (df=3) at equal tf
    // and near-equal length
    assert(out(("unicorn", 3L))._1 > out(("spark", 2L))._1)
    // doc 4 matches nothing
    assert(!out.keySet.exists(_._2 == 4L))
  }

  test("bm25 incremental stats: per-batch deltas appended to a persisted " +
      "table fold to the one-shot scores bit-for-bit") {
    import graft.ingest.VersionedTableIO
    import graft.scale.Retrieval
    val terms = Seq("join", "vector", "scan")
    val io = new VersionedTableIO(
      Files.createTempDirectory("bm25_stats").toString)
    // three ingest generations, each appending only its tiny delta
    for (r <- 0 until 3)
      io.append(Retrieval.bm25StatsDelta(
        docs.filter(col("doc_id") % 3 === r), "doc_id", "text", terms),
        "stats")
    val incremental = Retrieval.bm25WithStats(docs,
        io.read(spark, "stats"), "doc_id", "text", terms, k = 10)
      .collect().toSet
    val oneShot = Retrieval.bm25(docs, "doc_id", "text", terms, k = 10)
      .collect().toSet
    assert(incremental === oneShot)
  }

  test("grouped heavy hitters: per-group top-k equals the naive windowed " +
      "exact; an undersized sketch names the failing group") {
    import org.apache.spark.sql.expressions.Window
    val naive = docs
      .select(col("lang"), TextStats.tokens(col("text")).as("__toks"))
      .select(col("lang"),
        explode(TextStats.bigramsFromTokens(col("__toks"))).as("gram"))
      .groupBy("lang", "gram").agg(count(lit(1)).as("n"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("lang").orderBy(col("n").desc, col("gram").asc)))
      .filter(col("rank") <= 5)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val framed = graft.scale.HeavyHitters
      .topGramsByGroup(docs, "lang", "text", k = 5, capacity = 2048)
    val got = framed
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got === naive)
    // the exact-recount join must BROADCAST the (≤ groups × capacity)
    // candidate side — the full gram stream never shuffles for pass 2
    val plan = framed.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"recount join not broadcast:\n$plan")
    val ex = intercept[Exception] {
      graft.scale.HeavyHitters
        .topGramsByGroup(docs, "lang", "text", k = 5, capacity = 1)
        .collect()
    }
    assert(ex.getMessage.contains("not provably exact for group"))
  }

  test("vector index dedup: perturbed copies of indexed vectors are " +
      "caught at their source id; novel vectors keep; no index broadcast") {
    val emb = Tables.load(spark, SparkTestSession.sfDir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val corpus = emb.filter(col("vec_id") % 5 <= 2)
    val batch = emb.filter(col("vec_id") % 5 === 0 || col("vec_id") % 5 === 4)
      .select((col("vec_id") + 100000).as("vec_id"),
        transform(col("embedding"), x => x * 0.95 + 0.01).as("embedding"))
    val out = Dedup.dedupVectorsAgainstIndex(batch, corpus, "vec_id",
      "embedding", minCosine = 0.9, dim = 64, nPlanes = 8, bands = 2)
    val rows = out.collect().map(r => r.getLong(0) -> r).toMap
    val caught = rows.filter { case (id, r) => (id - 100000) % 5 == 0 }
    // every perturbed copy of an INDEXED vector matches its source
    // (perturbation keeps cosine ~0.999; both LSH bands rarely both
    // miss at 8 planes — exactness vs the oracle is the real gate,
    // this asserts the semantic shape)
    assert(caught.nonEmpty &&
      caught.count { case (id, r) => !r.isNullAt(1) &&
        r.getLong(1) == id - 100000 } >= caught.size * 9 / 10)
    // perturbed copies of NON-indexed vectors are near-orthogonal to
    // the whole index → kept
    assert(rows.collect { case (id, r) if (id - 100000) % 5 == 4 =>
      r.getInt(2) }.forall(_ == 1))
    // scale shape: the banded candidate join shuffles both sides (the
    // pinned shuffle_hash) — only the final tiny post-aggregate
    // LeftOuter onto batch ids may broadcast
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin [__band"), plan.take(2000))
    assert(!plan.contains("BroadcastHashJoin [__band"), plan.take(2000))
  }

  test("vector index dedup: maxBucket drops an overloaded index " +
      "neighborhood; sparse-bucket matches survive untouched") {
    // index: 30 identical vectors (one dense neighborhood — every band
    // bucket holds all 30, over the cap) + 3 copies of a distinct
    // checkerboard vector (sparse bucket, under the cap)
    val dense = Seq.fill(30)(Array.fill(64)(0.125))
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }
    val sparse = (100 until 103).map(i => (i.toLong,
      Array.tabulate(64)(j => if (j % 2 == 0) 0.125 else -0.125)))
    val index = (dense ++ sparse).toDF("vec_id", "embedding")
    // batch: one probe into each neighborhood
    val batch = Seq(
      (1000L, Array.fill(64)(0.125)),
      (2000L, Array.tabulate(64)(j => if (j % 2 == 0) 0.125 else -0.125)))
      .toDF("vec_id", "embedding")
    val out = Dedup.dedupVectorsAgainstIndex(batch, index, "vec_id",
      "embedding", minCosine = 0.9, dim = 64, nPlanes = 8, bands = 2,
      maxBucket = Some(8)).collect()
      .map(r => r.getLong(0) -> r).toMap
    // the dense neighborhood is guard-dropped → its probe comes out KEPT
    assert(out(1000L).getInt(2) == 1 && out(1000L).isNullAt(1),
      s"over-cap index bucket was not dropped: ${out(1000L)}")
    // the sparse neighborhood survives → its probe matches the lowest id
    assert(out(2000L).getInt(2) == 0 && out(2000L).getLong(1) == 100L,
      s"under-cap index bucket lost its match: ${out(2000L)}")
  }

  test("hot-bucket guard: overloaded LSH buckets drop; small buckets and " +
      "their pairs survive untouched") {
    val p = Dedup.MinHashParams(k = 64, bands = 16, shingle = 2)
    val clones = (0 until 40).map(i => (i.toLong,
      "spam spam boilerplate footer repeated on every page of the site"))
    val pair = Seq(
      (100L, "a genuinely unique article about catalyst planning and shuffles"),
      (101L, "a genuinely unique article about catalyst planning and shuffle"))
    val sigs = Dedup.signatures((clones ++ pair).toDF("doc_id", "text"),
      "doc_id", "text", p)
    val unguarded = Dedup.candidatePairs(sigs, "doc_id", p)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(unguarded.contains((100L, 101L)))
    assert(unguarded.exists(ab => ab._1 < 40L && ab._2 < 40L)) // clone pairs
    val guarded = Dedup
      .candidatePairs(sigs, "doc_id", p, maxBucket = Some(10))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(guarded === Set((100L, 101L))) // every clone bucket dropped
  }

  test("heavy hitters: two-pass top-k equals the naive exact GROUP BY; " +
      "undersized capacity fails fast instead of guessing") {
    val naive = docs
      .select(explode(TextStats.bigrams(col("text"))).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("gram").asc).limit(10)
      .collect().toSeq
    val got = graft.scale.HeavyHitters
      .topGrams(docs, "text", k = 10, capacity = 2048)
      .collect().toSeq
    assert(got === naive)
    // capacity 1: the bar N/2 is unreachable → the clearance gate trips
    val ex = intercept[Exception] {
      graft.scale.HeavyHitters.topGrams(docs, "text", k = 10, capacity = 1)
        .collect()
    }
    assert(ex.getMessage.contains("raise capacity"))
  }

  test("HLL cardinality: batch-sketch rollup equals the one-shot sketch; " +
      "replaying deltas is idempotent; the drift gate trips on a bad lgK") {
    import graft.scale.Cardinality
    val ev = spark.range(0, 5000)
      .select((col("id") % 700).as("k"),
        (col("id") % 3).cast("string").as("b"))
    val deltas = Cardinality.sketchDelta(ev, "k", Seq("b"))
    def global(d: org.apache.spark.sql.DataFrame): Long =
      Cardinality.estimate(
        d.select(lit("g").as("b"), col("sketch")), Seq("b"))
        .collect().head.getLong(1)
    // union of per-batch sketches == sketch of the union
    val oneShot = global(Cardinality.sketchDelta(ev, "k", Seq())
      .select(lit("ignored").as("b"), col("sketch")))
    assert(global(deltas) == oneShot)
    // replay (appending the same deltas twice) cannot move the answer
    assert(global(deltas.unionByName(deltas)) == oneShot)
    // exact join + gate passes at 5% for lgK=12
    val exact = ev.groupBy("b").agg(countDistinct(col("k")).as("n_exact"))
    assert(Cardinality.estimateChecked(deltas, exact, Seq("b"), 0.05)
      .count() == 3)
    // an undersized sketch (lgK=4 → 16 buckets for 700 keys) drifts
    // past the bound and FAILS instead of reporting garbage
    val bad = Cardinality.sketchDelta(ev, "k", Seq("b"), lgK = 4)
    val ex = intercept[Exception] {
      Cardinality.estimateChecked(bad, exact, Seq("b"), 0.05).collect()
    }
    assert(ex.getMessage.contains("drifted"))
  }

  test("PQ-ADC: corpus never shuffles (one window exchange only); codes " +
      "stay in [0, ksub); an unreachable recall floor fails the query") {
    val emb = Tables.load(spark, SparkTestSession.sfDir, "embeddings")
    val q = emb.filter(col("vec_id") < 5)
    val pq = Similarity.pqTopK(emb, q, "vec_id", "embedding",
      k = 10, dim = 64, m = 8, ksub = 16)
    // scale shape: encode+score are pure expressions over the corpus
    // scan; queries broadcast (BNLJ); the ONLY hash exchange is the
    // per-query top-k rank window
    val plan = pq.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      plan.take(2000))
    assert(pq.count() == 50)
    // the gate passes at the shipped floor and reports per-query recall
    val rec = Similarity.pqRecall(emb, q, "vec_id", "embedding",
        k = 10, dim = 64, m = 8, ksub = 16, nCand = 30,
        minMeanRecall = 0.3)
      .orderBy(col("query_id")).collect()
    assert(rec.length == 5)
    assert(rec.forall(r => r.getDouble(3) >= 0.3)) // mean_recall column
    assert(rec.forall(r =>
      r.getDouble(2) == r.getLong(1).toDouble / 10)) // recall = n_hit/k
    // quantization loss is a CHECKED property: an unreachable floor
    // fails the action instead of silently degrading retrieval
    val ex = intercept[Exception] {
      Similarity.pqRecall(emb, q, "vec_id", "embedding",
        k = 10, dim = 64, m = 8, ksub = 16, nCand = 30,
        minMeanRecall = 0.999).collect()
    }
    assert(ex.getMessage.contains("recall contract"))
  }

  test("pqRecallFrac derives the candidate budget in-plan and matches " +
      "the fixed-nCand gate where the fraction floor binds") {
    val emb = Tables.load(spark, SparkTestSession.sfDir, "embeddings")
    val q = emb.filter(col("vec_id") < 5)
    // at driver SFs ceil(1.5% · N) < 30, so the floor reproduces
    // nCand=30 exactly — the q150 contract
    val frac = Similarity.pqRecallFrac(emb, q, "vec_id", "embedding",
      k = 10, dim = 64, m = 8, ksub = 16, nCandMin = 30,
      nCandFrac = 0.015, minMeanRecall = 0.3)
      .orderBy(col("query_id")).collect()
    val fixed = Similarity.pqRecall(emb, q, "vec_id", "embedding",
      k = 10, dim = 64, m = 8, ksub = 16, nCand = 30,
      minMeanRecall = 0.3)
      .orderBy(col("query_id")).collect()
    assert(frac.map(_.toString).toSeq === fixed.map(_.toString).toSeq)
  }

  test("bigramSurprisal vocabCap: a cap above both vocabularies is " +
      "bit-identical to the uncapped model; a binding cap stays finite " +
      "and keeps every doc's bigram count") {
    val sub = docs.filter(col("doc_id") < 80)
    val exact = TextStats.bigramSurprisal(sub, "doc_id", "text")
      .orderBy("doc_id").collect()
    val roomy = TextStats.bigramSurprisal(sub, "doc_id", "text",
        vocabCap = Some(1000000))
      .orderBy("doc_id").collect()
    assert(roomy.map(_.toString).toSeq === exact.map(_.toString).toSeq)
    // binding cap: model shrinks to 50 bigram + 50 unigram rows; OOV
    // occurrences back off to the unigram leg — scores stay finite and
    // n_bigrams (pure stream-side count) is unchanged
    val capped = TextStats.bigramSurprisal(sub, "doc_id", "text",
        vocabCap = Some(50))
      .orderBy("doc_id").collect()
    assert(capped.length === exact.length)
    capped.zip(exact).foreach { case (c, e) =>
      assert(c.getLong(1) === e.getLong(1)) // n_bigrams
      assert(!c.getDouble(2).isNaN && !c.getDouble(2).isInfinite)
      // backoff-only probabilities are ≤ interpolated ones, so capped
      // surprisal can only move up
      assert(c.getDouble(2) >= e.getDouble(2) - 1e-6)
    }
  }

  test("nearDuplicates hot-bucket guard: a non-binding cap is " +
      "result-identical; a binding cap only removes pairs") {
    val sub = docs.filter(col("doc_id") < 100)
    val p = Dedup.MinHashParams(k = 64, bands = 32, shingle = 2)
    val unguarded = Dedup.nearDuplicates(sub, "doc_id", "text",
        minJaccard = 0.4, p)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val guarded = Dedup.nearDuplicates(sub, "doc_id", "text",
        minJaccard = 0.4, p, maxBucket = Some(1000))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(guarded === unguarded)
    // a cap of 1 drops every shared bucket (any candidate-producing
    // bucket has ≥ 2 members), so the candidate set must be empty
    val strangled = Dedup.nearDuplicates(sub, "doc_id", "text",
        minJaccard = 0.4, p, maxBucket = Some(1))
      .collect()
    assert(strangled.isEmpty)
  }

  // ---- Sampling.epochMix --------------------------------------------------

  test("epochMix: integer factors replicate exactly, zero drops, " +
    "fractional copies bounded, per-copy hashes distinct") {
    val docs = (0L until 200L).map(i =>
      (i, Seq("a", "b", "c", "d")((i % 4).toInt), s"doc text nr $i"))
      .toDF("doc_id", "lang", "text")
    val out = graft.scale.Sampling.epochMix(docs, "lang", "text",
      Map("a" -> 2.0, "b" -> 0.0, "c" -> 1.0, "d" -> 1.5)).persist()
    try {
      val perLang = out.groupBy("lang").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(perLang("a") === 100L, "factor 2.0 = exactly 2 copies/doc")
      assert(!perLang.contains("b"), "factor 0 drops the stratum")
      assert(perLang("c") === 50L, "factor 1.0 = identity")
      assert(perLang.getOrElse("d", 0L) > 50L && perLang("d") < 100L,
        s"factor 1.5 lands strictly between 1 and 2 copies: $perLang")
      val dCopies = out.filter(col("lang") === "d").groupBy("doc_id")
        .count().collect().map(_.getLong(1))
      assert(dCopies.forall(n => n == 1L || n == 2L),
        "a 1.5-epoch doc gets exactly 1 or 2 copies")
      // per-copy position hashes must differ, or replicas of a doc
      // would sort adjacent in the downstream seeded shuffle
      val clash = out.groupBy("doc_id")
        .agg(count(lit(1)).as("n"), countDistinct(col("mix_hash")).as("h"))
        .filter(col("n") =!= col("h")).count()
      assert(clash === 0L, "copies of one doc need distinct mix hashes")
      // rerun is bit-identical (pure function of content)
      val again = graft.scale.Sampling.epochMix(docs, "lang", "text",
        Map("a" -> 2.0, "b" -> 0.0, "c" -> 1.0, "d" -> 1.5))
      assert(out.exceptAll(again).count() === 0L &&
        again.exceptAll(out).count() === 0L)
    } finally { out.unpersist(); () }
  }

  test("epochMixWeighted: constant per-row factors reproduce epochMixFrom " +
    "bit-for-bit; plan stays a pure projection") {
    val docs = (0L until 200L).map(i =>
      (i, Seq("a", "b", "c", "d")((i % 4).toInt), s"doc text nr $i"))
      .toDF("doc_id", "lang", "text")
    val factors = Map("a" -> 2.0, "b" -> 0.0, "c" -> 1.0, "d" -> 1.5)
    val viaStrata = graft.scale.Sampling.epochMix(docs, "lang", "text",
      factors).select("doc_id", "copy_id", "mix_hash")
    val factorCol = factors.foldLeft(lit(Double.NaN)) {
      case (acc, (l, f)) => when(col("lang") === l, lit(f)).otherwise(acc)
    }
    val viaColumn = graft.scale.Sampling.epochMixWeighted(
        docs.withColumn("__f", factorCol), "__f", "text")
      .select("doc_id", "copy_id", "mix_hash")
    assert(viaStrata.exceptAll(viaColumn).count() === 0L &&
      viaColumn.exceptAll(viaStrata).count() === 0L,
      "the per-row-factor form must agree with the stratum-table form")
    val plan = graft.scale.Sampling.epochMixWeighted(
        docs.withColumn("__f", factorCol), "__f", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"per-row-factor replication is a pure projection:\n$plan")
  }

  test("epochMix plan: pure projection — the corpus never shuffles") {
    val docs = graft.core.Tables.load(spark, SparkTestSession.sfDir,
      "documents")
    val plan = graft.scale.Sampling.epochMix(docs, "lang", "text",
      Map("en" -> 2.5, "fr" -> 1.0, "de" -> 0.5, "es" -> 1.0,
        "zh" -> 1.0))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning") &&
      !plan.contains("Exchange SinglePartition"),
      s"replication must happen at scan speed (broadcast factors, " +
        s"explode projection):\n$plan")
  }

  test("proportionalSample hits the budget EXACTLY and allocates " +
      "within one doc of true proportionality") {
    val out = graft.scale.Sampling.proportionalSample(
      docs, "lang", "text", "doc_id", 137L)
    val perLang = out.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perLang.values.sum === 137L, s"Σ alloc must equal B: $perLang")
    val n = docs.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = n.values.sum
    for ((lang, k) <- perLang) {
      val exact = 137.0 * n(lang) / total
      assert(math.abs(k - exact) < 1.0,
        s"$lang: alloc $k vs exact quota $exact")
    }
  }

  test("proportionalSample with budget ≥ corpus returns every doc once") {
    val out = graft.scale.Sampling.proportionalSample(
      docs, "lang", "text", "doc_id", 10_000_000L)
    assert(out.count() === docs.count())
    assert(out.select("doc_id").distinct().count() === docs.count())
  }

  test("lengthBuckets: integer bit-length buckets, exact padded cost, " +
      "zero-token docs isolated in bucket -1") {
    val df = Seq(
      (1L, "one"),                                  // n=1 → b=0, cap 1
      (2L, "three little words"),                   // n=3 → b=1, cap 3
      (3L, (1 to 8).map("w" + _).mkString(" ")),    // n=8 → b=3, cap 15
      (4L, "!!!")                                   // n=0 → bucket -1
    ).toDF("doc_id", "text")
    val out = graft.scale.Selection.lengthBuckets(df, "text")
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5))).toMap
    assert(out(-1) === ((0L, 1L, 0L, 0L, 0.0)))
    assert(out(0) === ((1L, 1L, 1L, 1L, 0.0)))
    assert(out(1) === ((3L, 1L, 3L, 3L, 0.0)))
    assert(out(3) === ((15L, 1L, 8L, 15L,
      math.rint((1.0 - 8.0 / 15.0) * 1e6) / 1e6)))
  }

  test("noveltyScore: shared shingles are not novel; short/empty docs " +
      "score 0 over 0; text never shuffles") {
    val df = Seq(
      (1L, "a b c d e"),    // shares "a b c" with doc 2
      (2L, "a b c x y"),
      (3L, "zz qq ww rr"),  // fully novel
      (4L, "")              // no shingles
    ).toDF("doc_id", "text")
    val out = Dedup.noveltyScore(df, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(1L) === ((3L, 2L, 0.666667)))
    assert(out(2L) === ((3L, 2L, 0.666667)))
    assert(out(3L) === ((2L, 2L, 1.0)))
    assert(out(4L) === ((0L, 0L, 0.0)))
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents")
    val plan = Dedup.noveltyScore(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(__h"),
      s"shingle counting must key on the 8-byte hash:\n$plan")
    assert(!plan.contains("hashpartitioning(text") &&
      !plan.contains("hashpartitioning(__s") &&
      !plan.contains("hashpartitioning(__toks"),
      "neither text, shingle strings, nor token arrays may key a shuffle")
  }

  test("scoreWeightedAllocation: Σ alloc == budget exactly, shares " +
      "within one unit of score-proportional") {
    val out = graft.scale.Sampling.scoreWeightedAllocation(
      docs, "source",
      round(TextStats.qualityScore(col("text")) * 100).cast("long"),
      budget = 999L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.map(_._3).sum === 999L)
    val tot = out.map(_._2).sum.toDouble
    for ((s, w, a) <- out)
      assert(math.abs(a - 999.0 * w / tot) < 1.0,
        s"$s: alloc $a vs exact share ${999.0 * w / tot}")
  }

  test("scoreWeightedAllocation: an all-zero weight frame allocates " +
      "zeros instead of raising ANSI division-by-zero") {
    val df = Seq(("a", "x"), ("b", "y")).toDF("source", "text")
    val out = graft.scale.Sampling.scoreWeightedAllocation(
      df, "source", lit(0L), budget = 100L)
      .collect().map(r => (r.getString(0), r.getLong(2)))
    assert(out.toMap === Map("a" -> 0L, "b" -> 0L))
  }

  test("scoreWeightedAllocation: a NEGATIVE per-stratum mass clamps " +
      "to 0 and the largest-remainder invariants survive") {
    // stratum a sums to -5 (clamped 0), b to 30, c to 10: budget 20
    // splits 15/5 over the positive masses, Σ alloc == budget exactly
    val df = Seq(("a", -5L), ("b", 30L), ("c", 10L))
      .toDF("source", "micro")
    val out = graft.scale.Sampling.scoreWeightedAllocation(
      df, "source", col("micro"), budget = 20L)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out === Map("a" -> ((0L, 0L)), "b" -> ((30L, 15L)),
      "c" -> ((10L, 5L))))
    val sum = out.values.map(_._2).sum
    assert(sum === 20L, s"allocations must still sum to the budget: $sum")
  }

  test("tokenDrift: exact counts, rounded per-term drift, one term " +
      "exchange, TakeOrdered top-k") {
    val df = Seq((0L, "a a b"), (1L, "a c")).toDF("doc_id", "text")
    val out = TextStats.tokenDrift(df, "text", col("doc_id") % 2 === 0)
    val m = out.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    assert(m("a") === ((2L, 1L, 0.666667, 0.5, 0.166667)))
    assert(m("b") === ((1L, 0L, 0.333333, 0.0, 0.333333)))
    assert(m("c") === ((0L, 1L, 0.0, 0.5, 0.5)))
    // plan inspected in plan-evidence mode: the tiny result is
    // checkpointed to release the vocab-sized cache, which otherwise
    // hides the plan behind a Scan ExistingRDD
    val docs = Tables.load(SparkTestSession.planEvidence,
      SparkTestSession.sfDir, "documents")
    val plan = TextStats.tokenDrift(docs, "text", col("doc_id") % 2 === 0)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"the term table must never be globally sorted:\n$plan")
    // the totals consumer prints the persisted counts subtree again
    // pre-materialization (q181 note) — pin the KEY, not the count
    assert(plan.contains("hashpartitioning(__t"),
      s"the only exchange key must be the term:\n$plan")
    assert(!plan.contains("hashpartitioning(text") &&
      !plan.contains("hashpartitioning(doc_id"),
      "neither text nor ids may be shuffle keys")
  }

  test("incremental drift: folded per-batch deltas equal the " +
      "from-scratch scan bit-for-bit, under ANY batch grouping") {
    val fromScratch = TextStats.tokenDrift(docs, "text",
      col("doc_id") % 2 === 0, topK = 32).collect().map(_.toSeq).toSeq
    def folded(nBatches: Int) = {
      val deltas = (0 until nBatches).map { b =>
        TextStats.tokenCountDelta(
          docs.filter(col("doc_id") % nBatches === b), "text",
          isA = b % 2 == 0)
      }.reduce(_.unionByName(_))
      TextStats.driftFromCounts(TextStats.foldCountDeltas(deltas), 32)
        .collect().map(_.toSeq).toSeq
    }
    assert(folded(4) === fromScratch)
    assert(folded(8) === fromScratch)
  }

  test("proportionalSample selection is deterministic (same ids twice)") {
    def ids = graft.scale.Sampling.proportionalSample(
      docs, "lang", "text", "doc_id", 49L)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids === ids)
    assert(ids.size === 49)
  }

  // ---- Multimodal.mediaNearDup --------------------------------------------

  test("mediaNearDup recall pin: every planted clone pair (hamming 0) " +
      "surfaces; length-preserving point edits clear the 0.9 floor") {
    import graft.scale.Multimodal
    val base = docs.filter(col("doc_id") < 100)
      .select(col("doc_id").as("media_id"), col("text"))
    // 20 exact clones (signatures identical → hamming 0, must ALL
    // surface) + 20 LENGTH-PRESERVING point edits (first two bytes
    // replaced — the fixed-dimension re-encode shape: only region 0's
    // sum moves, so hamming ≤ ~2 < bands and the pigeonhole guarantee
    // applies). Length-CHANGING edits shift every proportional region
    // boundary, and on the noisy byte plane of the stub codec that
    // flips many gradient bits — a documented limitation (a real
    // pixel-plane codec is smooth where text bytes are not), so no
    // recall is pinned for them.
    val clones = base.filter(col("media_id") % 5 === 0)
      .select((col("media_id") + 1000L).as("media_id"), col("text"))
    val mutated = base.filter(col("media_id") % 5 === 1)
      .select((col("media_id") + 2000L).as("media_id"),
        concat(lit("zz"), expr("substring(text, 3)")).as("text"))
    val corpus = base.unionByName(clones).unionByName(mutated)
    val pairs = Multimodal.mediaNearDup(
      Multimodal.packText(corpus, "media_id", "text"),
      regions = 64, bands = 3, maxHamming = 6, bucketCap = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val got = pairs.map(p => (p._1, p._2)).toSet
    // exact clones: guaranteed (identical sig → every band matches)
    val wantClones = (0L until 100L by 5).map(i => (i, i + 1000L))
    assert(wantClones.forall(got.contains),
      s"missing clone pairs: ${wantClones.filterNot(got.contains)}")
    assert(pairs.filter(p => wantClones.contains((p._1, p._2)))
      .forall(_._3 === 0), "clone pairs must be at hamming 0")
    // point edits: recall floor 0.9 (hamming ≤ 3 pairs are pigeonhole
    // -guaranteed; anything past maxHamming is correctly absent)
    val wantMut = (1L until 100L by 5).map(i => (i, i + 2000L))
    val mutFound = wantMut.count(got.contains)
    assert(mutFound.toDouble / wantMut.size >= 0.9,
      s"point-edit recall ${mutFound}/${wantMut.size} below the 0.9 floor")
  }

  test("mediaNearDup hot-bucket guard drops a boilerplate mega-family " +
      "but leaves honest pairs intact; plan never keys on media bytes " +
      "and never goes cartesian") {
    import graft.scale.Multimodal
    val base = docs.filter(col("doc_id") < 40)
      .select(col("doc_id").as("media_id"), col("text"))
    // 80 clones of doc 0 — every band bucket the family lands in
    // exceeds cap 16, so the guard must drop ALL its pairs (the text
    // is collected driver-side so the fixture itself adds no join)
    val text0 = base.filter(col("media_id") === 0L)
      .select("text").as[String].head()
    val family = (1 to 80).map(i => (i * 10000L, text0))
      .toDF("media_id", "text")
    val honest = base.filter(col("media_id") === 7L)
      .select((col("media_id") + 500L).as("media_id"), col("text"))
    val corpus = base.unionByName(family).unionByName(honest)
    val out = Multimodal.mediaNearDup(
      Multimodal.packText(corpus, "media_id", "text"),
      regions = 64, bands = 3, maxHamming = 6, bucketCap = 16)
    val pairs = out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!pairs.exists(p => p._1 >= 10000L || p._2 >= 10000L),
      "guard must drop every mega-family pair")
    assert(pairs.contains((7L, 507L)), "honest clone pair must survive")
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"banded join must stay keyed:\n$plan")
    assert(!plan.contains("hashpartitioning(media,") &&
      !plan.contains("hashpartitioning(text"),
      "media bytes must never be a shuffle key")
  }

  test("mediaNearDupCdc recall pin: INSERT and DELETE edits — the " +
      "length changes mediaNearDup documents as its hole — clear the " +
      "0.9 floor; chunk boundaries re-synchronize past the edit") {
    import graft.scale.Multimodal
    val base = docs.filter(col("doc_id") < 100)
      .select(col("doc_id").as("media_id"), col("text"))
    val inserted = base.filter(col("media_id") % 5 === 0)
      .select((col("media_id") + 1000L).as("media_id"),
        concat(lit("INSERTED PREFIX "), col("text")).as("text"))
    val deleted = base.filter(col("media_id") % 5 === 1)
      .select((col("media_id") + 2000L).as("media_id"),
        expr("substring(text, 20)").as("text"))
    val corpus = base.unionByName(inserted).unionByName(deleted)
    val out = Multimodal.mediaNearDupCdc(
      Multimodal.packText(corpus, "media_id", "text"),
      minJaccard = 0.5, chunkCap = 64)
    val got = out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val wantIns = (0L until 100L by 5).map(i => (i, i + 1000L))
    val wantDel = (1L until 100L by 5).map(i => (i, i + 2000L))
    val insFound = wantIns.count(got.contains)
    val delFound = wantDel.count(got.contains)
    assert(insFound.toDouble / wantIns.size >= 0.9,
      s"insert-edit recall $insFound/${wantIns.size} below the 0.9 floor")
    assert(delFound.toDouble / wantDel.size >= 0.9,
      s"delete-edit recall $delFound/${wantDel.size} below the 0.9 floor")
    // boundary re-sync, directly: an edited copy of one long doc
    // keeps every chunk fingerprint except the edited region's
    val longDoc = docs.filter(length(col("text")) >= 400)
      .select(col("doc_id").as("media_id"), col("text")).limit(1)
    val pairDf = longDoc.unionByName(longDoc
      .select((col("media_id") + 9L).as("media_id"),
        concat(lit("XYZ"), col("text")).as("text")))
    val hashes = Multimodal.cdcChunkHashes(
      Multimodal.packText(pairDf, "media_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val byId = hashes.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    val Seq(a, b) = byId.values.toSeq
    assert((a intersect b).size >= math.max(a.size, b.size) - 2,
      s"edit must disturb at most the boundary-adjacent chunks: " +
      s"|a|=${a.size} |b|=${b.size} shared=${(a intersect b).size}")
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"fingerprint join must stay keyed:\n$plan")
    assert(!plan.contains("hashpartitioning(media,") &&
      !plan.contains("hashpartitioning(text"),
      "media bytes must never be a shuffle key")
  }

  test("mediaNearDupCdc hot-chunk guard: a boilerplate mega-family's " +
      "shared chunks drop before the join; honest pairs survive") {
    import graft.scale.Multimodal
    val base = docs.filter(col("doc_id") < 40)
      .select(col("doc_id").as("media_id"), col("text"))
    val text0 = base.filter(col("media_id") === 0L)
      .select("text").as[String].head()
    val family = (1 to 80).map(i => (i * 10000L, text0))
      .toDF("media_id", "text")
    val honest = base.filter(col("media_id") === 7L)
      .select((col("media_id") + 500L).as("media_id"), col("text"))
    val corpus = base.unionByName(family).unionByName(honest)
    val pairs = Multimodal.mediaNearDupCdc(
      Multimodal.packText(corpus, "media_id", "text"),
      minJaccard = 0.5, chunkCap = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!pairs.exists(p => p._1 >= 10000L || p._2 >= 10000L),
      "guard must drop every mega-family pair")
    assert(pairs.contains((7L, 507L)), "honest clone pair must survive")
  }
}
