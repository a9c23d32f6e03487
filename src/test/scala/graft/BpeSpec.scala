package graft

import graft.core.Tables
import graft.scale.Bpe
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

class BpeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("train learns weighted greedy merges in order (hand-computed fixture)") {
    // vocab: aaab×2, ab×1. Pairs r1: (a,a)=4, (a,b)=3 → merge (a,a).
    // After: aaab=[aa,a,b], ab=[a,b]. Pairs r2: (aa,a)=2, (a,b)=3 →
    // merge (a,b).
    val df = Seq((1L, "aaab aaab ab")).toDF("doc_id", "text")
    val m = Bpe.train(df, "text", 2)
      .orderBy("step")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    assert(m.toSeq === Seq((1, "a", "a", "aa", 4L), (2, "a", "b", "ab", 3L)))
  }

  test("train fails fast when the corpus exhausts distinct pairs " +
      "before the requested merge count (instead of emptying the vocab)") {
    // "ab" has exactly one pair: step 1 merges (a,b), after which no
    // adjacent pairs remain — asking for 2 merges must throw, not
    // silently cross-join an empty argmax into the vocab
    val df = Seq((1L, "ab ab")).toDF("doc_id", "text")
    val ex = intercept[IllegalArgumentException] {
      Bpe.train(df, "text", 2)
    }
    assert(ex.getMessage.contains("step 2 of 2") &&
      ex.getMessage.contains("merges <= 1"))
    // the supportable count still trains fine
    val m = Bpe.train(df, "text", 1).collect().head
    assert((m.getString(1), m.getString(2)) === (("a", "b")))
  }

  test("equal-count pairs break ties lexicographically (l ASC, r ASC)") {
    val df = Seq((1L, "ab ab cd cd")).toDF("doc_id", "text")
    val m = Bpe.train(df, "text", 1).collect().head
    assert((m.getString(1), m.getString(2), m.getLong(4)) === ("a", "b", 2L))
  }

  test("applyMerge via literal replace IS greedy left-to-right BPE") {
    // "aaaa" + (a,a) → [aa, aa]; "aaa" → [aa, a]; multi-char symbol
    // "ab" never false-matches the single-char pattern "a".
    val df = Seq("aaaa", "aaa", "ab").toDF("w")
      .select(Bpe.symbols(Bpe.applyMerge(Bpe.wrapWord(col("w")),
        lit("a"), lit("a"))).as("s"))
    assert(df.as[Seq[String]].collect().toSeq ===
      Seq(Seq("aa", "aa"), Seq("aa", "a"), Seq("a", "b")))
    // learned multi-char symbols participate in later merges
    val df2 = Seq("aaab").toDF("w")
      .select(Bpe.symbols(
        Bpe.applyMerge(Bpe.applyMerge(Bpe.wrapWord(col("w")),
          lit("a"), lit("a")), lit("aa"), lit("a"))).as("s"))
    assert(df2.as[Seq[String]].collect().head === Seq("aaa", "b"))
  }

  test("encode subword stats are exact on a hand fixture") {
    val merges = Seq((1, "a", "a", "aa", 4L), (2, "a", "b", "ab", 3L))
      .toDF("step", "l", "r", "merged", "pair_count")
    val docs = Seq((7L, "aaaa aab")).toDF("doc_id", "text")
    val out = Bpe.encode(docs, "doc_id", "text", merges, 2).collect().head
    // aaaa → [aa, aa]; aab → [aa, b] ((aa,b) is not a learned pair)
    assert(out.getLong(1) === 2L, "n_tok")
    assert(out.getLong(2) === 4L, "n_sub")
    assert(out.getLong(3) === 2L, "n_distinct_sub ({aa, b})")
    assert(out.getDouble(4) === 1.75, "7 chars / 4 subwords")
  }

  test("plan: inline encode is a pure projection — zero hash exchanges " +
      "beyond the broadcast of the one-row merge table") {
    val merges = Seq((1, "a", "a", "aa", 4L), (2, "e", "r", "er", 3L))
      .toDF("step", "l", "r", "merged", "pair_count")
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents")
    val plan = Bpe.encode(docs, "doc_id", "text", merges, 2, dict = false)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"inline encode must not shuffle the corpus:\n$plan")
    assert(plan.contains("BroadcastExchange") ||
      plan.contains("BroadcastNestedLoopJoin"),
      "the merge row must arrive by broadcast")
  }

  test("dict encode is bit-identical to inline encode (the tokenizer " +
      "cache cannot change results) and shuffles only distinct words") {
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents")
    val merges = Bpe.train(docs.limit(300), "text", 4)
    val a = Bpe.encode(docs, "doc_id", "text", merges, 4, dict = false)
      .orderBy("doc_id").collect().map(_.toSeq)
    val b = Bpe.encode(docs, "doc_id", "text", merges, 4, dict = true)
      .orderBy("doc_id").collect().map(_.toSeq)
    assert(a.toSeq === b.toSeq)
    val plan = Bpe.encode(docs, "doc_id", "text", merges, 4, dict = true)
      .queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(__w"),
      s"the dict build shuffles distinct words:\n$plan")
    assert(!plan.contains("hashpartitioning(text") &&
      !plan.contains("hashpartitioning(doc_id"),
      "neither text nor doc ids may be shuffle keys")
  }

  test("plan: training pair counts shuffle (l, r) pairs, never words") {
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents")
    val vocab = Bpe.wordFreq(docs, "text")
    val plan = Bpe.pairCounts(vocab).queryExecution.executedPlan.toString
    // two exchanges total: the word-freq build on __w, and the pair agg
    // on the extracted (l, r) grouping expressions — with a map-side
    // partial BEFORE its exchange, so only (l, r, partial sum) rows move
    assert("Exchange hashpartitioning".r.findAllIn(plan).size === 2,
      s"expected word-count + pair-agg exchanges only:\n$plan")
    assert(plan.contains("hashpartitioning(_groupingexpression"),
      s"pair agg must key on the extracted (l, r):\n$plan")
    assert(!plan.contains("hashpartitioning(w#") &&
      !plan.contains("hashpartitioning(__syms"),
      "neither the wrapped word nor the symbol array may key the pair agg")
    assert(plan.contains("partial_sum"),
      "pair counts must combine map-side before the exchange")
  }

  test("merges compound into multi-char symbols ((xy)+z after x+y)") {
    val df = Seq((1L, "xy xy xyz")).toDF("doc_id", "text")
    val m = Bpe.train(df, "text", 2).orderBy("step")
      .collect().map(r => (r.getString(3), r.getLong(4)))
    assert(m.toSeq === Seq(("xy", 3L), ("xyz", 1L)))
  }

  test("vocabCoverage: monotone integer cumsum, coverage ends ≤ 1, " +
      "rank 1 is the modal subword; top-k is TakeOrdered not global sort") {
    val merges = Seq((1, "a", "a", "aa", 4L), (2, "e", "r", "er", 3L))
      .toDF("step", "l", "r", "merged", "pair_count")
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents")
    val cov = Bpe.vocabCoverage(docs, "text", merges, 2, topV = 16)
    val rows = cov.orderBy("rank").collect()
    assert(rows.nonEmpty && rows.head.getInt(0) === 1)
    val cnts = rows.map(_.getLong(2))
    assert(cnts.zip(cnts.tail).forall { case (a, b) => b <= a },
      "counts must be ranked descending")
    val cums = rows.map(_.getLong(3))
    assert(cums.toSeq === cnts.scanLeft(0L)(_ + _).tail.toSeq,
      "cum_cnt must be the exact integer prefix sum")
    assert(rows.last.getDouble(4) <= 1.0 && rows.last.getDouble(4) > 0.0)
    // plan inspected in plan-evidence mode: the tiny result is
    // checkpointed to release the vocab-sized cache, which otherwise
    // hides the plan behind a Scan ExistingRDD
    val pe = SparkTestSession.planEvidence
    val plan = Bpe.vocabCoverage(
      Tables.load(pe, SparkTestSession.sfDir, "documents"), "text",
      pe.createDataFrame(merges.collect().toSeq.asJava, merges.schema), 2,
      topV = 16).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"the vocab must never be globally sorted:\n$plan")
  }

  test("composed subword budget (q194 shape): the corpus window is " +
      "bin-partitioned, never a global single partition; text never keys") {
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents")
    val merges = Seq((1, "e", "r", "er", 4L), (2, "t", "h", "th", 3L))
      .toDF("step", "l", "r", "merged", "pair_count")
    val enc = Bpe.encode(docs, "doc_id", "text", merges, 2)
    val plan = graft.scale.Selection.budgetSelect(
      enc.select(col("doc_id"), col("chars_per_sub"), col("n_sub")),
      "doc_id", "chars_per_sub", "n_sub", 0.5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(__bin"),
      s"the budget window must partition by score bin:\n$plan")
    assert(!plan.contains("hashpartitioning(text"),
      "text must never be a shuffle key")
  }

  test("train on the documents table matches itself across runs " +
      "(deterministic argmax); winning pair counts are non-increasing") {
    val docs = Tables.load(spark, SparkTestSession.sfDir, "documents")
      .limit(200)
    val a = Bpe.train(docs, "text", 6).orderBy("step").collect().map(_.toSeq)
    val b = Bpe.train(docs, "text", 6).orderBy("step").collect().map(_.toSeq)
    assert(a.toSeq === b.toSeq)
    // greedy BPE invariant: the winning pair count never increases
    // (new pairs created by a merge are bounded by the merged count)
    val counts = a.map(r => r(4).asInstanceOf[Long])
    assert(counts.zip(counts.tail).forall { case (x, y) => y <= x },
      s"max pair count must be non-increasing: ${counts.toSeq}")
  }

  /** Synthetic corpus with a pair space rich enough for 120+ merges —
    * the generated documents table reuses ~40 distinct words and
    * exhausts its adjacent-pair supply near 90. */
  private def hexCorpus() = spark.range(0, 400)
    .select(col("id").as("doc_id"),
      concat_ws(" ",
        expr("translate(lower(hex(id * 2654435761)), '0123456789', 'ghijklmnop')"),
        expr("translate(lower(hex(id * 40503 + 17)), '0123456789', 'ghijklmnop')"),
        expr("translate(reverse(lower(hex(id + 3))), '0123456789', 'ghijklmnop')")).as("text"))

  test("the merge loop survives a 120-merge run (the iteration-count " +
      "regime the scaladoc ceiling is about); invariants hold " +
      "end-to-end and the table drives encode") {
    val docs = hexCorpus()
    val m = Bpe.train(docs, "text", 120).orderBy("step").collect()
    assert(m.length === 120)
    assert(m.map(_.getInt(0)).toSeq === (1 to 120))
    val counts = m.map(_.getLong(4))
    assert(counts.zip(counts.tail).forall { case (x, y) => y <= x },
      s"winning pair count must be non-increasing across 120 steps")
    // every (l, r) pair is learned at most once
    val pairs = m.map(r => (r.getString(1), r.getString(2)))
    assert(pairs.distinct.length === pairs.length)
    // the 120-merge table drives a real encode (no null chains)
    val merges = spark.createDataFrame(
      m.map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq)
      .toDF("step", "l", "r", "merged", "pair_count")
    val enc = Bpe.encode(docs.limit(20), "doc_id", "text", merges, 120)
    assert(enc.filter(col("n_sub").isNull ||
      col("n_sub") <= 0).count() === 0L)
  }

  test("trainBatched(batch = 1) IS train — bit-identical table; " +
      "larger batches learn symbol-disjoint rounds with exact counts") {
    val docs = hexCorpus()
    val seq = Bpe.train(docs, "text", 8).orderBy("step")
      .collect().map(_.toSeq)
    val b1 = Bpe.trainBatched(docs, "text", 8, batch = 1).orderBy("step")
      .collect().map(_.toSeq)
    assert(seq.toSeq === b1.toSeq,
      "batch=1 must reproduce the sequential trainer exactly")
    // batch=8, 120 merges: ~15 rounds instead of 120 sequential jobs
    val fast = Bpe.trainBatched(docs, "text", 120, batch = 8)
      .orderBy("step").collect()
    assert(fast.length === 120)
    val pairs = fast.map(r => (r.getString(1), r.getString(2)))
    assert(pairs.distinct.length === pairs.length)
    // step 1 is the global argmax — identical to classic BPE's first
    // pick by construction
    assert(fast.head.toSeq === seq.head.toSeq)
    // the batched table drives encode too
    val merges = spark.createDataFrame(
      fast.map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq)
      .toDF("step", "l", "r", "merged", "pair_count")
    val enc = Bpe.encode(docs.limit(20), "doc_id", "text", merges, 120)
    assert(enc.filter(col("n_sub").isNull ||
      col("n_sub") <= 0).count() === 0L)
    // batched fail-fast parity
    val tiny = Seq((1L, "ab ab")).toDF("doc_id", "text")
    val ex = intercept[IllegalArgumentException] {
      Bpe.trainBatched(tiny, "text", 3, batch = 2)
    }
    assert(ex.getMessage.contains("exhausted"))
  }

  test("size-guarded local train path is bit-identical to the " +
      "distributed merge loop (r14 optimization pin)") {
    val docs = hexCorpus()
    // local path (default cap — the hex corpus vocab is tiny)
    val local = Bpe.train(docs, "text", 12).orderBy("step")
      .collect().map(_.toSeq)
    // force the distributed loop by disabling the local path
    val dist = Bpe.train(docs, "text", 12, 0L).orderBy("step")
      .collect().map(_.toSeq)
    assert(local.toSeq === dist.toSeq,
      "driver-side BPE must reproduce the distributed loop exactly")
    // fail-fast parity on exhaustion through BOTH paths
    val tiny2 = Seq((1L, "ab ab")).toDF("doc_id", "text")
    val exD = intercept[IllegalArgumentException] {
      Bpe.train(tiny2, "text", 3, 0L)
    }
    assert(exD.getMessage.contains("exhausted"))
    val exL = intercept[IllegalArgumentException] {
      Bpe.train(Seq((1L, "ab ab")).toDF("doc_id", "text"), "text", 3)
    }
    assert(exL.getMessage.contains("exhausted"))
  }
}
