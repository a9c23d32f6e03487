package graft

import graft.ingest.Scd2
import graft.scale.{Clusters, Similarity, TextStats}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class Round2OpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("connectedComponents labels every node with its component min id") {
    // two components: {1,2,3,4} (chain) and {10,11}; 99-99 self loop
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (99L, 99L))
      .toDF("id_a", "id_b")
    val got = Clusters.connectedComponents(pairs, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 99L -> 99L))
  }

  test("dedupClusters keeps singletons and sizes clusters over all docs") {
    val docs = Seq(1L, 2L, 3L, 7L).toDF("doc_id")
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val got = Clusters.dedupClusters(docs, pairs, "doc_id")
      .select("doc_id", "cluster_id", "cluster_size")
      .as[(Long, Long, Long)].collect().toSet
    assert(got === Set((1L, 1L, 2L), (2L, 1L, 2L), (3L, 3L, 1L), (7L, 7L, 1L)))
  }

  test("updateClusters folds a pair batch into existing labels: merges, " +
    "new components, and a new min id rerooting an old component") {
    // existing components {1,2,3} and {5,6}
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (5L, 5L), (6L, 5L))
      .toDF("node", "cluster_id")
    // batch: (2,6) merges the two old components; (10,11) is brand new;
    // (0,5) introduces a SMALLER id than the component it touches
    val batch = Seq((2L, 6L), (10L, 11L), (0L, 5L)).toDF("id_a", "id_b")
    val got = Clusters.updateClusters(labels, batch)
      .as[(Long, Long)].collect().toMap
    // {0,1,2,3,5,6} all collapse to min id 0; {10,11} to 10
    assert(got === Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L,
      5L -> 0L, 6L -> 0L, 10L -> 10L, 11L -> 10L))
    // must equal from-scratch CC over old-equivalent ∪ new pairs
    val scratch = Clusters.connectedComponents(
      Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
        .unionByName(batch), "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    assert(got === scratch)
  }

  test("updateClusters giant-first-batch: above the broadcast guard the " +
    "relabel join runs un-broadcast and the labels still equal " +
    "from-scratch CC") {
    // a first mega-batch touches MANY distinct labels: force the
    // contracted-label map over the (lowered) broadcast threshold
    val labels = (0L until 2000L).map(i => (i, i)).toDF("node", "cluster_id")
    val batch = (0L until 1000L).map(i => (2 * i, 2 * i + 1))
      .toDF("id_a", "id_b") // 1000 disjoint merges → 2000 touched labels
    val got = Clusters.updateClusters(labels, batch, "id_a", "id_b", 25,
      None, maxBroadcast = 100L).as[(Long, Long)].collect().toMap
    val scratch = Clusters.connectedComponents(batch, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    assert(got.size == 2000 && got === scratch)
  }

  test("updateClusters with an empty batch is the identity on labels") {
    val labels = Seq((1L, 1L), (2L, 1L)).toDF("node", "cluster_id")
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val got = Clusters.updateClusters(labels, empty)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L))
  }

  test("Scd2.build collapses runs and closes intervals at the next change") {
    val ch = Seq(
      (1L, "A", "2024-01-01", 1L), (1L, "A", "2024-01-05", 2L),
      (1L, "B", "2024-01-10", 3L), (1L, "A", "2024-01-20", 4L),
      (2L, "X", "2024-01-02", 5L))
      .toDF("k", "attr", "d", "tie")
      .withColumn("d", col("d").cast("timestamp"))
    val got = Scd2.build(ch, "k", "attr", "d", "tie")
      .select(col("k"), col("attr"), col("valid_from").cast("string"),
        col("valid_to").cast("string"), col("is_current"))
      .as[(Long, String, String, String, Boolean)].collect().toSet
    assert(got === Set(
      (1L, "A", "2024-01-01 00:00:00", "2024-01-10 00:00:00", false),
      (1L, "B", "2024-01-10 00:00:00", "2024-01-20 00:00:00", false),
      (1L, "A", "2024-01-20 00:00:00", null, true),
      (2L, "X", "2024-01-02 00:00:00", null, true)))
  }

  test("Cdc.apply: latest change wins, deletes drop, inserts add, rest pass") {
    import graft.ingest.Cdc
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val changes = Seq(
      (1L, "x", "U", 1), (1L, "y", "U", 2), // two updates: seq 2 wins
      (2L, "b", "D", 1),                    // delete key 2
      (9L, "new", "I", 1))                  // insert key 9
      .toDF("k", "v", "op", "seq")
    val got = Cdc.apply(base, changes, Seq("k"), "op", "seq")
      .as[(Long, String)].collect().toSet
    assert(got === Set((1L, "y"), (3L, "c"), (9L, "new")))
  }

  test("Scd2.build treats a NULL attribute period as a real change") {
    val ch = Seq(
      (1L, Some("A"), "2024-01-01", 1L),
      (1L, None, "2024-01-05", 2L),
      (1L, Some("A"), "2024-01-10", 3L))
      .toDF("k", "attr", "d", "tie")
      .withColumn("d", col("d").cast("timestamp"))
    val got = Scd2.build(ch, "k", "attr", "d", "tie")
      .select(col("attr"), col("valid_from").cast("string"))
      .as[(Option[String], String)].collect().toSet
    assert(got === Set(
      (Some("A"), "2024-01-01 00:00:00"),
      (None, "2024-01-05 00:00:00"),
      (Some("A"), "2024-01-10 00:00:00")))
  }

  test("connectedComponents throws instead of returning wrong labels at maxIter") {
    // chain 0-1-2-...-9 has diameter 9; 2 rounds cannot converge.
    // Local path disabled: maxIter only governs the distributed loop.
    val pairs = (0L until 9L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    intercept[IllegalStateException] {
      Clusters.connectedComponents(pairs, "id_a", "id_b", 2, None,
        maxLocal = 0L)
    }
  }

  test("connectedComponents: local union-find path equals the distributed " +
    "loop, and an over-cap edge list falls through to distributed") {
    // chain + star + self-loop + duplicate/reversed edges
    val pairs = (Seq((1L, 2L), (2L, 3L), (3L, 4L), (2L, 1L), (7L, 7L),
      (10L, 11L), (10L, 12L), (12L, 10L)) ++
      (100L until 115L).map(i => (i, i + 1))).toDF("id_a", "id_b")
    val local = Clusters.connectedComponents(pairs, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    val dist = Clusters.connectedComponents(pairs, "id_a", "id_b", 25,
      None, maxLocal = 0L).as[(Long, Long)].collect().toMap
    assert(local === dist)
    // cap smaller than the edge list: the probe overflows and the
    // distributed loop answers — labels identical either way
    val fallback = Clusters.connectedComponents(pairs, "id_a", "id_b", 25,
      None, maxLocal = 4L).as[(Long, Long)].collect().toMap
    assert(fallback === dist)
  }

  test("connectedComponents sizing: small graphs (hinted or not) pay " +
    "exactly ONE bounded probe job, a big hint skips every driver " +
    "collect, and a lying small hint still answers correctly") {
    // repartition makes the pair list genuinely distributed — a plain
    // Seq.toDF LocalRelation would collect driver-side with ZERO jobs
    // and hide the probe cost this test pins
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (5L, 5L), (7L, 8L))
      .toDF("id_a", "id_b").repartition(2)
    val expect = Clusters.connectedComponents(pairs, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    def countJobs(body: => Unit): Int = JobLog.during(spark)(body).size
    // hinted-small and unhinted calls share the single bounded probe
    // collect (no separate count sizing pass), so their job counts are
    // IDENTICAL — the r7 count-then-collect pair would make the
    // unhinted call strictly more expensive here
    var got: Map[Long, Long] = null
    val hintedJobs = countJobs {
      got = Clusters.connectedComponents(pairs, "id_a", "id_b",
        edgeCountHint = Some(5L)).as[(Long, Long)].collect().toMap
    }
    assert(got === expect)
    val unhintedJobs = countJobs {
      Clusters.connectedComponents(pairs, "id_a", "id_b")
        .as[(Long, Long)].collect()
    }
    assert(hintedJobs >= 1 && unhintedJobs <= hintedJobs,
      s"hinted $hintedJobs jobs vs unhinted $unhintedJobs — the unhinted " +
        "path must not pay a sizing pass beyond the single probe collect")
    // big hint (full-corpus path): straight to the distributed loop —
    // the local path's plan is a LocalRelation, the distributed one
    // is not, so the plan shape proves which path answered
    val big = Clusters.connectedComponents(pairs, "id_a", "id_b",
      edgeCountHint = Some(Clusters.CcLocalMaxEdgesDefault + 1))
    assert(!big.queryExecution.analyzed.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    assert(big.as[(Long, Long)].collect().toMap === expect)
    // lying small hint with a tiny cap: the limit(cap+1) overflow falls
    // through to the distributed loop — never a wrong answer
    val lied = Clusters.connectedComponents(pairs, "id_a", "id_b", 25,
      Some(1L), maxLocal = 2L).as[(Long, Long)].collect().toMap
    assert(lied === expect)
  }

  test("bigrams: empty and single-token docs yield empty arrays") {
    val df = Seq("", "word", "two words here").toDF("text")
      .select(TextStats.bigrams(col("text")).as("b"))
    val got = df.as[Seq[String]].collect()
    assert(got(0) === Seq() && got(1) === Seq()
      && got(2) === Seq("two words", "words here"))
  }

  test("repetitionMetrics flags a repetitive doc and zeroes an empty one") {
    val df = Seq((1L, "spam spam spam spam"), (2L, "all fresh words here"),
      (3L, "123 456")).toDF("doc_id", "text")
    val got = TextStats.repetitionMetrics(df, "doc_id", "text")
      .select("doc_id", "n_toks", "dup_tok_ratio", "top_tok_share",
        "dup_bigram_ratio")
      .as[(Long, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L)._2 == 4L && got(1L)._3 == 0.75 && got(1L)._4 == 1.0)
    assert(math.abs(got(1L)._5 - (1.0 - 1.0 / 3.0)) < 1e-5)
    assert(got(2L)._3 == 0.0 && got(2L)._5 == 0.0)
    assert(got(3L)._2 == 0L && got(3L)._3 == 0.0 && got(3L)._4 == 0.0)
  }

  test("redactPii masks emails and phones, leaves clean text alone") {
    val df = Seq(
      "mail me at jo.doe+x@corp.example.org today",
      "call +1 (555) 123-4567 now",
      "nothing sensitive here").toDF("text")
      .select(TextStats.redactPii(col("text")).as("r"))
    val got = df.as[String].collect()
    assert(got(0) === "mail me at [EMAIL] today")
    assert(got(1) === "call [PHONE] now")
    assert(got(2) === "nothing sensitive here")
  }

  test("quantizeInt8 maps max-magnitude component to ±127 and stays integral") {
    val df = Seq(Seq(0.5, -1.0, 0.25)).toDF("v")
      .select(Similarity.quantizeInt8(col("v")).as("q"))
    val got = df.as[Seq[Double]].collect().head
    assert(got === Seq(64.0, -127.0, 32.0))
    // quantized cosine close to exact
    val pair = Seq((Seq(0.5, -1.0, 0.25), Seq(0.45, -0.95, 0.3)))
      .toDF("a", "b")
      .select(
        Similarity.cosine(col("a"), col("b")).as("exact"),
        Similarity.cosine(Similarity.quantizeInt8(col("a")),
          Similarity.quantizeInt8(col("b"))).as("approx"))
    val (e, a) = pair.as[(Double, Double)].collect().head
    assert(math.abs(e - a) < 0.01)
  }

  test("GeoMean aggregator is partitioning-invariant (1 vs 8 partitions)") {
    val vals = (1 to 1000).map(_.toDouble * 1.5)
    val udafCol = org.apache.spark.sql.functions.udaf(
      graft.functions.GeoMean, org.apache.spark.sql.Encoders.DOUBLE)
    def run(parts: Int): Double =
      vals.toDF("x").repartition(parts)
        .agg(udafCol(col("x"))).as[Double].collect().head
    val expected = math.exp(vals.map(math.log).sum / vals.size)
    assert(math.abs(run(1) - expected) < 1e-9)
    assert(math.abs(run(8) - expected) < 1e-9)
  }

  test("frameSample emits capped frames with exact byte accounting") {
    import graft.scale.Multimodal
    val media = Seq(
      (1L, "a" * 600),   // 3 frames: 256 + 256 + 88
      (2L, "xy"),        // 1 short frame
      (3L, ""),          // empty: no frames
      (4L, "b" * 2000))  // capped at 4 frames
      .toDF("doc_id", "text")
    val got = Multimodal.frameSample(
      Multimodal.packText(media, "doc_id", "text"), 256, 4)
      .select("media_id", "frame_no", "frame_bytes", "frame_checksum")
      .as[(Long, Int, Int, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    assert(got(1L).map(_._3).toSeq === Seq(256, 256, 88))
    assert(got(1L).head._4 === 256L * 'a')
    assert(got(2L).toSeq === Seq((2L, 0, 2, 2L * 'x' + 1)))
    assert(!got.contains(3L))
    assert(got(4L).length === 4 && got(4L).map(_._3).sum === 1024)
  }

  test("GeoMean ignores NULL and non-positive inputs like built-in aggs") {
    val udafCol = org.apache.spark.sql.functions.udaf(
      graft.functions.GeoMean, org.apache.spark.sql.Encoders.DOUBLE)
    val got = Seq[(Int, Option[Double])](
      (1, Some(2.0)), (1, Some(8.0)), (1, None), (1, Some(0.0)), (1, Some(-3.0)),
      (2, None), (2, Some(-1.0)))
      .toDF("k", "x").groupBy("k").agg(udafCol(col("x")).as("g"))
      .as[(Int, Double)].collect().toMap
    assert(math.abs(got(1) - 4.0) < 1e-12) // geomean(2, 8), junk skipped
    assert(got(2).isNaN)                   // no valid inputs
  }

  test("connectedComponents: 10k-degree supernode converges in bounded rounds") {
    // star: hub 0 with 10k spokes (degree-skew worst case) + a disjoint
    // chain, + a spoke-to-spoke edge creating a triangle through the hub
    val star = spark.range(1, 10001)
      .select(lit(0L).as("id_a"), col("id").as("id_b"))
    val chain = Seq((20001L, 20002L), (20002L, 20003L)).toDF("id_a", "id_b")
    val tri = Seq((1L, 2L)).toDF("id_a", "id_b")
    val pairs = star.unionByName(chain).unionByName(tri)
    // diameter 2 ⇒ must converge well inside 4 rounds — a skew-induced
    // stall (or silent wrong labels) would throw here. Local path off:
    // this test pins the DISTRIBUTED loop's skew behavior.
    val labels = graft.scale.Clusters
      .connectedComponents(pairs, "id_a", "id_b", 4, None, maxLocal = 0L)
      .as[(Long, Long)].collect().toMap
    assert(labels.size === 10004)
    assert(labels(10000L) === 0L && labels(1L) === 0L && labels(2L) === 0L)
    assert(labels(20003L) === 20001L)
    assert(labels.values.toSet === Set(0L, 20001L))
  }
}
