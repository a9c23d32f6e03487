package graft.scale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (BASELINE.json extension).
  *
  * Baseline: brute-force cosine top-k — exact, O(|Q|·|C|); the query
  * side broadcasts so the corpus never shuffles. Scale path: LSH
  * (random-hyperplane sign buckets) — candidates only within a bucket,
  * O(|C|) bucketing + small bucket-local joins; recall tunable via
  * plane count (fewer planes → bigger buckets → higher recall/cost).
  * An IVF variant is the same shape with learned centroids instead of
  * random planes.
  */
object Similarity {

  /** Symmetric int8 scalar quantization: q_i = round(x_i · 127/max|x|),
    * kept as array<double> so the cosine kernels apply unchanged.
    * Integer-valued components make downstream dot products EXACT
    * (no float-summation-order sensitivity) — 4× smaller vectors and
    * reproducible scores, the standard ANN compression trade. Callers
    * must filter zero vectors (max|x| = 0) first. */
  def quantizeInt8(v: Column): Column =
    graft.functions.VectorMath.quantizeInt8Col(v)

  /** [[quantizeInt8]] composed from built-ins — the cross-check form
    * (bit-equal, ScaleSpec-pinned; the HOF chain is CodegenFallback
    * and measured 0.58 s per 2k vectors per core interpreted). */
  def quantizeInt8Composed(v: Column): Column = {
    val mx = array_max(transform(v, x => abs(x)))
    transform(v, x => round(x * lit(127.0) / mx, 0))
  }

  /** Cosine similarity between two array<double> columns — the native
    * codegen expression (one fused pass, no HOF interpreter). */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorMath.cosineCol(a, b)

  /** The same semantics composed from built-in higher-order functions —
    * kept as the cross-check (bit-identical, asserted in ScaleSpec) and
    * as the form available without the graft expression library. */
  def cosineComposed(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, _ * _), lit(0.0), _ + _)
    val na = sqrt(aggregate(transform(a, x => x * x), lit(0.0), _ + _))
    val nb = sqrt(aggregate(transform(b, x => x * x), lit(0.0), _ + _))
    dot / (na * nb)
  }

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Exact top-k neighbors for each query row. `queries` must be small
    * (it is broadcast); self-matches (same id) are excluded. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"),
      asDouble(col(vecCol)).as("__qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      asDouble(col(vecCol)).as("__cv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", round(cosine(col("__qv"), col("__cv")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "sim", "rank")
  }

  /** Deterministic random hyperplanes (dim × nPlanes). */
  private[graft] def planes(dim: Int, nPlanes: Int, seed: Long): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(nPlanes)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-bucket id for a vector: one bit per hyperplane. Round-15:
    * one fused codegen pass ([[graft.functions.VectorMath.signBucket]])
    * — the composed form ran nPlanes interpreted
    * aggregate(zip_with(…)) chains per row (CodegenFallback, no
    * whole-stage codegen) in every banded-LSH hot loop.
    * [[lshBucketComposed]] is the built-in chain it is bit-equal to
    * (ScaleSpec pins the identity, null/NaN/length edges included). */
  def lshBucket(vec: Column, dim: Int, nPlanes: Int, seed: Long): Column =
    graft.functions.VectorMath.signBucketCol(vec, planes(dim, nPlanes, seed))

  /** [[lshBucket]] composed from built-ins — the cross-check form. */
  private[graft] def lshBucketComposed(vec: Column, dim: Int, nPlanes: Int,
      seed: Long): Column = {
    val ps = planes(dim, nPlanes, seed)
    ps.zipWithIndex.map { case (p, i) =>
      val dot = aggregate(
        zip_with(vec, typedLit(p), (x, w) => x * w), lit(0.0), _ + _)
      when(dot >= 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
  }

  /** IVF-style ANN: corpus partitioned by nearest of `nCells` seed
    * centroids (deterministic: the first nCells corpus vectors by id —
    * a k-means fit plugs into the same shape); each query probes its
    * `nProbe` nearest cells and ranks the probed cells' vectors by
    * exact cosine. See [[ivfCandidates]] for what the driver holds;
    * the only shuffle is the per-query rank window on query_id. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nCells: Int = 16, nProbe: Int = 2): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    ivfCandidates(corpus, queries, idCol, vecCol, nCells, nProbe)
      .withColumn("sim", round(cosine(col("__qv"), col("__cv")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "sim", "rank")
  }

  /** (query_id, neighbor_id, __qv, __cv) candidate pairs of the IVF
    * index: corpus vectors in any of the query's nProbe nearest cells
    * — the probe pipeline shared by [[ivfTopK]] and [[ivfRecall]].
    *
    * The nCells seed centroids (nCells × dim doubles, bounded by the
    * index parameters, not the corpus) are collected to the driver —
    * the [[KMeans.assignWithVectors]] pattern — so both sides rank
    * cells in a projection: each corpus vector takes its nearest cell
    * with the fused [[graft.functions.VectorMath.bestCellCol]], each
    * query its nProbe nearest with `sort_array` over inlined
    * (round-9 cosine, −cell) structs. Both orders are (round-9 cosine
    * desc, cell asc), NaN first, null last — the window order they
    * replace. The probe list (|queries| × nProbe rows) is broadcast
    * into the join, so the corpus is scanned once and never shuffled
    * whole. */
  private def ivfCandidates(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, nCells: Int, nProbe: Int): DataFrame = {
    require(nCells >= 1 && nProbe >= 1,
      s"nCells and nProbe must be >= 1, got $nCells and $nProbe")
    val seeds = corpus.orderBy(col(idCol)).limit(nCells)
      .select(col(idCol).cast("long"), asDouble(col(vecCol))).collect()
      .map(r => (r.getLong(0),
        Option(r.getSeq[Double](1)).fold(Seq.empty[Double])(_.toSeq))).toSeq
    // an empty corpus has no seeds; one placeholder cell keeps the
    // plan well-formed (no corpus row exists to land in it)
    val cent = if (seeds.isEmpty) Seq((0L, Seq.empty[Double])) else seeds
    val assigned = corpus.select(col(idCol).as("neighbor_id"),
        asDouble(col(vecCol)).as("__cv"))
      .withColumn("cell",
        graft.functions.VectorMath.bestCellCol(col("__cv"), cent)("cell"))
    val ranked = sort_array(array(cent.map { case (cell, ce) =>
      struct(round(cosine(col("__qv"), typedLit(ce)), 9).as("__d"),
        lit(-cell).as("__nc"))
    }: _*), asc = false)
    val probes = queries.select(col(idCol).as("query_id"),
        asDouble(col(vecCol)).as("__qv"))
      .select(col("query_id"), col("__qv"),
        explode(slice(ranked, 1, nProbe)).as("__p"))
      .select(col("query_id"), col("__qv"), (-col("__p.__nc")).as("cell"))
    assigned.join(broadcast(probes), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
  }

  /** Recall@k of banded sign-LSH candidate generation as a CHECKED
    * contract: for each query, the fraction of the exact brute-force
    * top-k ([[bruteForceTopK]]) that the banded candidate set
    * ([[Dedup.vecBanded]], `bands` independently-seeded bucket
    * projections) retains. The corpus-wide MEAN recall is gated
    * in-plan with `assert_true` — a recall regression fails the query
    * instead of silently degrading the index (the q133 exactness-gate
    * pattern applied to ANN).
    *
    * Determinism: per-query recall is n_hit/k and the mean is
    * Σ n_hit / (n_queries · k) — exact-long arithmetic divided once,
    * never a float `avg` whose combine order could drift.
    *
    * Scale shape: the ground-truth side is the broadcast-query brute
    * pass (|Q| small by contract); the candidate side is the banded
    * bucket join with the corpus never broadcast — the same plan the
    * production dedup path runs, so the measured recall is the
    * deployed operator's recall, not a proxy's. */
  def lshRecall(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, dim: Int, nPlanes: Int, bands: Int,
      seed: Long, minMeanRecall: Double): DataFrame = {
    val cand = Dedup.vecBanded(queries, idCol, vecCol, "query_id", "__qv",
        dim, nPlanes, bands, seed)
      .select(col("query_id"), col("__band"), col("__bucket"))
      .join(Dedup.vecBanded(corpus, idCol, vecCol, "neighbor_id", "__cv",
          dim, nPlanes, bands, seed)
        .select(col("neighbor_id"), col("__band"), col("__bucket"))
        .hint("shuffle_hash"),
        Seq("__band", "__bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id").distinct()
    recallGate(bruteForceTopK(corpus, queries, idCol, vecCol, k), cand,
      k, minMeanRecall, "planes/bands")
  }

  /** [[lshRecall]] for the IVF index: recall@k of the nProbe-cell
    * candidate set — the same brute-truth + in-plan mean-recall gate,
    * measuring the exact candidate pipeline [[ivfTopK]] deploys. */
  def ivfRecall(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nCells: Int, nProbe: Int,
      minMeanRecall: Double): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val cand = ivfCandidates(corpus, queries, idCol, vecCol, nCells, nProbe)
      .select("query_id", "neighbor_id")
    recallGate(bruteForceTopK(corpus, queries, idCol, vecCol, k), cand,
      k, minMeanRecall, "cells/probes")
  }

  /** Shared recall@k gate: per-query hit counts of `cand` against the
    * brute truth, the corpus-wide mean as exact-long arithmetic, and
    * an in-plan assert_true floor. */
  private def recallGate(brute: DataFrame, cand: DataFrame, k: Int,
      minMeanRecall: Double, tuneHint: String): DataFrame = {
    val hits = brute.join(cand, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
    val perQuery = brute.select("query_id").distinct()
      .join(hits, Seq("query_id"), "left")
      .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
    val totals = perQuery
      .agg(sum(col("n_hit")).as("__tot"), count(lit(1)).as("__nq"))
      .select((col("__tot").cast("double") /
        (col("__nq") * k).cast("double")).as("mean_recall"))
    perQuery.crossJoin(broadcast(totals))
      .withColumn("recall", col("n_hit").cast("double") / lit(k.toDouble))
      .filter(assert_true(col("mean_recall") >= minMeanRecall,
        lit(f"ANN recall contract violated: mean recall@$k < " +
          f"$minMeanRecall%.2f — re-tune $tuneHint")).isNull)
      .select(col("query_id"), col("n_hit"), col("recall"),
        col("mean_recall"))
  }

  /** Product-quantization ANN (ADC — asymmetric distance computation).
    *
    * The 100 TB story: PQ is the COMPRESSION leg of the ANN stack.
    * [[quantizeInt8]] shrinks vectors 8×; PQ shrinks them
    * dim·8 bytes → m bytes (64-dim float64 → 8 bytes at m=8, 64×) by
    * cutting each vector into `m` subvectors and storing only the id
    * ("code") of the nearest of `ksub` per-subspace codebook centroids.
    * Scoring never decompresses the corpus: the query stays exact and
    * each candidate's approximate dot product is the sum over subspaces
    * of dot(query subvector, coded centroid) — m lookups + m small dots
    * instead of one dim-wide pass over data that no longer exists.
    * At scale the codes column is what sits in memory next to the
    * posting lists; the float vectors stay in cold storage for re-rank.
    *
    * Codebook: per subspace, the subvectors of the first `ksub` corpus
    * rows by id — the q57 IVF seeding, deterministic so the oracle
    * replays it (a per-subspace k-means fit plugs into the same shape).
    * Bounded driver state: ksub·dim doubles (the KMeans centroid
    * pattern), inlined as literals so encode+score are pure
    * expressions — the corpus never shuffles and the only exchange in
    * the plan is the per-query top-k window.
    *
    * Determinism discipline: code assignment ranks round-9 dots (ties
    * → lowest code, both engines); the ADC total is a FIXED
    * left-to-right chain of round-9 subspace terms (the q141 BM25
    * shape), rounded to 6 — bit-stable vs the SQL replay. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, dim: Int, m: Int = 8,
      ksub: Int = 16): DataFrame =
    pqRanked(corpus, queries, idCol, vecCol, dim, m, ksub)
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "score", "rank")

  /** The full ADC ranking (every corpus row scored per query, ranked)
    * with no top-k cut — [[pqTopK]] filters it by a constant,
    * [[pqRecallFrac]] by a plan-derived candidate count. */
  private def pqRanked(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, dim: Int, m: Int,
      ksub: Int): DataFrame = {
    val enc = pqEncode(corpus, idCol, vecCol, dim, m, ksub)
    val q = queries.select(col(idCol).as("query_id"),
      asDouble(col(vecCol)).as("__qv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    // round-15: ONE fused ADC pass per (query, candidate) — the
    // composed m-term chain ran 8 interpreted aggregate(zip_with(
    // slice…, element_at…)) per pair (ScaleSpec pins bit-equality)
    enc.frame.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("score", round(graft.functions.VectorMath.pqAdcCol(
        col("__qv"), col("codes"), enc.cb, enc.sub), 6))
      .withColumn("rank", row_number().over(w).cast("int"))
  }

  /** Recall@k of the PQ-ADC candidate list (top `nCand` by approximate
    * score) against exact brute truth — [[lshRecall]]'s checked
    * contract applied to the compressed index, gating the compression
    * loss itself: quantization that starts dropping true neighbors
    * fails the query instead of silently degrading retrieval. */
  def pqRecall(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, dim: Int, m: Int, ksub: Int, nCand: Int,
      minMeanRecall: Double): DataFrame =
    recallGate(bruteForceTopK(corpus, queries, idCol, vecCol, k),
      pqTopK(corpus, queries, idCol, vecCol, nCand, dim, m, ksub)
        .select("query_id", "neighbor_id"),
      k, minMeanRecall, "m/ksub/nCand")

  /** [[pqRecall]] with the candidate-list size derived INSIDE the
    * plan as max(nCandMin, ⌈nCandFrac·|corpus|⌉) — the corpus-count
    * scalar rides a one-row broadcast (the SQL scalar-subquery shape),
    * so the whole recall gate stays ONE lazy plan with no driver-side
    * count action: a bench or audit that runs the query runs exactly
    * one job, and the corpus-fraction shortlist contract (q150) scales
    * with the index instead of being frozen at build-time N. */
  def pqRecallFrac(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, dim: Int, m: Int, ksub: Int,
      nCandMin: Int, nCandFrac: Double,
      minMeanRecall: Double): DataFrame = {
    val nFrame = corpus.agg(greatest(lit(nCandMin.toLong),
      ceil(count(lit(1)) * nCandFrac).cast("long")).as("__ncand"))
    val cand = pqRanked(corpus, queries, idCol, vecCol, dim, m, ksub)
      .crossJoin(broadcast(nFrame))
      .filter(col("rank") <= col("__ncand"))
      .select("query_id", "neighbor_id")
    recallGate(bruteForceTopK(corpus, queries, idCol, vecCol, k), cand,
      k, minMeanRecall, "m/ksub/nCand")
  }

  /** PQ-encoded corpus: (neighbor_id, codes array<int> of length m) +
    * the codebook that decodes it. Encode is one narrow pass — per
    * subspace, argmax of round-9 dots against the ksub inlined
    * centroids (first-occurrence tie = lowest code). */
  private case class PqIndex(frame: DataFrame, cb: Seq[Seq[Seq[Double]]],
      sub: Int)

  private def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int, ksub: Int): PqIndex = {
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    val seeds: Seq[Seq[Double]] = corpus.orderBy(col(idCol)).limit(ksub)
      .select(asDouble(col(vecCol)).as("v")).collect()
      .map(_.getSeq[Double](0).toSeq).toSeq
    val cb = (0 until m).map(s => seeds.map(_.slice(s * sub, (s + 1) * sub)))
    // round-15: ONE fused codegen pass per corpus row — the composed
    // form ran m·ksub interpreted aggregate(zip_with(slice…)) chains
    // per row (ScaleSpec pins bit-equality, tie/null/short edges
    // included)
    val frame = corpus
      .select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("__cv"))
      .select(col("neighbor_id"), graft.functions.VectorMath.pqEncodeCol(
        col("__cv"), cb, sub).as("codes"))
    PqIndex(frame, cb, sub)
  }

  /** [[graft.functions.VectorMath.pqEncode]] composed from built-ins —
    * the cross-check form: per subspace, argmax of round-9 dots
    * against the ksub inlined centroids (first-occurrence tie = lowest
    * code). */
  private[graft] def pqCodesComposed(v: Column,
      cb: Seq[Seq[Seq[Double]]], sub: Int): Column = {
    def codeFor(s: Int): Column = {
      val dots = array(cb(s).map(cent => round(aggregate(
        zip_with(slice(v, s * sub + 1, sub), typedLit(cent), _ * _),
        lit(0.0), _ + _), 9)): _*)
      (array_position(dots, array_max(dots)) - 1).cast("int")
    }
    array(cb.indices.map(codeFor): _*)
  }

  /** [[graft.functions.VectorMath.pqAdc]] composed from built-ins —
    * the cross-check form: the fixed left-to-right chain of round-9
    * addends, centroid lookups via element_at into the inlined
    * per-subspace codebook. */
  private[graft] def pqAdcComposed(qv: Column, codes: Column,
      cb: Seq[Seq[Seq[Double]]], sub: Int): Column =
    cb.indices.map { s =>
      round(aggregate(
        zip_with(slice(qv, s * sub + 1, sub),
          element_at(typedLit(cb(s)), element_at(codes, s + 1) + 1),
          _ * _),
        lit(0.0), _ + _), 9)
    }.reduce(_ + _)

  /** LSH-bucketed ANN: candidates share the query's bucket; top-k by
    * exact cosine within candidates. Returns the same shape as
    * bruteForceTopK (rank gaps where the bucket has < k members). */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, dim: Int, nPlanes: Int = 8,
      seed: Long = 42L): DataFrame = {
    val bucket = (v: Column) => lshBucket(v, dim, nPlanes, seed)
    val c = corpus.select(col(idCol).as("neighbor_id"),
      asDouble(col(vecCol)).as("__cv"))
      .withColumn("__bucket", bucket(col("__cv")))
    val q = queries.select(col(idCol).as("query_id"),
      asDouble(col(vecCol)).as("__qv"))
      .withColumn("__bucket", bucket(col("__qv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    c.join(broadcast(q), Seq("__bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", round(cosine(col("__qv"), col("__cv")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "sim", "rank")
  }
}
