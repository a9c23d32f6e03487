package graft.scale

import graft.core.Ckpt

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic Lloyd k-means over an embedding column, and the
  * SemDeDup-style semantic dedup built on it: cluster the corpus, then
  * prune near-identical documents WITHIN each cluster (pairwise cosine
  * is only ever computed against cluster-mates, never all-pairs).
  *
  * Determinism contract (what makes the whole pipeline replayable by a
  * SQL oracle, the same discipline as the reproducible MinHash mode):
  *  - seed centroids = the first k vectors by id;
  *  - assignment ranks round(cosine, 9) desc with cell-id tiebreak, so
  *    both engines make identical cell decisions;
  *  - centroid update is sum/count per dimension — callers should feed
  *    INTEGER-VALUED vectors ([[Similarity.quantizeInt8]]): integer
  *    sums are exact in IEEE doubles regardless of row order, so the
  *    updated centroids are bit-identical run to run (a raw-float sum
  *    would drift with Spark's nondeterministic partial-agg order).
  *
  * Scale design: per iteration, assignment is ONE narrow projection
  * (centroids inlined as literals — no join, no window, no extra
  * shuffle) + one shuffle for the per-dimension means; centroids are
  * collected to the driver each round (bounded k × dim, the Spark
  * MLlib pattern) which also truncates lineage — the plan does not
  * grow with iterations. The
  * within-cluster dedup join keys on cell id, so candidate pairs are
  * bounded by the largest cluster, not the corpus.
  */
object KMeans {

  /** Final cluster assignment after `iters` Lloyd rounds:
    * (idCol, cell, sim) — `cell` is the seed vector's id, `sim` the
    * round-6 cosine to the final centroid. */
  def assign(df: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int): DataFrame =
    assignWithVectors(df, idCol, vecCol, k, iters)
      .select(col(idCol), col("cell"), col("sim"))

  /** [[assign]] keeping the (cast) vector column `__q` for downstream
    * within-cluster work. */
  private[graft] def assignWithVectors(df: DataFrame, idCol: String,
      vecCol: String, k: Int, iters: Int, fused: Boolean = true)
      : DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    // Materialize the (id, vector) working set once: every Lloyd round
    // plus the seed scan re-reads it, so without this the upstream plan
    // (source scan + joins + quantization) re-runs iters+1 times — the
    // standard iterative-ML input cache, with lineage truncated so the
    // per-round plans stay flat. Result-owned ([[Ckpt]]): the returned
    // frame reads it, so its blocks go with that frame (a caller that
    // consumes the frame eagerly adopts it instead — curateV2).
    // Widened BEFORE the checkpoint (guide §2.5, Par.widen): the
    // embeddings source is few-file, so without this every Lloyd
    // round's cosine battery would run on the checkpoint's file-count
    // partitions, not the cores.
    val v = Ckpt.local(graft.core.Par.widen(
      df.select(col(idCol).cast("long").as("__id"),
        col(vecCol).cast("array<double>").as("__q")), col("__id")))

    // seed centroids: first k vectors by id (bounded collect, k rows)
    var centroids: Seq[(Long, Seq[Double])] = v.orderBy(col("__id"))
      .limit(k).collect().toSeq
      .map((r: Row) => (r.getLong(0), r.getSeq[Double](1)))

    def assignOnce(cent: Seq[(Long, Seq[Double])]): DataFrame = {
      // The centroids are a bounded driver-side list (k × dim), so
      // assignment needs neither a join nor a per-row window: ONE fused
      // argmax pass (BestCellExpr) holds the centroid matrix as a
      // reference object and ranks (round-9 cosine desc, cell asc) —
      // the composed form inlined k cosine expressions + greatest()
      // over k 4-field structs, recomputing the query norm k times and
      // paying 2k BigDecimal roundings + k struct allocations per row
      // (ScaleSpec pins bit-equality against the composed form below).
      val best =
        if (fused) graft.functions.VectorMath.bestCellCol(col("__q"), cent)
        else {
          val cands = cent.map { case (cellId, ce) =>
            val cos = Similarity.cosine(col("__q"), lit(ce.toArray))
            struct(round(cos, 9).as("__d"), lit(-cellId).as("__nc"),
              round(cos, 6).as("sim"), lit(cellId).as("cell"))
          }
          if (cands.size == 1) cands.head else greatest(cands: _*)
        }
      v.withColumn("__best", best)
        .select(col("__id"), col("__q"), col("__best.cell").as("cell"),
          col("__best.sim").as("sim"))
    }

    for (_ <- 1 until iters) {
      val assigned = assignOnce(centroids)
      // per-dimension mean: exact for integer-valued inputs, collected
      // bounded (k × dim rows)
      centroids = assigned
        .select(col("cell"),
          posexplode_outer(col("__q")).as(Seq("__pos", "__val")))
        .filter(col("__val").isNotNull) // generate hygiene — Dedup doc
        .groupBy(col("cell"), col("__pos"))
        .agg(sum(col("__val")).as("__s"), count(lit(1)).as("__n"))
        .groupBy(col("cell"))
        .agg(transform(array_sort(collect_list(struct(col("__pos"),
          (col("__s") / col("__n")).as("__m")))), _.getField("__m")).as("__ce"))
        .collect().toSeq
        .map((r: Row) => (r.getLong(0), r.getSeq[Double](1)))
    }
    assignOnce(centroids)
      .withColumnRenamed("__id", idCol)
  }

  /** Semantic dedup: k-means clustering + within-cluster lower-id
    * near-duplicate marking, BOUNDED per row. Output:
    * (idCol, cell, sim, is_dup) where is_dup = 1 iff one of the
    * `maxNeighbors` nearest PRECEDING cluster-mates (by id order) has
    * cosine ≥ minCosine (keep the is_dup = 0 rows to dedup the corpus).
    *
    * Why the bound exists: an unbounded within-cluster self-join is
    * O(Σ cᵢ²) — at small k one hot cell makes that quadratic in the
    * corpus, which is exactly the failure mode SemDeDup's k ≈ 10⁴–10⁵
    * parameterization avoids. Here nothing depends on the operator
    * being parameterized well: each row is compared against AT MOST
    * `maxNeighbors` predecessors via a sliding window frame, so total
    * work is O(n · maxNeighbors · dim) and one shuffle on cell — no
    * join, no pair blow-up, whatever the cluster-size distribution.
    * For clusters of ≤ maxNeighbors+1 rows the semantics are identical
    * to the unbounded lower-id rule; beyond that, a duplicate pair
    * more than maxNeighbors apart in id order within a cell is missed
    * by design (raise k, not maxNeighbors, if that matters — near-dups
    * land in the same cell AND adjacently only when cells are tight). */
  def semanticDups(df: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int, minCosine: Double, maxNeighbors: Int = 64): DataFrame = {
    require(maxNeighbors >= 1, "maxNeighbors must be >= 1")
    val a = assignWithVectors(df, idCol, vecCol, k, iters)
    val w = Window.partitionBy(col("cell")).orderBy(col(idCol))
      .rowsBetween(-maxNeighbors, -1)
    // fused verdict (AnyCosineGeExpr): the composed
    // when(exists(__prev, v -> round(cosine,6) >= min), 1).otherwise(0)
    // runs the exists HOF interpreted, one boxed lambda per neighbor —
    // this is the pipeline's per-row hot loop (≤ maxNeighbors cosines);
    // semanticDupsComposed keeps the HOF form as the ScaleSpec
    // bit-equality cross-check
    a.withColumn("__prev", collect_list(col("__q")).over(w))
      .select(col(idCol), col("cell"), col("sim"),
        graft.functions.VectorMath.anyCosineGeCol(
          col("__prev"), col("__q"), minCosine).as("is_dup"))
  }

  /** The pre-fusion composed form of [[semanticDups]]' verdict column —
    * retained as the ScaleSpec cross-check for [[graft.functions
    * .AnyCosineGeExpr]] (same contract as cosineComposed). */
  private[graft] def semanticDupsComposed(df: DataFrame, idCol: String,
      vecCol: String, k: Int, iters: Int, minCosine: Double,
      maxNeighbors: Int = 64): DataFrame = {
    require(maxNeighbors >= 1, "maxNeighbors must be >= 1")
    val a = assignWithVectors(df, idCol, vecCol, k, iters, fused = false)
    val w = Window.partitionBy(col("cell")).orderBy(col(idCol))
      .rowsBetween(-maxNeighbors, -1)
    a.withColumn("__prev", collect_list(col("__q")).over(w))
      .select(col(idCol), col("cell"), col("sim"),
        when(exists(col("__prev"),
          v => round(Similarity.cosine(col("__q"), v), 6) >= minCosine),
          1).otherwise(0).as("is_dup"))
  }
}
