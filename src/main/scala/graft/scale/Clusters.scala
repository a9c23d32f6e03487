package graft.scale

import graft.core.Ckpt

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over a near-duplicate pair list — the step that
  * turns pairwise matches (MinHash/SimHash/jaccard output) into
  * canonical dedup clusters with one representative per cluster.
  *
  * Algorithm: min-label propagation. Every node starts labeled with its
  * own id; each round a node adopts the smallest label among itself and
  * its neighbors; fixpoint = every node carries the min id of its
  * component. Rounds needed = graph diameter (near-dup clusters are
  * shallow — chains of copies — so this converges in a handful of
  * rounds even at corpus scale).
  *
  * Scale design: two paths behind a size guard
  * ([[CcLocalMaxEdgesDefault]]). Small edge lists — the contracted
  * per-batch graphs of the incremental/streaming paths, bounded by
  * batch size — are solved by driver union-find in one bounded collect
  * (the O(diameter)-jobs loop would be pure fixed overhead there).
  * Larger graphs run distributed min-label propagation: each round is
  * ONE shuffle (groupBy node, partial min on the map side),
  * `localCheckpoint` truncates lineage per round so the plan does not
  * grow with iterations, and the convergence check rides the same pass
  * (isEmpty on changed labels) instead of a second join.
  *
  * Skew: a supernode of degree d puts d edge rows in one partition of
  * the edges⋈labels equi-join — but the labels side is one row per
  * node, so the join output is bounded by degree (no cross-product),
  * AQE's skew-join split rebalances the oversized partition, and the
  * following groupBy(src) re-keys the d rows across d DISTINCT spokes
  * with map-side partial min. A star graph also has diameter 2, so
  * rounds stay bounded — hub-heavy near-dup graphs converge FASTER,
  * not slower (Round2OpsSpec proves 10k-degree convergence in 3
  * rounds).
  */
object Clusters {

  /** Max contracted-label-map rows [[updateClusters]] will BROADCAST
    * for the relabel join; larger maps fall back to a shuffled join
    * (same result, no single-JVM copy). */
  val CcBroadcastMaxNodesDefault: Long = 1L << 22

  /** Max pair rows [[connectedComponents]] solves DRIVER-SIDE
    * (union-find) before falling back to distributed label propagation.
    * Specs pass 0 to disable the local path. Rationale: the
    * label-propagation loop costs O(diameter) Spark jobs (a checkpoint + a convergence scan
    * per round) — for the contracted per-batch graphs the incremental/
    * streaming paths feed it (bounded by BATCH pairs, typically
    * thousands), that fixed job overhead dwarfs the work, while a
    * bounded collect of ≤2^20 edge rows (~16 MB) is the same driver
    * budget a broadcast join already spends. Full-corpus pair lists at
    * 100 TB exceed the cap and take the distributed loop unchanged. */
  val CcLocalMaxEdgesDefault: Long = 1L << 20

  /** Driver-side union-find over an edge list: (node → min id of its
    * component) for every endpoint. Union always points the larger
    * root at the smaller, so a root IS its component's min id and
    * path-compressed find resolves labels directly — exactly the
    * min-label fixpoint the distributed loop converges to. */
  private[graft] def localComponents(
      edges: Array[(Long, Long)]): Array[(Long, Long)] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val ra = find(a)
      val rb = find(b)
      if (ra != rb) {
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    parent.keysIterator.toArray.sorted.map(n => (n, find(n)))
  }

  /** (node, cluster_id) for every node present in `pairs`.
    * `pairs` must have two id columns; edges are treated as undirected.
    *
    * `edgeCountHint`: callers that already know the pair-list size
    * (the incremental/streaming paths know their batch) pass it to
    * skip sizing work entirely — a hint above the local cap routes
    * straight to the distributed loop with ZERO driver collects.
    * Hinted-small and unhinted calls both pay exactly ONE bounded
    * job: the limit(cap+1) collect answers size and data together
    * (≤ cap+1 two-long rows — a constant ~16 MB worst case at the
    * default cap, independent of corpus size). The limit keeps a
    * lying hint safe: the overflow falls through to the distributed
    * loop, never a wrong answer. */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 25, edgeCountHint: Option[Long] = None): DataFrame =
    connectedComponents(pairs, aCol, bCol, maxIter, edgeCountHint,
      CcLocalMaxEdgesDefault)

  /** [[connectedComponents]] with the local-path cap as a parameter. */
  private[graft] def connectedComponents(pairs: DataFrame, aCol: String,
      bCol: String, maxIter: Int, edgeCountHint: Option[Long],
      maxLocal: Long): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    // size-guarded local path: a tiny graph (the per-batch contracted
    // case) is solved on the driver, anything larger falls through to
    // the distributed loop below having paid at most a count probe
    if (maxLocal > 0 && maxLocal < Int.MaxValue &&
        edgeCountHint.forall(_ <= maxLocal)) {
      val ab = pairs.select(col(aCol).cast("long"), col(bCol).cast("long"))
      // ONE bounded job decides the path AND fetches the data: a
      // count-then-collect pair would double the job count for every
      // small graph (the common per-batch case), while the collect's
      // worst case — a big graph without a hint — is capped at cap+1
      // rows regardless of corpus size, so there is nothing to protect
      // with a separate count probe
      val probe = ab.limit(maxLocal.toInt + 1).collect()
      if (probe.length <= maxLocal) {
        return localComponents(probe.map(r => (r.getLong(0), r.getLong(1))))
          .toSeq.toDF("node", "cluster_id")
      }
    }
    Ckpt.scoped { pins =>
      val edges = pins.cache(pairs
        .select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
        .unionByName(pairs.select(col(bCol).cast("long").as("src"),
          col(aCol).cast("long").as("dst")))
        .distinct())

      // each round's labels are pinned until the next round's are
      // materialized; the last round's go with the returned frame
      var pinned = pins.checkpoint(edges.select(col("src").as("node"))
        .distinct().withColumn("label", col("node")))
      def labels = pinned.drop("__prev")

      var converged = false
      var iter = 0
      while (!converged && iter < maxIter) {
        val neighborLabels = edges
          .join(labels.withColumnRenamed("node", "dst"), Seq("dst"))
          .select(col("src").as("node"), col("label"))
        // fused convergence check: the self row carries the previous
        // label through the same groupBy (no second join per round)
        val updated = pins.checkpoint(labels.withColumn("__self", lit(true))
          .unionByName(neighborLabels.withColumn("__self", lit(false)))
          .groupBy("node")
          .agg(min("label").as("label"),
            min(when(col("__self"), col("label"))).as("__prev")))
        converged = updated.filter(col("label") =!= col("__prev")).isEmpty
        pins.release(pinned)
        pinned = updated
        iter += 1
      }
      if (!converged) throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — " +
          "a component's diameter exceeds maxIter; raise it (labels would " +
          "be silently wrong otherwise)")
      pins.keep(pinned)
      labels.withColumnRenamed("label", "cluster_id")
    }
  }

  /** INCREMENTAL component maintenance — fold a new batch of pairs
    * into existing (node, cluster_id) labels WITHOUT re-walking the
    * old pair set (the delta form the index-dedup story needs: q132/
    * q134/q135 mark duplicates incrementally; this keeps the cluster
    * labels incremental too).
    *
    * Key idea: old components can be CONTRACTED to their label — a new
    * edge (a, b) merges whole components, so it suffices to run
    * min-label propagation on the contracted graph whose nodes are
    * current labels (plus previously-unseen ids, labeled with
    * themselves). Because an existing label IS the min id of its old
    * component, the contracted fixpoint's min is the global min id of
    * the merged component — identical to from-scratch labels over the
    * union graph (q144 proves equality against the recursive-CTE
    * oracle on old ∪ new pairs).
    *
    * Cost: CC on O(new pairs) contracted edges (diameter-bounded
    * rounds over the BATCH, never the corpus) + one relabel join of
    * the label table against the touched-label map — old edges are
    * never read, so a daily batch costs O(batch), not O(corpus
    * history). The touched-label map is bounded by the batch's
    * DISTINCT labels, so it is normally broadcast; an initial
    * mega-batch could exceed the broadcast limit, so the plan is
    * size-guarded ([[CcBroadcastMaxNodesDefault]], 2^22):
    * above it the relabel runs as a shuffled join — same result,
    * no single-JVM copy of the map. The count that decides is cheap:
    * the map is already localCheckpoint-materialized by
    * [[connectedComponents]].
    */
  def updateClusters(labels: DataFrame, newPairs: DataFrame,
      aCol: String = "id_a", bCol: String = "id_b",
      maxIter: Int = 25, edgeCountHint: Option[Long] = None): DataFrame =
    updateClusters(labels, newPairs, aCol, bCol, maxIter, edgeCountHint,
      CcBroadcastMaxNodesDefault)

  /** [[updateClusters]] with the broadcast cap as a parameter. */
  private[graft] def updateClusters(labels: DataFrame, newPairs: DataFrame,
      aCol: String, bCol: String, maxIter: Int,
      edgeCountHint: Option[Long], maxBroadcast: Long): DataFrame = {
    val lab = labels.select(col("node"), col("cluster_id"))
    // each endpoint → its current label; previously-unseen ids label
    // themselves (coalesce after the left joins)
    val mapped = newPairs
      .select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
      .join(lab.withColumnRenamed("node", "a")
        .withColumnRenamed("cluster_id", "la"), Seq("a"), "left")
      .join(lab.withColumnRenamed("node", "b")
        .withColumnRenamed("cluster_id", "lb"), Seq("b"), "left")
      .select(coalesce(col("la"), col("a")).as("la"),
        coalesce(col("lb"), col("b")).as("lb"))
    // the contracted graph has at most one edge per batch pair, so a
    // caller-supplied batch-size hint bounds it and rides through
    val merged = connectedComponents(
      mapped.filter(col("la") =!= col("lb")), "la", "lb", maxIter,
      edgeCountHint)
      .withColumnRenamed("node", "old_label")
      .withColumnRenamed("cluster_id", "new_label")
    // size guard: broadcast the contracted-label map only while it
    // fits; a giant first batch falls back to a shuffled join (the
    // count is metadata-cheap — merged is checkpoint-materialized)
    val mergedSized =
      if (merged.count() <= maxBroadcast) broadcast(merged) else merged
    // relabel the existing table (labels untouched by the batch keep
    // their cluster), then add rows for genuinely new nodes
    val relabeled = lab
      .join(mergedSized.withColumnRenamed("old_label", "cluster_id"),
        Seq("cluster_id"), "left")
      .select(col("node"),
        coalesce(col("new_label"), col("cluster_id")).as("cluster_id"))
    val newNodes = newPairs.select(col(aCol).cast("long").as("node"))
      .unionByName(newPairs.select(col(bCol).cast("long").as("node")))
      .distinct()
      .join(lab.select("node"), Seq("node"), "left_anti")
      .join(mergedSized.withColumnRenamed("old_label", "node"),
        Seq("node"), "left")
      .select(col("node"),
        coalesce(col("new_label"), col("node")).as("cluster_id"))
    relabeled.unionByName(newNodes)
  }

  /** Assign EVERY row of `docs` to a cluster given a computed
    * (idCol-named node, cluster_id) component table: members get the
    * component's min id, untouched docs are singletons (their own id).
    * Adds `cluster_id` and `cluster_size`. */
  private def assign(docs: DataFrame, comp: DataFrame,
      idCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("cluster_id"))
    docs.join(comp, Seq(idCol), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col(idCol)))
      .withColumn("cluster_size", count(lit(1)).over(w))
  }

  /** [[assign]] over an ALREADY-COMPUTED (node, cluster_id) label
    * table (e.g. one maintained by [[updateClusters]] or
    * [[graft.stream.StreamClusters]]). */
  def assignLabels(docs: DataFrame, labels: DataFrame,
      idCol: String): DataFrame =
    assign(docs, labels.withColumnRenamed("node", idCol), idCol)

  /** [[assign]] over from-scratch components of `pairs`. */
  def dedupClusters(docs: DataFrame, pairs: DataFrame, idCol: String,
      aCol: String = "id_a", bCol: String = "id_b"): DataFrame =
    assign(docs, connectedComponents(pairs, aCol, bCol)
      .withColumnRenamed("node", idCol), idCol)

  /** [[assign]] over INCREMENTALLY maintained components: existing
    * labels folded with a new pair batch via [[updateClusters]]. */
  def dedupClustersIncremental(docs: DataFrame, labels: DataFrame,
      newPairs: DataFrame, idCol: String,
      aCol: String = "id_a", bCol: String = "id_b"): DataFrame =
    assign(docs, updateClusters(labels, newPairs, aCol, bCol)
      .withColumnRenamed("node", idCol), idCol)
}
