package graft.scale

import graft.core.Ckpt

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Column

/** End-to-end corpus curation — the composed training-data pipeline
  * the individual operators exist for:
  *
  *   quality filter → exact dedup → MinHash near-dup candidate pairs →
  *   connected-component clustering → one representative per cluster →
  *   deterministic content-hash split.
  *
  * Every stage is deterministic (reproducible-hash MinHash mode), so
  * the WHOLE pipeline is oracle-checkable, and every stage is a
  * shuffle-bounded DataFrame op (no collect, no driver loops except
  * the O(diameter) label-propagation rounds). */
object Curation {

  /** `maxBucket` is the LSH hot-bucket guard, threaded through to
    * [[Dedup.nearDuplicatesReleasable]]: it bounds per-bucket candidate
    * volume by construction (justifying the broadcast candidate-id
    * semi-filter) and is what keeps a boilerplate-heavy corpus from
    * going quadratic. The query entries pass 1000 — far above any
    * population the synthetic data reaches, binding only where it
    * should. */
  def curate(docs0: DataFrame, idCol: String, textCol: String,
      minQuality: Double, minJaccard: Double,
      p: Dedup.MinHashParams,
      maxBucket: Option[Int] = None): DataFrame = Ckpt.scoped { pins =>
    // guide §2.5: a few-file corpus caps the quality/tokenize battery
    // at the file count — widen to the cores first (no-op at
    // production file counts; see graft.core.Par)
    val docs = graft.core.Par.widen(docs0, col(idCol))
    val quality = docs
      .filter(TextStats.qualityScore(col(textCol)) >= minQuality)
    // cached: the quality regex battery + dedup window feed THREE
    // consumers (signature explode, cluster assignment, split) — without
    // this the whole upstream recomputes per consumer
    val exact = pins.cache(Dedup.exactDedup(quality, idCol, textCol)
      .drop("fingerprint"))
    val (ndups, releaseShingles) = Dedup
      .nearDuplicatesReleasable(exact, idCol, textCol, minJaccard, p,
        maxBucket)
    // materialize the (tiny) pair list ONCE: the undirected-edge union
    // and every label-propagation round would otherwise re-run the
    // whole candidate+verify chain per consumer
    val pairs = pins.cache(ndups.select("id_a", "id_b"))
    try pairs.count() finally releaseShingles()
    val clustered = pins.adopt(Clusters.dedupClusters(exact, pairs, idCol))
    // cluster_id is the component's min id, so the representative is
    // the row whose own id equals it (singletons represent themselves)
    val reps = clustered.filter(col(idCol) === col("cluster_id"))
    // eager: materializes the (per-representative, i.e. small) result
    // and truncates its lineage off `exact`, so the scope's caches go
    // HERE — repeated curate() calls in one session never accumulate
    // cached shingle/dedup data
    Ckpt.local(Sampling.deterministicSplit(reps, textCol)
      .select(col(idCol), col("cluster_id"), col("split")))
  }

  /** The full training-data flagship: every corpus pass the library
    * has, chained in production order —
    *
    *   quality filter → exact dedup → MinHash near-dup → connected
    *   components → representative per cluster → SEMANTIC dedup
    *   (k-means + bounded within-cluster prune, docs without a usable
    *   embedding pass through) → sub-document unit dedup (repeated
    *   passages dropped globally, docs reassembled) → benchmark
    *   decontamination → temperature-scaled language mixing →
    *   seeded shards → sequence packing.
    *
    * Output: (idCol, cluster_id, langCol, n_toks, shard, shard_pos,
    * pack_id, pack_pos, pack_fill) — one row per surviving document,
    * placed in its training sequence.
    *
    * Determinism: every stage is a pure function of content + seeds
    * (reproducible-hash MinHash, integer-exact k-means, md5-60 draws),
    * so the WHOLE chain is replayed by one SQL oracle (q130).
    *
    * Scale: the same shuffle discipline as the component operators —
    * fingerprint/band/hash keys only, the benchmark gram set and
    * k×dim centroids are the only broadcasts, per-row semantic work
    * capped by semMaxNeighbors, packing windows are per-shard. Working
    * sets (the embedding quantization, `exact`, the pair list, the
    * representatives, the unit frame, the k-means and component
    * checkpoints) are scope-owned and released before return; the
    * returned frame reads only the reassembled-text checkpoint. */
  def curateV2(corpus: DataFrame, bench: DataFrame, embeddings: DataFrame,
      idCol: String, textCol: String, langCol: String,
      minQuality: Double, minJaccard: Double, p: Dedup.MinHashParams,
      semK: Int, semIters: Int, semMinCosine: Double, semMaxNeighbors: Int,
      unitTokens: Int, decontamN: Int,
      tau: Double, budgetDocs: Long,
      packBudget: Long, packShards: Int, seed: Long = 42L,
      maxBucket: Option[Int] = None): DataFrame = Ckpt.scoped { pins =>
    // The embedding quantization branch is INDEPENDENT of the whole
    // quality/dedup/cluster chain until the semantic join consumes it —
    // materialize it concurrently (guide §2.6: overlapped jobs
    // back-fill the chain's barrier tails) instead of paying its scan
    // serially inside the k-means stage. Narrow frame (id + int8
    // vector).
    val embQ = pins.cache(embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("__e"))
      .withColumn("__mx", array_max(transform(col("__e"), (x: Column) => abs(x))))
      .filter(col("__mx") > 0)
      .select(col("vec_id"), Similarity.quantizeInt8(col("__e")).as("__q")))
    val embFill = scala.concurrent.Future(embQ.count())(graft.core.Overlap.ec)

    // 1-3. quality gate, exact dedup, MinHash near-dup clusters
    // (corpus widened first — guide §2.5, see graft.core.Par)
    val quality = graft.core.Par.widen(corpus, col(idCol))
      .filter(TextStats.qualityScore(col(textCol)) >= minQuality)
    val exact = pins.cache(Dedup.exactDedup(quality, idCol, textCol)
      .drop("fingerprint"))
    val (ndups, releaseShingles) = Dedup
      .nearDuplicatesReleasable(exact, idCol, textCol, minJaccard, p,
        maxBucket)
    val pairs = pins.cache(ndups.select("id_a", "id_b"))
    try pairs.count() finally releaseShingles()
    // representatives are small (post-dedup); materializing here
    // cuts the cluster pipeline off the FOUR downstream consumers
    // (semantic join, unit dedup, decontamination, reassembly)
    val reps = pins.checkpoint(
      pins.adopt(Clusters.dedupClusters(exact, pairs, idCol))
        .filter(col(idCol) === col("cluster_id"))
        .select(col(idCol), col("cluster_id"), col(langCol), col(textCol)))
    pins.release(exact)
    pins.release(pairs)

    // 4. semantic dedup over reps that HAVE a usable embedding (zero
    // vectors and unembedded docs pass through — no cosine, no verdict)
    scala.concurrent.Await.result(embFill,
      scala.concurrent.duration.Duration.Inf)
    val withEmb = reps.select(col(idCol))
      .join(embQ, col(idCol) === col("vec_id"))
      .select(col(idCol), col("__q"))
    val marks = pins.adopt(KMeans.semanticDups(withEmb, idCol, "__q",
      semK, semIters, semMinCosine, semMaxNeighbors))
    val afterSem = reps
      .join(marks.select(col(idCol), col("is_dup")), Seq(idCol), "left")
      .filter(coalesce(col("is_dup"), lit(0)) === 0)
      .drop("is_dup")

    // 5. sub-document unit dedup: repeated passages dropped globally,
    // survivors reassembled; fully-duplicated docs (n_kept = 0) drop.
    // Fused ws_chunks: the composed split → filter → per-chunk
    // slice/join chain ran as two interpreted HOF projections
    val units = pins.cache(afterSem // feeds unitDedup AND the reassembly join
      .select(col(idCol), col("cluster_id"), col(langCol),
        graft.functions.TextFns.wsChunksCol(col(textCol), unitTokens)
          .as("__units")))
    // result-owned: feeds decontamination AND the final join, and is
    // all of the pipeline the returned frame reads
    val reassembled = Ckpt.local(
      units.select(col(idCol), col("cluster_id"), col(langCol))
        .join(Dedup.unitDedup(units.select(col(idCol), col("__units")),
            idCol, "__units")
          .filter(col("n_kept") > 0).select(col(idCol), col("dedup_text")),
          Seq(idCol)))
    pins.release(units)

    // 6. benchmark decontamination on the text that would be trained on
    val cleanIds = Decontaminate.overlap(
        reassembled.select(col(idCol), col("dedup_text")),
        bench.select(col(idCol), col(textCol).as("dedup_text")),
        idCol, "dedup_text", n = decontamN)
      .filter(col("contaminated") === 0).select(col(idCol))
    val clean = reassembled.join(cleanIds, Seq(idCol))

    // 7-8. temperature-scaled language mixing, seeded shards, packing
    val mixed = Sampling.temperatureMix(clean, langCol, "dedup_text",
      tau, budgetDocs)
    Sampling.packSequences(
      mixed.select(col(idCol), col("cluster_id"), col(langCol),
        TextStats.tokenCountWs(col("dedup_text")).as("n_toks")),
      idCol, "n_toks", packBudget, packShards, seed)
      .select(col(idCol), col("cluster_id"), col(langCol), col("n_toks"),
        col("shard"), col("shard_pos"), col("pack_id"), col("pack_pos"),
        col("pack_fill"))
  }

  /** The ROUND-9 pipeline composed end to end — the four new operator
    * families chained the way a modern pretraining-data build chains
    * them (classifier filtering → substring-level dedup → budgeted
    * selection → chunking for training):
    *
    *   1. model-based quality filter ([[Selection.classifierScore]],
    *      keep = positive weight sum — a pure projection, so the gate
    *      costs one scan);
    *   2. cross-document span EXCISION within the kept corpus
    *      ([[Spans.exciseRepeatedSpans]] — repeated boilerplate is cut
    *      from every doc but the earliest, not thrown away whole-doc);
    *   3. exact token-budget selection over SURVIVING tokens, scored
    *      by the classifier mean ([[Selection.budgetSelect]] — "train
    *      on the best `budgetFraction` of post-dedup tokens");
    *   4. token-window chunking of the selected clean text
    *      ([[Spans.chunk]] — zero-shuffle).
    *
    * Output: `idCol, chunk_id, chunk_toks, chunk_text` — the training
    * chunks. Every stage is deterministic and SQL-replayable, so the
    * WHOLE composition is one DuckDB oracle (q175).
    *
    * Scale shape: each stage inherits its component's audited plan
    * (q173's zero exchanges, q166/q170's 8-byte span-hash windows,
    * q171's bin-decomposed prefix, q167's pure Generate). `kept` and
    * `excised` back two consumers each and are lazy local checkpoints
    * (the [[Selection.budgetSelect]] lifecycle: released with the
    * returned frame); both frames are narrow (ids + counts + the
    * already-excised text), never the raw corpus. */
  def curateV3(docs: DataFrame, idCol: String, textCol: String,
      buckets: Int = 1024, spanN: Int = 8, spanStride: Int = 4,
      budgetFraction: Double = 0.5, chunkSize: Int = 32,
      overlap: Int = 8): DataFrame = {
    // 1. classifier gate as an INLINE filter on the scored projection
    // (classifierScoreAll keeps the text column) — scoring is a pure
    // projection, so gating costs zero data movement; the
    // score-ids-then-semi-join-back form re-keys the corpus text on
    // id and measured 4.3× source at sf1
    // pinned: the classifier battery (two md5-60 evaluations per
    // gram) is the pipeline's dominant CPU; downstream, excision
    // alone reads `kept` from two subtrees (span pass + reassembly
    // pass), so an unpinned gate re-runs the whole battery per
    // consumer (measured 95 s vs ~45 s at sf1). A lazy local
    // checkpoint, not a persist: the chunks are returned lazily, so
    // nothing could release a cache entry, while the checkpoint's
    // blocks go with the frame.
    val kept = Selection
      .classifierScoreAll(docs, idCol, textCol, buckets)
      .filter(col("keep") === 1)
      .select(col(idCol), col(textCol), col("w_mean"))
      .transform(Ckpt.local(_, eager = false))
    val cls = kept.select(col(idCol), col("w_mean"))
    // 2. span excision WITHIN the kept corpus (losers are decided
    // against surviving docs only — a rejected doc cannot "win" a span)
    val excised = Spans
      .exciseRepeatedSpans(kept.select(col(idCol), col(textCol)),
        idCol, textCol, spanN, spanStride)
      .transform(Ckpt.local(_, eager = false))
    // 3. budget selection on tokens that remain after excision — all
    // frames here are narrow (id, double, long) rows
    val scored = excised
      .select(col(idCol),
        (col("n_tokens") - col("n_removed")).cast("long").as("__n_left"))
      .join(cls, Seq(idCol))
    val sel = Selection
      .budgetSelect(scored, idCol, "w_mean", "__n_left", budgetFraction)
      .filter(col("selected") === 1)
      .select(col(idCol))
    // 4. chunk the selected docs' clean text. The semi join's non-id
    // side is the narrow selected-id frame; the checkpointed excised
    // frame re-reads its blocks. Re-tokenizing the normalized
    // clean_text is the identity on its token list.
    Spans.chunk(
      excised.join(sel, Seq(idCol), "left_semi")
        .select(col(idCol), col("clean_text")),
      idCol, "clean_text", chunkSize, overlap)
  }

  /** Training-mix assembly — the post-curation composition that turns
    * a curated corpus into the exact token stream a trainer reads:
    *
    *   per-stratum counts → UNCAPPED temperature rates (epochs > 1
    *   upsample scarce strata, < 1 downsample dominant ones) →
    *   [[Sampling.epochMixFrom]] materializes the copies → the
    *   per-copy md5-60 `mix_hash` IS the seeded global shuffle order →
    *   [[Selection.packSequencesBy]] cuts exact `seqLen`-token
    *   sequences along that order (ties broken by (id, copy_id)).
    *
    * Output: `seq_id, mix_hash, idCol, copy_id, doc_off, seq_pos,
    * seg_len` — one row per (sequence, copy) overlap; every non-tail
    * sequence exactly full. Fully deterministic (no rand()), so the
    * four-stage composition is one hash-checkable oracle.
    *
    * Scale shape: counts reduce to a catalog-sized frame (broadcast
    * back); replication is a zero-exchange projection; the only
    * corpus-scale movement is the packer's bin-partitioned layout
    * window — no global sort, no collect anywhere.
    *
    * `budgetEpochs` is the corpus-relative size of the mix (2.0 = the
    * realized mix holds ~2× the corpus docs); `tau` the usual
    * temperature exponent on stratum counts. */
  def trainingMix(docs: DataFrame, idCol: String, stratumCol: String,
      textCol: String, tau: Double, budgetEpochs: Double,
      seqLen: Long): DataFrame = {
    val all = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1)).rowsBetween(Long.MinValue, Long.MaxValue)
    // uncapped temperature mixture: f_s = budget·N · w_s/Σw / n_s,
    // w_s = n_s^tau — the q129 rate formula without the least(1.0)
    // clamp, so scarce strata replicate instead of saturating
    val factors = docs.groupBy(col(stratumCol))
      .agg(count(lit(1)).as("__n"))
      .withColumn("epochs",
        lit(budgetEpochs) * sum(col("__n")).over(all) *
          pow(col("__n").cast("double"), tau) /
          sum(pow(col("__n").cast("double"), tau)).over(all) /
          col("__n").cast("double"))
      .select(col(stratumCol), col("epochs"))
    val copies = Sampling.epochMixFrom(
      docs.select(col(idCol), col(stratumCol), col(textCol),
        size(TextStats.tokens(col(textCol))).cast("long").as("__ntok")),
      stratumCol, textCol, factors)
    Selection.packSequencesBy(
      copies.select(col("mix_hash"), col(idCol), col("copy_id"),
        col("__ntok")),
      "mix_hash", Seq(idCol, "copy_id"), "__ntok", seqLen)
  }
}
