package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Shuffle-volume audit: measured evidence for the narrow-exchange
  * claims in SCALE.md/COVERAGE.md ("dedup shuffles 32-byte
  * fingerprints, never text", "the ANN corpus is never shuffled").
  *
  * Wall-clock scaling shows a query is not super-linear; this tool
  * shows WHY it stays that way at 100 TB: for each audited query it
  * sums, across every completed stage, the bytes written to shuffle
  * (`shuffleWriteMetrics.bytesWritten` — exact, maintained by the
  * shuffle writer itself) and the bytes spilled to disk, then reports
  * shuffle bytes per byte of SOURCE data (the on-disk size of the
  * parquet tables the query reads, so compressed is compared to
  * compressed — shuffle blocks are lz4-compressed like the parquet
  * pages). A dedup/ANN operator whose exchanges carry fingerprints
  * instead of documents shows a ratio well under 1; an operator that
  * re-shuffles its corpus shows ≥ 1 at every SF and would saturate
  * the cluster network long before 100 TB. Spill must be 0 at every
  * measured SF — a partition that spills at sf1 is sized wrong for a
  * 1000-executor cluster.
  *
  * Runtime `inputMetrics.bytesRead` is deliberately NOT used: for
  * local-filesystem parquet it reports only footer reads (measured
  * 3.4 KB for a full scan of a 594 KB file), so the denominator comes
  * from `File.length` over each query's declared source tables
  * instead — static, byte-stable, and an UPPER bound on useful input
  * (column pruning reads less), which makes the reported ratios
  * conservative (the true shuffle-per-read-byte is higher, but a
  * ratio ≪ 1 against the whole table is the claim that matters).
  *
  * Byte counts are deterministic — unlike wall-clock, the audit does
  * not need a quiet host.
  *
  * Usage (one JSON line to stdout, plus tools/shuffle_audit_<sf>.json
  * when unfiltered):
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *     sbt -batch "runMain graft.ShuffleAudit"
  *   SPARK_GRAFT_AUDIT_ONLY=q40_dedup_exact,... # dev loop
  *
  * Streaming queries are excluded: their per-batch jobs interleave
  * with checkpoint/state-store I/O on the listener bus, so a
  * per-query attribution would mix machinery bytes into data bytes.
  */
object ShuffleAudit {

  /** Batch queries whose scale posture rests on a narrow-exchange
    * argument — the dedup/ANN/text/curation kernels — each with the
    * source tables it reads (fixture tables a query stages and
    * re-reads derive from these, so the sizes below are the full
    * source volume the query is responsible for). */
  val Audited: Seq[(String, Seq[String])] = Seq(
    "q40_dedup_exact" -> Seq("documents"),
    "q42_minhash_lsh" -> Seq("documents"),
    "q44_ann_cosine" -> Seq("embeddings"),
    "q84_dedup_clusters" -> Seq("documents"),
    "q100_curation_pipeline" -> Seq("documents"),
    "q110_decontaminate" -> Seq("documents"),
    "q117_dedup_embedding_lsh" -> Seq("embeddings"),
    "q118_bigram_surprisal" -> Seq("documents"),
    "q126_semantic_dedup" -> Seq("embeddings"),
    "q127_paragraph_dedup" -> Seq("documents"),
    "q130_curation_v2" -> Seq("documents", "embeddings"),
    "q133_heavy_hitters" -> Seq("documents"),
    "q137_top_grams_per_lang" -> Seq("documents"),
    "q138_bm25" -> Seq("documents"),
    "q149_ann_pq" -> Seq("embeddings"),
    // the GUARDED q117 shape — at corpus scale its wall must stay
    // linear where q117's in-bucket verify goes quadratic (sf100:
    // alpha 2.0 under a flat shuffle ratio)
    "q165_vector_hot_bucket" -> Seq("embeddings"),
    // round-9 second wave: span dedup shuffles only 8-byte hashes
    // (ratio must stay ~constant); DSIR's model is ≤256 rows so only
    // the per-doc fold may shuffle; embed-decontaminate's bench side
    // broadcasts so its ratio must stay near zero.
    "q166_span_dedup" -> Seq("documents"),
    "q168_embed_decontaminate" -> Seq("embeddings"),
    "q169_dsir_weights" -> Seq("documents"),
    // excision reassembles docs, so ~2× compressed source is its floor
    // (token stream + rebuilt text through the id-keyed exchanges) —
    // what must NOT grow with duplication is the (id, pos) loser side
    "q170_span_excise" -> Seq("documents"),
    // the binned prefix must never funnel the corpus to one partition;
    // its ratio is ~2× the (tiny) scored frame, constant in corpus size
    "q171_budget_select" -> Seq("documents"),
    // classifier scoring is a pure projection — its ratio must be
    // EXACTLY zero at every SF (the inlined-weights contract)
    "q173_quality_classifier" -> Seq("documents"),
    // hybrid fusion: corpus work is the audited BM25 + brute-ANN
    // shapes; the fusion itself joins two ≤ n_q·k ranked lists, so
    // the ratio must match q138+q44's combined floor, not grow
    "q172_hybrid_rrf" -> Seq("documents", "embeddings"),
    // the composed round-9 pipeline: its ratio must track the sum of
    // its stages (classifier 0 + excision + budget + chunk 0), i.e.
    // stay in the span-excision band, not multiply across stages
    "q175_curation_v3" -> Seq("documents"),
    // round-10: exact packing shuffles ONLY narrow (key, ntok) rows
    // through the bin-partitioned layout window — text never moves,
    // so the ratio must stay a small constant regardless of doc size
    "q178_sequence_pack" -> Seq("documents"),
    // epoch mixing is a zero-exchange projection (broadcast factors +
    // explode): its ratio must be EXACTLY zero at every SF
    "q180_epoch_mix" -> Seq("documents"),
    // curriculum rank + stage windows move only narrow (id, score)
    // rows — same band as q171's binned prefix, twice (rank window
    // by bin, in-stage order window by stage)
    "q183_curriculum" -> Seq("documents"),
    // per-group budgets: the q171 band keyed by (lang, bin); a skewed
    // majority language must spread over its bins, not one partition
    "q184_lang_budget" -> Seq("documents"),
    // exact quantiles: 8-byte value rows through the bin rank window,
    // and only target-bearing bins pay the sort — the ratio must stay
    // a small constant in corpus size
    "q186_quantiles" -> Seq("orders"),
    // per-group quantiles: the q186 band keyed by (lang, bin); the
    // tokenization feeding it is a pure projection
    "q187_lang_token_quantiles" -> Seq("documents"),
    // composed mix→copies→shuffle→pack: the only corpus-scale
    // movement is the packer's layout window over the REPLICATED
    // narrow rows (~2× the q178 band under budgetEpochs=2), plus the
    // catalog-sized counts reduce — still no text on the wire
    "q181_training_mix" -> Seq("documents"),
    // BPE training: ONE corpus-sized (word) exchange builds the
    // word-frequency table; every merge iteration then moves only
    // vocab-sized (l, r, count) rows — the ratio must FALL as the
    // corpus grows past its vocabulary (word counts saturate)
    "q188_bpe_train" -> Seq("documents"),
    // BPE encode: training (above) + a pure-projection encode pass —
    // the encode itself must add ZERO corpus-scale movement, so the
    // ratio must track q188's, not the corpus
    "q189_bpe_encode" -> Seq("documents"),
    // random projection is a pure projection with an inlined sign
    // matrix: its ratio must be EXACTLY zero at every SF
    "q190_random_projection" -> Seq("embeddings"),
    // proportional sample: a catalog-sized allocation + ONE corpus
    // window partitioned BY STRATUM on (60-bit hash, id) — narrow
    // (stratum, hash, id) rows move, text never a key, so the ratio
    // must sit in the q72/q124 stratified-sampling band and stay flat
    "q191_proportional_sample" -> Seq("documents"),
    // vocab coverage: the encode projection + ONE vocab-sized
    // (subword, count) aggregate + a TakeOrdered top-k — the ratio
    // must fall once the corpus outgrows its vocabulary, like q188
    "q192_vocab_coverage" -> Seq("documents"),
    // length buckets: pure projection + a ≤64-row aggregate — near
    // zero at every SF
    "q193_length_buckets" -> Seq("documents"),
    // subword budget: the BPE encode projection feeding the q171 bin
    // decomposition — only narrow (id, score, n_sub) rows enter the
    // budget windows, so the ratio must track q171's band
    "q194_subword_budget" -> Seq("documents"),
    // corpus drift: one conditional-agg pass, (term) exchange only —
    // the ratio must fall once the corpus outgrows its vocabulary
    "q195_corpus_drift" -> Seq("documents"),
    // novelty: (id, hash) rows through one hash agg + one hash join +
    // one id agg — a small-constant ratio, never text
    "q196_doc_novelty" -> Seq("documents"),
    // score-weighted allocation: one narrow (stratum, micro-long)
    // aggregate; the allocation windows run over the ≤|strata|-row
    // frame only — a near-zero ratio like q193, flat at every SF
    "q197_domain_realloc" -> Seq("documents"),
    // incremental drift: four per-batch vocab-sized delta aggs + the
    // fold — must track q195's band (the corpus is scanned once per
    // batch partition, counts cross the wire vocab-sized)
    "q198_drift_incremental" -> Seq("documents"),
    // q199_stream_drift is deliberately NOT audited: it runs real
    // Structured Streaming micro-batches through a foreachBatch sink —
    // per-stage shuffle tallies there measure the harness's fixed
    // micro-batch overhead, not the kernel (whose batch twin q195/q198
    // IS audited and whose fold algebra makes the movement identical)
    // dataset card: a handful of narrow aggregates + the audited
    // quantile and novelty kernels — the sum of its parts' bands
    "q200_dataset_card" -> Seq("documents"),
    // media near-dup: the blobs are read once by the mapPartitions
    // profile; after that only (media_id, sig, band, val) ints move —
    // one window count + one banded self-join + one distinct, so the
    // ratio must sit in the q42/q117 banded-dedup band and NEVER
    // track blob bytes
    "q204_media_neardup" -> Seq("documents"),
    // Delta DML: table build (appends), a DV delete (one file-keyed
    // agg over the snapshot), and the upsert join + staging — shuffle
    // is O(rows touched) with narrow keys (file path, order key); the
    // ratio must stay a small constant of the source, never blow up
    // with the version count
    "q205_delta_dml" -> Seq("orders"),
    // CDC media near-dup: blobs decode once (mapPartitions), then only
    // (media_id, chunk_hash) longs move — one window count + one
    // fingerprint self-join + one pair agg; the q204 posture with
    // Jaccard instead of Hamming
    "q206_media_cdc_neardup" -> Seq("documents"),
    // compact+vacuum: 8 small appends, a DV delete, one pruned rewrite
    // of the qualifying files (repartition exchange = the rewrite
    // bytes), final snapshot — the ratio is a small constant of the
    // table, dominated by the rewrite, never quadratic in versions
    "q207_delta_compact" -> Seq("orders"),
    // CDF: the q205 DML cycle + per-commit change-file staging and the
    // pruned change read — O(rows changed), the q205 band plus the cdc
    // write/read pass
    "q209_delta_cdf" -> Seq("orders"),
    // q210_delta_stream is EXCLUDED like every streaming query (see
    // the class doc); its batch kernel is q208's pruned appends read
    // id-mode cm writes: two appends + one DV update rewrite; bytes
    // are the staged rows themselves (field-id emission is free
    // footer metadata) — same band as q205 at the customer table size
    "q211_delta_cm_id" -> Seq("customer"))

  private final class Tally extends SparkListener {
    private val lock = new Object
    private var shuffleWrite = 0L
    private var spilled = 0L
    override def onStageCompleted(ev: SparkListenerStageCompleted): Unit =
      lock.synchronized {
        val m = ev.stageInfo.taskMetrics
        if (m != null) {
          shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          spilled += m.diskBytesSpilled
        }
      }
    def snapshot(): (Long, Long) = lock.synchronized((shuffleWrite, spilled))
  }

  /** On-disk bytes of `<dir>/<table>.parquet` (file or directory). */
  private def tableBytes(dir: String, table: String): Long = {
    def sz(f: java.io.File): Long =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).map(sz).sum
      else f.length()
    sz(new java.io.File(s"$dir/$table.parquet"))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Partition-count override: spill is a function of rows-per-partition,
    // not of the plan — a corpus 3 decades past the driver SF with the
    // dev-loop's 32 partitions can spill where the same plan with
    // SF-proportional partitions (what a real cluster runs) does not.
    // The audit exposes the knob so that claim is measurable.
    val shufflePartitions =
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus).toInt
    // Scan-split override, same posture as the partition-count knob:
    // the synthetic corpora are a FEW large parquet files, so at the
    // default 128 MB maxPartitionBytes a 545 MB corpus scans as ~4
    // tasks and every scan-bound projection (the md5 classifier
    // battery, tokenization) serializes 6-8x — a dev-file artifact; a
    // real 100 TB corpus is thousands of files and saturates every
    // core. A split cannot start inside a parquet ROW GROUP, so the
    // effective ceiling is the corpus's row-group count (GenScale's
    // writer emits ~128 MB groups — the 545 MB KB corpus exposes ~8
    // tasks under this knob, vs 4-5 without; scan-bound projections
    // speed up accordingly, not to full core count).
    // Shuffle BYTES are split-invariant (data-determined; the
    // map-task count only moves lz4 block boundaries) — spot-verified:
    // q40's KB shuffle reproduces within 0.05% under 128 MB vs 16 MB
    // splits (37.50 vs 37.48 MB). Declared in the artifact when set.
    val spark = graft.core.SessionFactory.build(s"local[$cpus]",
      Some(shufflePartitions))
    sys.env.get("SPARK_GRAFT_MAX_PARTITION_BYTES")
      .foreach(spark.conf.set("spark.sql.files.maxPartitionBytes", _))

    val tally = new Tally
    spark.sparkContext.addSparkListener(tally)

    // The listener bus is asynchronous: after a query's last job
    // finishes, its stage-completed events may still be in flight.
    // Settle by polling the counters until two consecutive reads 200 ms
    // apart agree (bounded at 5 s — local-mode queues drain in
    // milliseconds; the bound only guards a wedged bus).
    def settled(): (Long, Long) = {
      var prev = tally.snapshot()
      var stable = false
      val deadline = System.nanoTime() + 5000000000L
      while (!stable && System.nanoTime() < deadline) {
        Thread.sleep(200)
        val cur = tally.snapshot()
        stable = cur == prev
        prev = cur
      }
      prev
    }

    val only = sys.env.get("SPARK_GRAFT_AUDIT_ONLY").map(_.split(",").toSet)
    val audited = Audited.filter { case (n, _) => only.forall(_.contains(n)) }

    // warm-up outside any measurement window (codegen, file listing)
    spark.range(1000000).selectExpr("sum(id)").collect()

    val rows = audited.map { case (name, tables) =>
      val fn = SparkEntry.queries(name)
      val src = tables.map(tableBytes(sfDir, _)).sum
      // Per-query isolation: a returned frame owns the local-checkpoint
      // blocks it reads (graft.core.Ckpt, result-owned) until a driver
      // GC lets the ContextCleaner release them — lineage is truncated,
      // so the blocks are not evictable. Before the operators released
      // their intermediates at scope end, whichever query FOLLOWED
      // q100's multi-GB churn paid its memory pressure: q117 measured
      // 149 s directly after q100 vs 31 s with distance, q110 183 s vs
      // clean. Byte counts are unaffected either way; walls need
      // isolation.
      spark.catalog.clearCache()
      System.gc()
      Thread.sleep(500)
      val (w0, s0) = settled()
      // Progress to stderr: byte counts are deterministic, but a multi-
      // decade corpus makes some queries run minutes — an operator
      // watching the log needs to see WHICH query is grinding.
      System.err.println(s"[audit] $name ...")
      val t0 = System.nanoTime()
      // Materialize EVERY output column via the noop sink. The old
      // `.count()` action let Catalyst prune output columns a count
      // does not need — which silently deleted the expensive part of
      // text-REASSEMBLING operators from the measurement: q170's
      // clean_text collect-aggregate (and its reassembly exchange
      // payload) vanished entirely under count, reporting 0.38 MB at
      // sf1 where a real consumer pays ~25 MB (caught when q175, which
      // CONSUMES the excised text, measured 4.3× source against its
      // component's 0.064). Narrow-output kernels are unaffected —
      // their exchanges feed filters/aggregates the count still needs.
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val secs = (System.nanoTime() - t0) / 1e9
      val (w1, s1) = settled()
      val sh = w1 - w0
      val sp = s1 - s0
      val ratio = if (src > 0) sh.toDouble / src else 0.0
      System.err.println(
        f"[audit] $name done in $secs%.1f s: shuffle ${sh / 1e6}%.2f MB, " +
        f"spill ${sp / 1e6}%.2f MB, ratio $ratio%.3f")
      (name, src, sh, sp, ratio, secs)
    }

    val qs = rows.map { case (n, src, sh, sp, r, secs) =>
      f""""$n":{"source_mb":${src / 1e6}%.2f,"shuffle_mb":${sh / 1e6}%.2f,"spill_mb":${sp / 1e6}%.2f,"shuffle_per_source":$r%.3f,"wall_sec":$secs%.1f}"""
    }.mkString("{", ",", "}")
    // Only a size literal may reach the hand-built JSON — a value with
    // a quote/backslash would corrupt the artifact downstream parsers
    // read.
    val splitTag = sys.env.get("SPARK_GRAFT_MAX_PARTITION_BYTES")
      .filter(_.matches("(?i)[0-9]+[bkmg]?b?"))
      .map(b => s""""max_partition_bytes":"$b",""").getOrElse("")
    val json =
      s"""{"queries":$qs,$splitTag"n_queries":${rows.size},"metric":"shuffle_audit","sf":"$sfDir"}"""
    println(json)
    if (only.isEmpty) {
      val sfTag = new java.io.File(sfDir).getName.replaceAll("[^A-Za-z0-9_.]", "_")
      val out = java.nio.file.Paths.get(s"tools/shuffle_audit_$sfTag.json")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out,
        json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    spark.stop()
  }
}
