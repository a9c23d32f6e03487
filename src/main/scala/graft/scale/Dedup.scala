package graft.scale

import graft.core.Ckpt
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType

/** Deduplication operators for LLM-corpus pipelines (BASELINE.json
  * extensions; not present in the reference — designed Spark-first for
  * 100 TB).
  *
  * Shuffle budget per operator:
  *  - exact: one shuffle on the 32-byte fingerprint (never on the text).
  *  - MinHash/LSH: explode+agg (shuffle on doc id), band self-join
  *    (shuffle on 8-byte band key), verification join back to token
  *    sets. Candidate volume is controlled by (k, bands) — tune r =
  *    k/bands up to push the collision threshold s ≈ (1/b)^(1/r) near
  *    the target jaccard.
  *  - SimHash: same shape with 16-bit chunk banding.
  *
  * GENERATE HYGIENE (the round-9 KB-corpus lesson, applied here and in
  * TextStats/HeavyHitters/Retrieval/KMeans): every explode of a
  * COMPUTED token/shingle/gram/unit array is the OUTER form followed
  * by an explicit null filter on the generated column. Spark's
  * InferFiltersFromGenerate plants `size(arr) > 0 AND isnotnull(arr)`
  * below a non-outer Generate, and predicate pushdown substitutes the
  * array EXPRESSION through the staged projections — re-inlining the
  * tokenization into the predicate, including into HOF lambdas where
  * it re-evaluates once per gram: O(tokens × grams) interpreted regex
  * work per row, per conjunct. Invisible on 100-word driver docs; the
  * KB-document audit measured it as task-HOURS at 1000-word docs
  * (jstack: StringSplit.nullSafeEval inside ArrayTransform inside a
  * pushed Filter). The outer generate is outside the rule's match, and
  * the null filter references the GENERATED column so it cannot push
  * below the Generate — same rows out (outer's null row for empty/null
  * arrays is dropped), no inferred predicate. Contract: array ELEMENTS
  * must never be null — true for every stream here; a null element
  * would now be dropped where plain explode kept it.
  */
object Dedup {

  /** Whitespace-collapsed lowercase form — the dedup equivalence class. */
  def normalize(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** 256-bit content fingerprint of the normalized text. */
  def fingerprint(text: Column): Column = sha2(normalize(text), 256)

  /** Distinct lowercase word tokens. */
  def tokenSet(text: Column): Column =
    array_distinct(TextStats.tokens(text))

  /** Distinct word n-gram shingles as 64-bit hashes — `xxhash64`
    * applied structurally to each token slice, so no gram STRING is
    * ever materialized (at corpus scale the concat alone is a
    * measurable fraction of the job). Same gram inventory as
    * [[shingleSet]] modulo 2^-64 collisions; empty docs yield an empty
    * set (matching shingleSet's empty-gram filter). */
  def hashedShingleSet(text: Column, n: Int): Column =
    hashedShinglesFromTokens(
      filter(split(lower(text), "[^a-z]+"), t => t =!= ""), n)

  /** Hashed shingles over an already-tokenized array column. Pass an
    * ATTRIBUTE (a materialized column), not the tokenization expression
    * itself: HOF lambdas are interpreted, so an inlined expression is
    * re-evaluated once per gram — O(tokens × grams) regex work. */
  def hashedShinglesFromTokens(toks: Column, n: Int): Column =
    when(size(toks) === 0, array().cast("array<bigint>"))
      .otherwise(array_distinct(
        transform(sequence(lit(0), greatest(size(toks) - n, lit(0))),
          i => xxhash64(slice(toks, i + 1, lit(n))))))

  /** Distinct word n-gram shingles. */
  def shingleSet(text: Column, n: Int): Column =
    shinglesFromTokens(
      filter(split(lower(text), "[^a-z]+"), t => t =!= ""), n)

  /** String shingles over an already-tokenized array column — the
    * fused codegen scan (round-14; [[shinglesFromTokensComposed]] is
    * the built-in form it is bit-equal to, ScaleSpec-pinned: the
    * composed transform/filter/distinct chain is CodegenFallback and
    * ran interpreted in the curation hot stages, ExprBench 0.51 s per
    * 5k docs per core vs ~0.08 s fused). */
  def shinglesFromTokens(toks: Column, n: Int): Column =
    graft.functions.TextFns.wordShinglesCol(toks, n)

  /** [[shinglesFromTokens]] composed from built-ins — the cross-check
    * form. Prefer passing an ATTRIBUTE over the raw tokenization
    * expression: HOF lambdas are interpreted, so an inlined expression
    * re-runs the regex split once per gram (O(tokens × grams) —
    * measured 4× on the decontamination pass). */
  def shinglesFromTokensComposed(toks: Column, n: Int): Column =
    array_distinct(filter(
      transform(sequence(lit(0), greatest(size(toks) - n, lit(0))),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))),
      s => s =!= ""))

  /** Per-document novelty score: the fraction of a document's distinct
    * word n-gram shingles that appear in NO other document — the
    * boilerplate/template detector dual to near-dup mining (a doc made
    * of site chrome scores ~0; original prose scores ~1). Filtering on
    * novelty removes the long boilerplate tail that LSH pair mining
    * never surfaces because no single pair clears the jaccard bar.
    *
    * Scale shape — count the DUPLICATED shingles, not the novel ones
    * (novel = total − duplicated, and totals are free): `n_shingles`
    * is a pure projection (size of the per-doc distinct set — no
    * explode); the (id, hash) stream explodes ONCE into the
    * global (hash) count aggregate (map-side combined — the one
    * inevitable shuffle: global shingle frequency IS a shuffle) and
    * once into a LEFT SEMI join against the `count > 1` hash set —
    * which is boilerplate-sized (real corpora: most shingles are
    * unique), so AQE broadcasts it and the occurrence stream never
    * re-keys; at dup-set sizes past broadcast it degrades to one
    * shuffled semi join. The first draft joined the FULL count table
    * back onto every occurrence — the audit measured it at 5.2×
    * source on the duplication-heavy sf10 corpus; this shape measures
    * 0.18×. md5-60 keeps the pipeline DuckDB-replayable; a collision
    * only merges two shingles' counts (novelty can only DROP —
    * conservative). Output: (idCol, n_shingles, n_novel, novelty
    * round-6); docs with no shingles score 0 over 0. */
  def noveltyScore(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, broadcastDups: Boolean = true): DataFrame = {
    // tokens hoisted to an attribute (repo rule: an inlined
    // tokenization expression re-runs the regex once per gram)
    val base = df
      .withColumn("__toks", TextStats.tokens(col(textCol)))
      .withColumn("__shs", shinglesFromTokens(col("__toks"), n))
    // outer + null-filter: generate hygiene (class scaladoc) — a plain
    // explode of this computed array lets InferFiltersFromGenerate
    // re-inline the whole shingle chain into a pushed predicate
    val sh = base
      .select(col(idCol), explode_outer(col("__shs")).as("__s"))
      .filter(col("__s").isNotNull)
      .select(col(idCol), md5Hash60(col("__s")).as("__h"))
    // The broadcast HINT matters: the static planner estimates the dup
    // aggregate from its big input and picks SortMergeJoin, and AQE's
    // runtime conversion comes too late to save the left side's
    // shuffle WRITE (the stage is materialized before the size is
    // known) — measured 5.2× source at sf10 unhinted vs 0.18× hinted.
    // `broadcastDups = false` keeps the shuffled plan for corpora
    // whose duplicated-shingle set exceeds executor memory.
    val dup = sh.groupBy(col("__h")).agg(count(lit(1)).as("__docs"))
      .filter(col("__docs") > 1L).select(col("__h"))
    val dupSide = if (broadcastDups) broadcast(dup) else dup
    val dupPerDoc = sh.join(dupSide, Seq("__h"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("__ndup"))
    base.select(col(idCol), size(col("__shs")).cast("long").as("n_shingles"))
      .join(dupPerDoc, Seq(idCol), "left")
      .withColumn("n_novel",
        col("n_shingles") - coalesce(col("__ndup"), lit(0L)))
      .select(col(idCol), col("n_shingles"), col("n_novel"),
        round(col("n_novel").cast("double") /
          greatest(col("n_shingles"), lit(1L)).cast("double"), 6)
          .as("novelty"))
  }

  /** Exact dedup: keep the smallest-id row per fingerprint. Grouping on
    * the hash, not the document, keeps shuffle KEYS narrow; the row
    * rides the fingerprint window exchange once as payload — the
    * operator's one unconditional full shuffle.
    *
    * Why not a narrow-keys-then-anti-join form (loser ids from an
    * (id, fingerprint)-only window, then `df LEFT ANTI JOIN losers`)?
    * Measured (graft.ShuffleAudit + Bench, sf0.1): shuffle volume did
    * NOT drop (the sha256 fingerprint is 32 of the ~40 narrow bytes,
    * and union-heavy callers duplicate the loser sub-plan), while
    * wall-clock REGRESSED ~35% (q40 0.38→0.52 s, q100 3.18→4.20 s)
    * from the double upstream evaluation and the extra broadcast-build
    * job. And at cluster scale the anti-join only wins while the loser
    * set broadcasts: at realistic duplicate fractions (10-30% of a
    * 10^10-doc corpus) the loser ids alone are tens of GB, the join
    * falls back to a shuffled anti join, and the corpus crosses the
    * wire anyway — plus the narrow window on top. One predictable,
    * skew-free full shuffle is the better contract. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(col("__fp"))
    df.withColumn("__fp", fingerprint(col(textCol)))
      .withColumn("__keep", min(col(idCol)).over(w))
      .filter(col(idCol) === col("__keep"))
      .drop("__keep")
      .withColumnRenamed("__fp", "fingerprint")
  }

  /** Split a token array into consecutive n-token unit strings — the
    * "paragraph" analog for corpora without structural separators
    * (real pipelines pass actual paragraph splits; the dedup semantics
    * downstream are identical). */
  def unitChunks(toks: Column, n: Int): Column =
    when(size(toks) === 0, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(0), ceil(size(toks) / lit(n.toDouble)).cast("int") - 1),
        i => array_join(slice(toks, i * n + 1, lit(n)), " ")))

  /** Sub-document (paragraph/unit-level) exact dedup — the
    * MassiveText/C4-style pass that removes REPEATED PASSAGES across
    * documents while keeping the documents themselves: a unit survives
    * iff it is the globally first occurrence (smallest (id, pos)) of
    * its content; each document is reassembled from its surviving
    * units in order.
    *
    * Output: (idCol, n_chunks, n_kept, dedup_text).
    *
    * Scale: the unit text is hashed AT EXPLODE TIME and immediately
    * projected away, so the first-occurrence window shuffles pure
    * (id, pos, 8-byte hash) rows — the text never rides the window
    * exchange at all. Survivor positions fold to one int array per
    * doc (narrow (id)-keyed aggregate), and the rebuild is a single
    * join of that frame back onto the units column plus an
    * `element_at` projection: the corpus text crosses the wire at
    * most once (the join's doc side under a shuffled join; zero times
    * when the survivor frame broadcasts). The first form of this
    * operator carried the unit text as window payload AND through a
    * collect_list reassembly aggregate — two text-mass exchanges the
    * KB-doc audit measured at ~4.8× compressed source, vs ~1× +
    * narrow marks here. A 2^-64 hash collision would merge two
    * distinct units — below the oracle's noise floor, the same
    * argument as [[hashedShingleSet]]. No collect, no all-pairs
    * anything.
    *
    * Precondition: `idCol` is unique per row (every caller feeds
    * `doc_id`). The rebuild join fans out duplicate ids instead of
    * collapsing them the way the earlier aggregate shape did. */
  def unitDedup(df: DataFrame, idCol: String, unitsCol: String): DataFrame = {
    val ex = df.select(col(idCol).as("__id"),
      posexplode_outer(col(unitsCol)).as(Seq("__pos", "__unit")))
      .filter(col("__unit").isNotNull) // generate hygiene — class doc
      .select(col("__id"), col("__pos"), xxhash64(col("__unit")).as("__uh"))
    val w = Window.partitionBy(col("__uh"))
      .orderBy(col("__id"), col("__pos"))
    // ONE narrow (id)-keyed aggregate: the unit count plus the
    // surviving positions (ascending — document order; collect_list
    // skips the non-kept rows' nulls, so a doc whose units are all
    // later occurrences gets an EMPTY array, not a missing row).
    // Unit-less docs (empty or null units) produce no exploded rows,
    // so they are absent from this frame — the inner join below
    // reproduces the original drop contract withOUT a filter on the
    // computed units array (which pushdown would re-inline into a
    // split-bearing Filter predicate — generate hygiene, class doc).
    val kept = ex.withColumn("__rn", row_number().over(w))
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("__nc"),
        sort_array(collect_list(when(col("__rn") === 1, col("__pos"))))
          .as("__kps"))
    df.select(col(idCol).as("__id"), col(unitsCol).as("__units"))
      .join(kept, Seq("__id"))
      .select(col("__id").as(idCol),
        col("__nc").as("n_chunks"),
        size(col("__kps")).cast("long").as("n_kept"),
        when(size(col("__kps")) === 0, lit(""))
          .otherwise(array_join(transform(col("__kps"),
            p => element_at(col("__units"), p + 1)), " "))
          .as("dedup_text"))
  }

  /** Exact jaccard between two pre-distinct token arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    (inter.cast("double") / (size(a) + size(b) - inter).cast("double"))
  }

  /** All pairs (id_a < id_b) with token-set jaccard ≥ threshold —
    * exact O(n²) verification for bounded slices (the oracle-side
    * ground truth the LSH operators approximate). */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
      minJaccard: Double): DataFrame = {
    val sets = df.select(col(idCol), tokenSet(col(textCol)).as("toks"))
    val a = sets.select(col(idCol).as("id_a"), col("toks").as("ta"))
    val b = sets.select(col(idCol).as("id_b"), col("toks").as("tb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("jaccard", round(jaccard(col("ta"), col("tb")), 4))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")
  }

  // ---- MinHash + LSH ----------------------------------------------------

  /** @param reproducible use cross-engine-reproducible hashes (md5-60
    *        longs for shingles AND band buckets) instead of
    *        Spark-internal murmur3/xxhash — slightly slower, but a SQL
    *        oracle can replay the whole pipeline bit-for-bit. */
  final case class MinHashParams(k: Int = 64, bands: Int = 16,
      shingle: Int = 3, seed: Long = 42L, reproducible: Boolean = false) {
    require(k % bands == 0, "bands must divide k")
    val rowsPerBand: Int = k / bands
  }

  private[graft] val Prime = 2147483647L // 2^31 - 1

  /** Deterministic (a, b) coefficient pairs for k universal-hash
    * permutations h_i(x) = (a_i x + b_i) mod p. */
  private[graft] def coeffs(p: MinHashParams): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(p.seed)
    Seq.fill(p.k)((rnd.nextInt(Int.MaxValue - 1).toLong + 1L,
      rnd.nextInt(Int.MaxValue).toLong))
  }

  /** Per-document MinHash signature: (idCol, sig array<long>).
    * One explode + one groupBy(doc) — all k mins computed in a single
    * aggregate pass, no per-permutation jobs. */
  def signatures(df: DataFrame, idCol: String, textCol: String,
      p: MinHashParams = MinHashParams()): DataFrame =
    signaturesFromSets(
      df.select(col(idCol), TextStats.tokens(col(textCol)).as("__toks"))
        .select(col(idCol),
          shinglesFromTokens(col("__toks"), p.shingle).as("__set")),
      idCol, p)

  /** Signature computation over pre-tokenized shingle sets (column
    * `__set`) — shared by [[signatures]] and [[nearDuplicates]] so the
    * hash math exists once. Round-14: ONE fused codegen pass per
    * document ([[graft.functions.MinHashSig]]) — no shingle explode,
    * no k-column hash aggregate, no exchange.
    * [[signaturesFromSetsComposed]] is the aggregate form it is
    * bit-equal to (ScaleSpec pins the identity).
    *
    * Round-15: the empty-set guard moved BELOW the projection. The
    * r14 form projected `sig` then filtered `sig IS NOT NULL`; filter
    * pushdown substituted the full 64-probe expression into the
    * Filter, so every document paid the signature battery TWICE (and
    * the LSH self-join's two branches made it 4× — the measured q42
    * 0.85→1.25 s regression; plans/r15/q42 before/after). The guard is
    * the CHEAP exact precondition instead: sig is null iff the array
    * holds no non-null element, which for the non-null-element arrays
    * every caller feeds (shinglesFromTokens declares
    * containsNull=false) is `size(__set) > 0`; a nullable-element
    * array falls back to `exists(x -> x IS NOT NULL)`. Same rows out,
    * one signature evaluation per row. */
  def signaturesFromSets(sets: DataFrame, idCol: String,
      p: MinHashParams): DataFrame = {
    val elemNullable = sets.schema("__set").dataType match {
      case ArrayType(_, n) => n
      case _ => true
    }
    val hasElem =
      if (elemNullable) exists(col("__set"), _.isNotNull)
      else size(col("__set")) > 0
    sets.filter(col("__set").isNotNull && hasElem)
      .select(col(idCol),
        graft.functions.MinHashSig.sigCol(col("__set"), coeffs(p),
          p.reproducible, Prime).as("sig"))
  }

  /** [[signaturesFromSets]] as the original explode + k-column min
    * aggregate — the cross-check form. */
  def signaturesFromSetsComposed(sets: DataFrame, idCol: String,
      p: MinHashParams): DataFrame = {
    val exploded = sets
      .select(col(idCol), explode_outer(col("__set")).as("__sh"))
      .filter(col("__sh").isNotNull) // generate hygiene — class doc
      // → non-negative long in [0, p)
      .withColumn("__h", pmod(
        if (p.reproducible) md5Hash60(col("__sh"))
        else hash(col("__sh")).cast("long"), lit(Prime)))
    val minCols = coeffs(p).zipWithIndex.map { case ((a, b), i) =>
      min(pmod(col("__h") * a + b, lit(Prime))).as(s"__m$i")
    }
    exploded.groupBy(col(idCol))
      .agg(minCols.head, minCols.tail: _*)
      .select(col(idCol),
        array((0 until p.k).map(i => col(s"__m$i")): _*).as("sig"))
  }

  /** (idCol, band, bucket) rows from a signature frame — the banded
    * LSH key stream shared by [[candidatePairs]] (self-join) and
    * [[dedupAgainstIndex]] (batch-vs-index join).
    *
    * The bucket is a fixed-width LONG, not a hash string: this stream
    * is the curation pipelines' dominant exchange (bands × corpus
    * rows), and an md5 hex string carries 48 B on the wire where the
    * md5-60 fold carries 8 — the bucket is only ever compared for
    * equality, so the narrow key halves the exchange at identical
    * candidate semantics (the oracle folds the same first 15 md5 hex
    * digits; collisions at 2^60 are jaccard-verified away anyway). */
  def bandedBuckets(sigs: DataFrame, idCol: String,
      p: MinHashParams = MinHashParams()): DataFrame =
    sigs.select(
      col(idCol),
      posexplode(array((0 until p.bands).map { bIdx =>
        val sliced = slice(col("sig"), bIdx * p.rowsPerBand + 1, p.rowsPerBand)
        if (p.reproducible)
          md5Hash60(concat_ws(",", transform(sliced, _.cast("string"))))
        else hash(sliced).cast("long")
      }: _*)).as(Seq("band", "bucket")))

  /** Drop (band, bucket) groups whose population exceeds `max` — the
    * standard LSH hot-bucket guard: a bucket shared by millions of
    * boilerplate documents contributes O(population²) candidate pairs
    * while carrying almost no discriminative signal (every member
    * collides on MANY bands, so true near-dups in a dropped bucket are
    * still found through their other bands with high probability; the
    * residual miss rate is the AND-probability of all r rows agreeing
    * ONLY in overloaded bands).
    *
    * Shape: a COUNT window over the same (band, bucket) partitioning
    * the downstream join uses — not a groupBy+join, which would plan
    * the banded stream (the pipelines' dominant exchange, bands ×
    * corpus rows) into TWO separate exchanges (one feeding the
    * partial-agg counts, one feeding the join probe) and recompute
    * the signature aggregation for each; the window form shuffles the
    * stream once and the self-join reuses that exchange (measured on
    * q100: the join form cost +50% wall at sf0.1).
    *
    * Shared by the MinHash band stream (band/bucket) and the sign-LSH
    * vector stream (__band/__bucket) — same guard, same exchange-reuse
    * argument, both gate-checked in binding regimes (q164/q165). */
  private def boundBuckets(banded: DataFrame, max: Int,
      bandCol: String = "band", bucketCol: String = "bucket"): DataFrame =
    banded
      .withColumn("__bn", count(lit(1)).over(
        Window.partitionBy(col(bandCol), col(bucketCol))))
      .filter(col("__bn") <= max)
      .drop("__bn")

  /** LSH candidate pairs (idA < idB) from banded signatures.
    * `maxBucket` caps per-bucket population (hot-bucket guard, see
    * [[boundBuckets]]); None = exact candidate set. */
  def candidatePairs(sigs: DataFrame, idCol: String,
      p: MinHashParams = MinHashParams(),
      maxBucket: Option[Int] = None): DataFrame = {
    val all = bandedBuckets(sigs, idCol, p)
    val banded = maxBucket.fold(all)(boundBuckets(all, _))
    val l = banded.select(col(idCol).as("id_a"), col("band"), col("bucket"))
    val r = banded.select(col(idCol).as("id_b"), col("band"), col("bucket"))
    l.join(r, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** End-to-end near-dup detection: LSH candidates verified by exact
    * shingle jaccard ≥ threshold. `maxBucket` is the hot-bucket guard
    * (see [[boundBuckets]]); None = exact candidate set. */
  def nearDuplicates(df: DataFrame, idCol: String, textCol: String,
      minJaccard: Double,
      p: MinHashParams = MinHashParams(),
      maxBucket: Option[Int] = None): DataFrame =
    nearDuplicatesPinned(df, idCol, textCol, minJaccard, p, maxBucket,
      Ckpt.local(_, eager = false))

  /** [[nearDuplicates]] plus a release handle for the internal caches:
    * composed pipelines (Curation) call it after materializing the
    * pair list so repeated passes don't accumulate cached shingle
    * sets. The plain form pins the same two frames as result-owned
    * lazy local checkpoints ([[Ckpt]]): its pairs are returned lazily,
    * so nothing could release a cache entry, while the checkpoints'
    * blocks go with the frame.
    *
    * Verification never shuffles the corpus (the round-8 sf10 audit
    * lesson): a plain `cands ⋈ sets ⋈ sets` id-join plans as
    * sort-merge once the set side outgrows the broadcast threshold,
    * and its exchange carries EVERY document's shingle set — measured
    * 4.8 GB shuffle + 4.1 GB sort spill at 500k docs (80× source,
    * growing super-linearly in the audit) for a candidate list of a
    * few thousand pairs. Instead the cached sets are first semi-
    * filtered to ids that appear in some candidate pair, so the
    * verify joins touch only candidate docs' sets — shuffle linear in
    * the PAIR count, independent of corpus size. Same rows out, so the
    * q42/q100/q130 oracles are untouched. `cands` is cached so the
    * LSH chain (signature agg + band self-join) runs once, not once
    * per verify-join side; the release handle ends the scope that
    * owns both caches.
    *
    * The candidate-id semi join carries an EXPLICIT broadcast hint
    * ONLY when `maxBucket` is set: the hint overrides the size
    * threshold and collects the id list to the driver, which is safe
    * exactly when the hot-bucket guard bounds per-bucket candidate
    * volume by construction (≤ maxBucket²/2 pairs per surviving
    * bucket). Unguarded (maxBucket = None, the exact-candidate mode),
    * a boilerplate-heavy corpus can yield O(n²) pairs, so the semi
    * join is left to the planner — a pathological corpus degrades to
    * a shuffled semi join instead of a driver OOM. Corpus-scale
    * callers should pass a cap (the curation pipelines use 1000). */
  def nearDuplicatesReleasable(df: DataFrame, idCol: String,
      textCol: String, minJaccard: Double,
      p: MinHashParams = MinHashParams(),
      maxBucket: Option[Int] = None): (DataFrame, () => Unit) =
    Ckpt.releasable(pins => nearDuplicatesPinned(df, idCol, textCol,
      minJaccard, p, maxBucket, pins.cache(_: DataFrame)))

  /** The near-dup chain with its two multi-consumer frames (the
    * shingle sets, the candidate pairs) pinned by `pin`. */
  private def nearDuplicatesPinned(df: DataFrame, idCol: String,
      textCol: String, minJaccard: Double, p: MinHashParams,
      maxBucket: Option[Int], pin: DataFrame => DataFrame): DataFrame = {
    // tokenize once: the pinned set frame feeds both the signature
    // explode and the verification joins (3 regex passes -> 1).
    // Widened first (guide §2.5, Par.widen): the tokenize+shingle
    // battery otherwise runs at the file count.
    val sets = pin(graft.core.Par.widen(df, col(idCol))
      .select(col(idCol).as("__id"), TextStats.tokens(col(textCol)).as("__toks"))
      .select(col("__id"),
        shinglesFromTokens(col("__toks"), p.shingle).as("__set")))
    // Eager fill (round-14): the LSH chain fans `sets` into SEVERAL
    // independent AQE stages (the band self-join's two sides, the two
    // verify joins, the candidate-id semi filter) that materialize
    // concurrently — each one racing an EMPTY cache re-runs the
    // tokenize+shingle battery and the upstream scan from scratch
    // (profiled on q130: four full corpus scans where one suffices).
    // One count fills the cache (and its upstream caller cache) once,
    // serially, before the fan-out.
    sets.count()
    val sigs = signaturesFromSets(
      sets.select(col("__id").as(idCol), col("__set")), idCol, p)
    val cands = pin(candidatePairs(sigs, idCol, p, maxBucket))
    val candIds = cands
      .select(explode(array(col("id_a"), col("id_b"))).as("__id")).distinct()
    val candIdsHinted =
      if (maxBucket.isDefined) broadcast(candIds) else candIds
    val setsC = sets.join(candIdsHinted, Seq("__id"), "left_semi")
    cands
      .join(setsC.withColumnRenamed("__id", "id_a")
        .withColumnRenamed("__set", "set_a"), Seq("id_a"))
      .join(setsC.withColumnRenamed("__id", "id_b")
        .withColumnRenamed("__set", "set_b"), Seq("id_b"))
      .withColumn("jaccard", round(jaccard(col("set_a"), col("set_b")), 4))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")
  }

  /** Hot-bucket-guard recall measurement — the tuning companion to
    * [[boundBuckets]]. Output: every TRUE near-dup pair (exact,
    * UNGUARDED LSH candidates verified by shingle jaccard ≥
    * `minJaccard`) as `(id_a, id_b, jaccard, found)`, where `found`
    * says the maxBucket-guarded candidate set still contains the
    * pair. The guard's correctness story — a pair dropped from an
    * overloaded bucket is still found through its other bands unless
    * the two docs agree ONLY in overloaded bands (boundBuckets
    * scaladoc) — becomes a measured number: `avg(found)` over a pair
    * population of interest is recall at the chosen threshold.
    *
    * This is a MEASUREMENT tool, not a production operator: the
    * exact-candidate side deliberately runs without the guard, i.e.
    * it pays the O(population²) blowup the guard exists to prevent.
    * Run it on a bounded sample (or a planted-duplicate synthetic
    * corpus — ScaleSpec's usage, which gates the shipping
    * maxBucket = 1000) to pick the cap; never on the full corpus.
    * Both candidate sets are derived from ONE banded-bucket stream,
    * so the guarded set is a subset of the exact set by construction
    * and `found` is never spuriously false from hash drift. */
  def guardRecallPairs(df: DataFrame, idCol: String, textCol: String,
      minJaccard: Double, p: MinHashParams = MinHashParams(),
      maxBucket: Int = 1000): DataFrame = {
    // lazy local checkpoints, not persists: the pairs are returned
    // lazily, so nothing could release a cache entry, while the
    // checkpoints' blocks go with the frame
    val sets = Ckpt.local(df
      .select(col(idCol).as("__id"),
        shinglesFromTokens(TextStats.tokens(col(textCol)), p.shingle)
          .as("__set")), eager = false)
    val sigs = signaturesFromSets(
      sets.select(col("__id").as(idCol), col("__set")), idCol, p)
    val banded = Ckpt.local(bandedBuckets(sigs, idCol, p), eager = false)
    def pairsOf(b: DataFrame): DataFrame = {
      val l = b.select(col(idCol).as("id_a"), col("band"), col("bucket"))
      val r = b.select(col(idCol).as("id_b"), col("band"), col("bucket"))
      l.join(r, Seq("band", "bucket"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b").distinct()
    }
    val truth = pairsOf(banded)
      .join(sets.select(col("__id").as("id_a"), col("__set").as("__sa")),
        Seq("id_a"))
      .join(sets.select(col("__id").as("id_b"), col("__set").as("__sb")),
        Seq("id_b"))
      .withColumn("jaccard", round(jaccard(col("__sa"), col("__sb")), 4))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")
    val guarded = pairsOf(boundBuckets(banded, maxBucket))
      .withColumn("found", lit(true))
    truth.join(guarded, Seq("id_a", "id_b"), "left")
      .withColumn("found", coalesce(col("found"), lit(false)))
  }

  /** The persisted artifact for INCREMENTAL dedup: one row per corpus
    * document, (idCol, sig array<long> of k mins). At k=64 that is
    * ~0.5 KB/doc — a 100 TB corpus indexes into a few hundred GB that
    * daily batches dedup against WITHOUT ever re-reading corpus text.
    * Alias of [[signatures]], named for the contract. */
  def signatureIndex(corpus: DataFrame, idCol: String, textCol: String,
      p: MinHashParams = MinHashParams()): DataFrame =
    signatures(corpus, idCol, textCol, p)

  /** Incremental (cross-corpus) near-dup detection: mark each document
    * of a NEW batch that near-duplicates something already in a
    * persisted [[signatureIndex]] — the production shape at 100 TB,
    * where re-running all-corpus dedup per ingest batch is impossible
    * and the index is maintained instead.
    *
    * Verification is signature agreement (fraction of equal MinHash
    * components — the unbiased estimator of Jaccard), NOT exact
    * shingle Jaccard: the index carries no text, so the whole check
    * runs on (batch text + corpus sigs). With k=64 the agreement is an
    * exact multiple of 1/64, so results hash bit-stably.
    *
    * Output: one row per batch document —
    * (idCol, matched_id: lowest matching corpus id or NULL,
    *  kept: 1 when no index match, best_agree: max agreement or NULL).
    *
    * Scale: the batch⋈index join shuffles only (band, bucket) 8-to-32
    * byte keys + ids; candidate dedup before the verify join; corpus
    * text never read; batch side is the small side by construction.
    * Skew caveat shared with [[candidatePairs]]: a boilerplate band
    * bucket common to millions of corpus docs makes a hot key — cap or
    * salt such buckets upstream (same posture as q42's scaladoc). */
  def dedupAgainstIndex(batch: DataFrame, index: DataFrame, idCol: String,
      textCol: String, minAgree: Double,
      p: MinHashParams = MinHashParams(),
      maxBucket: Option[Int] = None): DataFrame =
    dedupAgainstIndexSigs(batch.select(col(idCol)),
      signatures(batch, idCol, textCol, p), index, idCol, minAgree, p,
      maxBucket)

  /** [[dedupAgainstIndex]] over PRECOMPUTED batch signatures — for
    * callers that need the sigs again afterwards (StreamDedup appends
    * the kept ones to the index; computing them twice would double the
    * most expensive per-batch stage). `batchIds` must hold every batch
    * id (docs with no signature — empty text — come out kept). */
  def dedupAgainstIndexSigs(batchIds: DataFrame, bSigs: DataFrame,
      index: DataFrame, idCol: String, minAgree: Double,
      p: MinHashParams = MinHashParams(),
      maxBucket: Option[Int] = None): DataFrame = {
    val bBand = bandedBuckets(bSigs, idCol, p)
      .select(col(idCol).as("__bid"), col("band"), col("bucket"))
    // the guard bounds the INDEX side — that is the 100 TB-scale side
    // where boilerplate buckets accumulate unboundedly over time
    val iAll = bandedBuckets(index, idCol, p)
    val iBand = maxBucket.fold(iAll)(boundBuckets(iAll, _))
      .select(col(idCol).as("__iid"), col("band"), col("bucket"))
    val cands = bBand.join(iBand, Seq("band", "bucket"))
      .select("__bid", "__iid").distinct()
    val agreeExpr = aggregate(
      zip_with(col("__bsig"), col("__isig"),
        (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), _ + _).cast("double") / lit(p.k.toDouble)
    val matches = cands
      .join(bSigs.select(col(idCol).as("__bid"), col("sig").as("__bsig")),
        Seq("__bid"))
      .join(index.select(col(idCol).as("__iid"), col("sig").as("__isig")),
        Seq("__iid"))
      .withColumn("__agree", agreeExpr)
      .filter(col("__agree") >= minAgree)
      .groupBy(col("__bid"))
      .agg(min(col("__iid")).as("matched_id"),
        max(col("__agree")).as("best_agree"))
    batchIds.select(col(idCol))
      .join(matches.withColumnRenamed("__bid", idCol), Seq(idCol), "left")
      .select(col(idCol), col("matched_id"),
        when(col("matched_id").isNull, 1).otherwise(0).as("kept"),
        col("best_agree"))
  }

  /** Embedding-cosine near-dup pairs over a BOUNDED corpus slice:
    * exact pairwise cosine ≥ threshold (broadcast one side). O(n²) by
    * design — this is the ground-truth/recall-measurement form (the
    * q41-vs-q42 pattern); the production path at corpus scale is
    * [[embeddingNearDupsBucketed]]. */
  def embeddingNearDups(df: DataFrame, idCol: String, vecCol: String,
      minCosine: Double): DataFrame = {
    val v = df.select(col(idCol).as("__id"),
      col(vecCol).cast("array<double>").as("__v"))
    val a = v.select(col("__id").as("id_a"), col("__v").as("va"))
    val b = v.select(col("__id").as("id_b"), col("__v").as("vb"))
    a.join(broadcast(b), col("id_a") < col("id_b"))
      .withColumn("cosine",
        round(Similarity.cosine(col("va"), col("vb")), 6))
      .filter(col("cosine") >= minCosine)
      .select("id_a", "id_b", "cosine")
  }

  /** Embedding near-dup pairs at corpus scale: banded sign-LSH
    * pre-partitioning + exact cosine verify WITHIN each bucket.
    *
    * AND-OR amplification: each band hashes with its own `nPlanes`
    * seeded hyperplanes ([[Similarity.lshBucket]]); a pair is a
    * candidate iff it shares a bucket in AT LEAST ONE band. With plane
    * agreement probability p = 1 - θ/π, recall = 1-(1-p^nPlanes)^bands
    * while per-band bucket population falls by 2^nPlanes — at a
    * production threshold (≥0.9 cosine), 8 planes × 2 bands gives
    * ~98% recall with 256× candidate pruning per band.
    *
    * The plan: one narrow shuffle on (band, bucket), neither side
    * broadcast (shuffle_hash hint pins the non-broadcast shape the
    * 100 TB corpus requires — ScaleSpec asserts it), candidate work
    * bounded by bucket populations. Cross-bucket pairs are missed by
    * design; recall is measured against [[embeddingNearDups]] on a
    * bounded slice (the q41-vs-q42 pattern).
    *
    * Why vectors ride the band rows (shuffle = 2 × bands × corpus
    * vector volume, graft.ShuffleAudit-measured 4.3× source at
    * sf0.1/bands=2): the alternative — narrow (id, band, bucket)
    * candidate keys, distinct pairs, then vector-fetch joins by id —
    * was measured 8× WORSE (27.7 MB vs 3.45 MB) because clustered
    * corpora skew bucket populations, and unverified candidate PAIRS
    * (quadratic in bucket size) would cross the wire three times,
    * where this form generates and cosine-verifies them inside the
    * bucket join without ever shuffling them. Shuffle here scales
    * with the corpus, never with the pair count.
    *
    * THE PAIR COUNT ITSELF does not: in-bucket verify work is
    * Σ popᵢ² per band, and a clustered corpus at fixed `nPlanes`
    * concentrates in few sign-buckets, so populations grow ∝ N — the
    * sf100 shuffle audit measured 9.6 → 149 s wall for just 2.06× the
    * vectors (alpha ≈ 3.9: the quadratic verify compounded by the
    * distinct over the quadratic pair output) UNDER a perfectly flat
    * shuffle ratio. Two
    * corpus-scale controls, both caller-owned: (1) scale `nPlanes`
    * with the corpus (≈ log2(N / target bucket population); raises
    * per-band miss rate for borderline pairs — compensate with more
    * `bands`, whose cost is linear shuffle); (2) `maxBucket`, the same
    * hot-bucket guard the MinHash path carries — drops (band, bucket)
    * groups above the cap BEFORE the self-join, bounding verify work
    * at bands × buckets × cap² whatever the skew. With only 2 bands a
    * dropped bucket's true pairs survive at the other band's collision
    * rate (p^nPlanes per band — lower insurance than MinHash's 16
    * bands; raise `bands` when guarding aggressively). Gate-checked in
    * its binding regime by q165 (the q164 pattern for vectors). */
  def embeddingNearDupsBucketed(df: DataFrame, idCol: String,
      vecCol: String, minCosine: Double, dim: Int, nPlanes: Int,
      bands: Int = 1, seed: Long = 42L,
      maxBucket: Option[Int] = None): DataFrame = {
    val all = vecBanded(df, idCol, vecCol, "__id", "__v",
      dim, nPlanes, bands, seed)
    val v = maxBucket.fold(all)(boundBuckets(all, _, "__band", "__bucket"))
    val a = v.select(col("__band"), col("__bucket"),
      col("__id").as("id_a"), col("__v").as("va"))
    val b = v.select(col("__band"), col("__bucket"),
      col("__id").as("id_b"), col("__v").as("vb"))
    a.join(b.hint("shuffle_hash"), Seq("__band", "__bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine",
        round(Similarity.cosine(col("va"), col("vb")), 6))
      .filter(col("cosine") >= minCosine)
      // a pair can match in several bands — dedup on the scalar result
      .select("id_a", "id_b", "cosine").distinct()
  }

  /** (outId, outVec, __band, __bucket) rows: the banded sign-LSH key
    * stream shared by [[embeddingNearDupsBucketed]] (self-join) and
    * [[dedupVectorsAgainstIndex]] (batch-vs-index) — one definition of
    * the per-band seed derivation and bucket projection. */
  private[scale] def vecBanded(df: DataFrame, idCol: String, vecCol: String,
      outId: String, outVec: String, dim: Int, nPlanes: Int, bands: Int,
      seed: Long): DataFrame = df
    .select(col(idCol).as(outId), col(vecCol).cast("array<double>").as(outVec))
    .select(col(outId), col(outVec),
      posexplode(array((0 until bands).map(b =>
        Similarity.lshBucket(col(outVec), dim, nPlanes, seed + b)): _*))
        .as(Seq("__band", "__bucket")))

  /** Incremental EMBEDDING dedup against a persisted vector index —
    * the vector-side mirror of [[dedupAgainstIndex]]: the corpus keeps
    * one (id, vector) row per document (int8-quantize via
    * [[Similarity.quantizeInt8]] to shrink 4× when the verify
    * tolerance allows), daily batches band on the same seeded sign-LSH
    * hyperplanes and verify exact cosine within colliding buckets.
    * Corpus raw data is never re-read; per-batch work is
    * O(batch + colliding buckets) like the text form, with the same
    * hot-bucket caveat (degenerate all-zero-ish regions — pre-filter
    * zero vectors as [[graft.scale.KMeans]] consumers do). `maxBucket`
    * guards the INDEX side — the 100 TB-scale side where dense
    * neighborhoods accumulate unboundedly over time (the
    * [[dedupAgainstIndexSigs]] sizing argument; see
    * [[embeddingNearDupsBucketed]] for the measured quadratic regime
    * the guard bounds).
    *
    * Output: one row per batch vector —
    * (idCol, matched_id: lowest corpus id with cosine ≥ minCosine or
    *  NULL, kept, best_cosine). */
  def dedupVectorsAgainstIndex(batch: DataFrame, index: DataFrame,
      idCol: String, vecCol: String, minCosine: Double, dim: Int,
      nPlanes: Int, bands: Int = 1, seed: Long = 42L,
      maxBucket: Option[Int] = None): DataFrame = {
    val iAll = vecBanded(index, idCol, vecCol, "__iid", "__iv",
      dim, nPlanes, bands, seed)
    val iBand = maxBucket.fold(iAll)(boundBuckets(iAll, _, "__band", "__bucket"))
    val matches = vecBanded(batch, idCol, vecCol, "__bid", "__bv",
        dim, nPlanes, bands, seed)
      .join(iBand.hint("shuffle_hash"),
        Seq("__band", "__bucket"))
      .withColumn("__cos", round(Similarity.cosine(col("__bv"), col("__iv")), 6))
      .filter(col("__cos") >= minCosine)
      // min/max are insensitive to the same pair colliding in several
      // bands, so no distinct pass is needed before the aggregate
      .groupBy(col("__bid"))
      .agg(min(col("__iid")).as("matched_id"),
        max(col("__cos")).as("best_cosine"))
    batch.select(col(idCol))
      .join(matches.withColumnRenamed("__bid", idCol), Seq(idCol), "left")
      .select(col(idCol), col("matched_id"),
        when(col("matched_id").isNull, 1).otherwise(0).as("kept"),
        col("best_cosine"))
  }


  // ---- SimHash ----------------------------------------------------------

  /** First 60 bits of md5 as a non-negative long — slower than
    * xxhash64 but reproducible in any engine with md5 (the oracle
    * path). Native codegen expression; [[md5Hash60Composed]] is the
    * built-in-only form it is bit-equal to (asserted in ScaleSpec). */
  def md5Hash60(c: Column): Column =
    graft.functions.Md5Hash60.md5Hash60(c)

  /** [[md5Hash60]] composed from built-ins (hex round-trip + string
    * base-16 parse) — the cross-check and the form available without
    * the graft expression library. */
  def md5Hash60Composed(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Per-document SimHash over word tokens: (idCol, simhash).
    * `hasher`/`nBits` select the token hash: xxhash64/64 (fast default)
    * or [[md5Hash60]]/60 (cross-engine reproducible). */
  /** Per-document SimHash as ONE fused pass over the distinct token
    * array ([[graft.functions.Simhash]], round-15) — no explode, no
    * nBits-column vote aggregate, no exchange. `reproducible` picks
    * the md5-60 token hash (the oracle-replayable mode, q43);
    * otherwise `xxhash64`. Documents with no token produce no row
    * (the composed form's explode_outer + null-filter contract),
    * guarded by the cheap `size > 0` precondition below the
    * projection — never by filtering the expression itself (the q42
    * double-evaluation lesson). [[simhashComposed]] is the explode +
    * vote-aggregate form it is bit-equal to (ScaleSpec pins it). */
  def simhash(df: DataFrame, idCol: String, textCol: String,
      reproducible: Boolean = false, nBits: Int = 64): DataFrame =
    df.select(col(idCol), tokenSet(col(textCol)).as("__ts"))
      .filter(size(col("__ts")) > 0) // tokenSet: containsNull = false
      .select(col(idCol),
        graft.functions.Simhash.sigCol(col("__ts"), nBits, reproducible)
          .as("simhash"))

  /** [[simhash]] as the original explode + per-bit vote aggregate —
    * the cross-check form. */
  def simhashComposed(df: DataFrame, idCol: String, textCol: String,
      reproducible: Boolean = false, nBits: Int = 64): DataFrame = {
    val hasher: Column => Column =
      if (reproducible) md5Hash60(_) else xxhash64(_)
    val exploded = df.select(col(idCol),
      explode_outer(tokenSet(col(textCol))).as("__t"))
      .filter(col("__t").isNotNull) // generate hygiene — class doc
      .withColumn("__h", hasher(col("__t")))
    // one agg: per-bit signed vote; positive vote → bit set
    val votes = (0 until nBits).map { j =>
      sum(when(shiftright(col("__h"), j).bitwiseAND(1) === 1, 1)
        .otherwise(-1)).as(s"__v$j")
    }
    val bits = (0 until nBits).map { j =>
      when(col(s"__v$j") > 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
    }
    exploded.groupBy(col(idCol))
      .agg(votes.head, votes.tail: _*)
      .select(col(idCol), bits.reduce(_.bitwiseOR(_)).as("simhash"))
  }

  def hammingDistance(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs: chunk banding with maxHamming+1 chunks —
    * by pigeonhole, a pair within hamming distance maxHamming must
    * share at least one unchanged chunk, so candidate recall is exact
    * for the requested radius (a fixed 4-chunk split would silently
    * miss pairs beyond distance 3). Verified by hamming ≤ maxHamming. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3,
      reproducible: Boolean = false, nBits: Int = 64): DataFrame = {
    require(maxHamming >= 0 && maxHamming < nBits / 2,
      "chunk banding needs nBits/(maxHamming+1) >= 2 bits per chunk")
    val nChunks = maxHamming + 1
    // balanced widths (nBits/nChunks, +1 for the first nBits%nChunks) —
    // a ceil split can leave a ZERO-width trailing chunk, which would
    // bucket every doc together and break the pigeonhole recall bound
    val widths = (0 until nChunks).map(c =>
      nBits / nChunks + (if (c < nBits % nChunks) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    val sigs = simhash(df, idCol, textCol, reproducible, nBits)
    val banded = sigs.select(col(idCol), col("simhash"),
      posexplode(array((0 until nChunks).map { c =>
        val bits = widths(c)
        val mask = if (bits >= 64) -1L else (1L << bits) - 1L
        shiftright(col("simhash"), offsets(c)).bitwiseAND(mask)
      }: _*)).as(Seq("chunk", "val")))
    val l = banded.select(col(idCol).as("id_a"), col("simhash").as("sig_a"),
      col("chunk"), col("val"))
    val r = banded.select(col(idCol).as("id_b"), col("simhash").as("sig_b"),
      col("chunk"), col("val"))
    l.join(r, Seq("chunk", "val"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        hammingDistance(col("sig_a"), col("sig_b")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }
}
