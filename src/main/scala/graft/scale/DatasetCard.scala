package graft.scale

import graft.core.Ckpt

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The dataset card: one query emitting the whole-corpus health
  * summary a training-data release ships with (datasheet /
  * dataset-card practice) — doc and token volume, exact token-count
  * quantiles, exact-duplicate rate, corpus novelty ratio, language
  * count, and the heuristic quality keep-rate. Long format
  * (metric, value) so the card grows without schema changes.
  *
  * Every number is EXACT-INTEGER-derived with at most one final
  * rounded division — no FP accumulations anywhere, so the whole
  * card hash-compares bit-exactly: token quantiles are the q186
  * DISCRETE selection (a value, not an interpolation), the novelty
  * ratio is Σ novel-shingles / Σ shingles over exact longs (NOT a
  * mean of per-doc rounded ratios, whose summation order engines
  * could disagree on), and the dup/keep rates divide exact counts.
  *
  * Scale shape: each metric family reuses its audited kernel — the
  * quantiles ride the bin-decomposed rank (no global sort), novelty
  * the hinted dup-set semi join, the rest are single narrow
  * aggregates. A card is a handful of corpus scans by design
  * (diagnostics, not a hot path); every scan is column-pruned to the
  * fields it needs. */
object DatasetCard {

  // deliberately NOT Par.widened: measured q200 1.43→1.84 s at sf0.1
  // (tight spread) — the card's batteries are cheap per byte after the
  // r14/r15 fusions and the raw-text exchange dominates
  def card(df: DataFrame, idCol: String, textCol: String,
      langCol: String): DataFrame = Ckpt.scoped { pins =>
    // ONE narrow projection scan shared by the volume aggregate and
    // the quantile kernel (round-14: the volumes and quantiles
    // passes each re-ran the tokenize/regex battery over the corpus;
    // sharing them halves the corpus-scan count). The cached frame is
    // NARROW by construction — (ntok, keep flag, 64-char fingerprint,
    // lang), never the corpus text — ~80 B/doc at 100 TB, the same
    // MEMORY_AND_DISK LRU budget the curation pipelines spend. The
    // novelty pass keeps its own scan: it explodes the shingle stream
    // and shares nothing but the tokenizer with the volume battery.
    val narrow = pins.cache(df.select(
      size(TextStats.tokens(col(textCol))).cast("long").as("__ntok"),
      when(TextStats.qualityScore(col(textCol)) >= 0.5, 1L)
        .otherwise(0L).as("__keepf"),
      Dedup.fingerprint(col(textCol)).as("__fpv"),
      col(langCol).as("__langv")))

    val volumes = narrow.agg(
      count(lit(1)).as("__n"), sum(col("__ntok")).as("__tok"),
      countDistinct(col("__fpv")).as("__fp"),
      countDistinct(col("__langv")).as("__langs"),
      sum(col("__keepf")).as("__keep"))
      .select(explode(array(
        struct(lit("n_docs").as("metric"),
          col("__n").cast("double").as("value")),
        struct(lit("total_tokens").as("metric"),
          coalesce(col("__tok"), lit(0L)).cast("double").as("value")),
        struct(lit("exact_dup_rate").as("metric"),
          round(lit(1.0) - col("__fp").cast("double") /
            greatest(col("__n"), lit(1L)).cast("double"), 6).as("value")),
        struct(lit("n_langs").as("metric"),
          col("__langs").cast("double").as("value")),
        struct(lit("quality_keep_rate").as("metric"),
          round(coalesce(col("__keep"), lit(0L)).cast("double") /
            greatest(col("__n"), lit(1L)).cast("double"), 6).as("value"))))
        .as("__m"))
      .select(col("__m.metric"), col("__m.value"))

    // the quantile kernel's lazy checkpoint is consumed by the result
    // checkpoint below: adopted, so it goes with the scope too
    val quantiles = pins.adopt(Quantiles.exactQuantiles(
      narrow.select(col("__ntok").cast("double").as("__v")), "__v",
      Seq(0.5, 0.95)))
      .select(concat(lit("p"), round(col("p") * 100).cast("int"),
        lit("_tokens")).as("metric"), col("value"))

    val novelty = Dedup.noveltyScore(df, idCol, textCol, n = 3)
      .agg(sum(col("n_novel")).as("__nn"),
        sum(col("n_shingles")).as("__ns"))
      .select(lit("novelty_ratio").as("metric"),
        round(col("__nn").cast("double") /
          greatest(col("__ns"), lit(1L)).cast("double"), 6).as("value"))

    // materialize the handful of metric rows, then the scope releases
    // the narrow cache (r14 ADVICE: card() returned a lazy frame over
    // the persisted projection with no cleanup hook, so every call
    // pinned a session-lifetime cache entry)
    Ckpt.local(volumes.unionByName(quantiles).unionByName(novelty))
  }
}
