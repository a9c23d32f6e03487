package graft.scale

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact distributed quantiles — the percentile half of the table
  * profile (chunk-size p95s, latency SLO thresholds, outlier fences
  * for DQ rules). `exactQuantiles` returns, per requested fraction p,
  * the DISCRETE quantile: the value at 1-based sorted index
  * ceil(p·N) — DuckDB's `quantile_disc` convention, chosen over the
  * interpolated (continuous) form deliberately: a selected value
  * involves ZERO floating-point arithmetic, so the oracle compare is
  * bit-exact by construction, where `lo + (hi−lo)·f` vs
  * `lo·(1−f) + hi·f` interpolation orders differ by ulps between
  * engines.
  *
  * Scale shape: the naive form is a GLOBAL sort (or a single-partition
  * rank window). This computes the exact same index lookup with the
  * q171/q183 bin decomposition on the VALUE axis: one tiny stats
  * reduce (min/max/N + the sketch, broadcast back), per-bin counts
  * cumulated over a ≤bins-row frame, then ONE corpus window
  * partitioned by value-range bin whose in-bin row_number + bin offset
  * is the exact global rank; only rows AT the target indexes survive
  * the broadcast join. Ties: rank assignment among equal values is
  * arbitrary, but the VALUE at a given index is unique, so the output
  * is deterministic. All moved rows are 8-byte doubles.
  *
  * The same pass folds an `approx_percentile` sketch (the deployment
  * mode — one scan, no rank machinery) and VERDICTS it against its
  * own accuracy contract, the q54 exact+tolerance pattern: the GK
  * sketch guarantees a returned value whose rank is within N/accuracy
  * of the target, so `sketch_ok` checks the sketch value's true rank
  * interval [#(x<v)+1, #(x≤v)] comes within N/accuracy of ceil(p·N).
  * The oracle hash-checks p/idx/value and requires the verdict to be
  * literal TRUE — the sketch itself is not oracle-reproducible.
  *
  * Output: `p, idx, value, sketch_ok`, one row per requested p. */
object Quantiles {

  def exactQuantiles(df: DataFrame, valueCol: String, ps: Seq[Double],
      bins: Int = 256, accuracy: Int = 10000): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p > 0.0 && p <= 1.0),
      "fractions must be in (0, 1]")
    require(bins >= 1, "need at least one value bin")
    val W = org.apache.spark.sql.expressions.Window
    // shared by every branch below: a lazy local checkpoint, not a
    // persist — the result is returned lazily, so nothing could release
    // a cache entry, while the checkpoint's blocks go with the frame
    val base = graft.core.Ckpt.local(
      df.select(col(valueCol).cast("double").as("__v"))
        .filter(col("__v").isNotNull), eager = false)
    val pArr = array(ps.map(lit(_)): _*)
    val stats = base.agg(min(col("__v")).as("__lo"),
      max(col("__v")).as("__hi"), count(lit(1)).as("__N"),
      percentile_approx(col("__v"), pArr, lit(accuracy)).as("__ap"))
    // one row per p: 1-based target index (ceil on the same exact
    // long→double product the oracle computes — both engines round
    // the identical double, so the index always agrees) + its sketch
    val targets = stats
      .select(col("__N"), posexplode(pArr).as(Seq("__i", "p")), col("__ap"))
      .select(col("p"), ceil(col("p") * col("__N")).as("idx"),
        element_at(col("__ap"), col("__i") + 1).as("__apv"), col("__N"))
    // sketch verdict: the approx value's true rank interval must come
    // within N/accuracy of the target index (one conditional agg pass)
    val verdicts = base.join(broadcast(targets))
      .groupBy(col("p"), col("idx"), col("__N"))
      .agg(sum(when(col("__v") < col("__apv"), 1L).otherwise(0L)).as("__lt"),
        sum(when(col("__v") <= col("__apv"), 1L).otherwise(0L)).as("__le"))
      .select(col("p"), col("idx"),
        (greatest(col("__lt") + 1 - col("idx"), col("idx") - col("__le"),
          lit(0L)).cast("double") <=
          col("__N").cast("double") / accuracy).as("sketch_ok"))
    // bin-decomposed exact global rank on the value axis
    val binned = base
      .crossJoin(broadcast(stats.select(col("__lo"), col("__hi"))))
      .withColumn("__bin",
        when(col("__hi") <= col("__lo"), lit(0))
          .otherwise(least(floor((col("__v") - col("__lo")) /
              (col("__hi") - col("__lo")) * bins).cast("int"),
            lit(bins - 1))))
    val wBins = W.partitionBy(lit(1)).orderBy(col("__bin").asc)
      .rowsBetween(Long.MinValue, -1)
    val binOffsets = binned.groupBy(col("__bin"))
      .agg(count(lit(1)).as("__bn"))
      .withColumn("__off", coalesce(sum(col("__bn")).over(wBins), lit(0L)))
    // quantile-specific pruning the generic rank decomposition can't
    // do: a bin's rows occupy global ranks (__off, __off + __bn], so
    // only the ≤|ps| bins CONTAINING a target index need ranking at
    // all — the window sorts ~|ps|·N/bins rows, not the corpus
    val wantedBins = binOffsets
      .join(targets.select(col("idx")),
        col("idx") > col("__off") && col("idx") <= col("__off") + col("__bn"))
      .select(col("__bin"), col("__off")).distinct()
    val wIn = W.partitionBy(col("__bin")).orderBy(col("__v").asc)
    val atIdx = binned.join(broadcast(wantedBins), Seq("__bin"))
      .withColumn("__rk", col("__off") + row_number().over(wIn))
      .join(broadcast(targets.select(col("p"), col("idx"))),
        col("__rk") === col("idx"))
      .select(col("p"), col("idx"), col("__v").as("value"))
    atIdx.join(broadcast(verdicts), Seq("p", "idx"))
      .select(col("p"), col("idx"), col("value"), col("sketch_ok"))
  }

  /** [[exactQuantiles]] with an independent answer PER GROUP — the
    * per-language/per-source form ("p95 token count of EACH language"
    * for chunk sizing and length-filter thresholds). Same discrete
    * convention (value at ceil(p·N_g) within the group, zero FP
    * interpolation). No sketch column: the per-group sketch verdict
    * would need a per-(group, p) conditional pass the caller can run
    * as [[exactQuantiles]] on one group when needed.
    *
    * Scale shape: the q184 treatment of the q186 decomposition —
    * per-group stats (≤groups rows, broadcast), per-(group, bin)
    * counts cumulated by a window PARTITIONED BY GROUP, target
    * indexes computed per group, and the rank window partitioned by
    * (group, bin) with the same target-bin pruning (only bins whose
    * group-local rank interval contains one of that group's targets
    * are ranked). Groups must be catalog-sized; the value stream
    * moves as (group, 8-byte double) rows only.
    *
    * Output: `groupCol, p, idx, value`. */
  def exactQuantilesBy(df: DataFrame, groupCol: String, valueCol: String,
      ps: Seq[Double], bins: Int = 256): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p > 0.0 && p <= 1.0),
      "fractions must be in (0, 1]")
    require(bins >= 1, "need at least one value bin")
    val W = org.apache.spark.sql.expressions.Window
    val base = graft.core.Ckpt.local(
      df.select(col(groupCol), col(valueCol).cast("double").as("__v"))
        .filter(col("__v").isNotNull), eager = false) // see exactQuantiles
    val stats = base.groupBy(col(groupCol)).agg(min(col("__v")).as("__lo"),
      max(col("__v")).as("__hi"), count(lit(1)).as("__N"))
    val targets = stats
      .select(col(groupCol), col("__N"),
        explode(array(ps.map(lit(_)): _*)).as("p"))
      .select(col(groupCol), col("p"),
        ceil(col("p") * col("__N")).as("idx"))
    val binned = base.join(broadcast(stats), Seq(groupCol))
      .withColumn("__bin",
        when(col("__hi") <= col("__lo"), lit(0))
          .otherwise(least(floor((col("__v") - col("__lo")) /
              (col("__hi") - col("__lo")) * bins).cast("int"),
            lit(bins - 1))))
    val wBins = W.partitionBy(col(groupCol)).orderBy(col("__bin").asc)
      .rowsBetween(Long.MinValue, -1)
    val binOffsets = binned.groupBy(col(groupCol), col("__bin"))
      .agg(count(lit(1)).as("__bn"))
      .withColumn("__off", coalesce(sum(col("__bn")).over(wBins), lit(0L)))
    val wantedBins = binOffsets
      .join(targets.select(col(groupCol), col("idx")), Seq(groupCol))
      .filter(col("idx") > col("__off") &&
        col("idx") <= col("__off") + col("__bn"))
      .select(col(groupCol), col("__bin"), col("__off")).distinct()
    val wIn = W.partitionBy(col(groupCol), col("__bin"))
      .orderBy(col("__v").asc)
    binned.join(broadcast(wantedBins), Seq(groupCol, "__bin"))
      .withColumn("__rk", col("__off") + row_number().over(wIn))
      .join(broadcast(targets), Seq(groupCol))
      .filter(col("__rk") === col("idx"))
      .select(col(groupCol), col("p"), col("idx"), col("__v").as("value"))
  }
}
