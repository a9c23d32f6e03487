package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (point-in-time) join — an operator Spark lacks natively
  * (builder-prompt custom-operator case (a): composed from built-ins,
  * which the semantics fully allow — no custom SparkPlan needed).
  *
  * For every left row, attach the most recent right row with
  * `right.ts <= left.ts` within the same key — the time-series
  * enrichment primitive (trade↔quote, purchase↔last-click).
  *
  * Implementation: tag + union + partitioned window `last(ignoreNulls)`
  * — ONE shuffle on the key, no range-condition join explosion
  * (a naive `l.ts >= r.ts` theta join is O(n·m) per key; this is
  * O((n+m) log(n+m)) via the window sort and scales to 100 TB keyed
  * streams). Right rows sort before left rows at equal timestamps, so
  * `<=` semantics hold.
  */
object AsOf {

  def join(left: DataFrame, right: DataFrame, keyCol: String, tsCol: String,
      rightPrefix: String = "asof_"): DataFrame = {
    val lStruct = struct(left.columns.map(col).toIndexedSeq: _*)
    val rStruct = struct(right.columns.map(col).toIndexedSeq: _*)
    val lType = left.select(lStruct).schema.head.dataType
    val rType = right.select(rStruct).schema.head.dataType

    val lTagged = left.select(
      col(keyCol).as("__k"), col(tsCol).as("__ts"), lit(1).as("__tag"),
      lStruct.as("__l"), lit(null).cast(rType).as("__r"))
    val rTagged = right.select(
      col(keyCol).as("__k"), col(tsCol).as("__ts"), lit(0).as("__tag"),
      lit(null).cast(lType).as("__l"), rStruct.as("__r"))

    val w = Window.partitionBy(col("__k"))
      .orderBy(col("__ts"), col("__tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    val matched = lTagged.unionByName(rTagged)
      .withColumn("__match", last(col("__r"), ignoreNulls = true).over(w))
      .filter(col("__tag") === 1)

    val leftCols = left.columns.map(c => col(s"__l.$c").as(c))
    val rightCols = right.columns.filterNot(_ == keyCol)
      .map(c => col(s"__match.$c").as(s"$rightPrefix$c"))
    matched.select((leftCols ++ rightCols).toIndexedSeq: _*)
  }

  /** The same semantics as [[join]] through the native operator
    * (graft.plans.AsOfJoin — custom LogicalPlan + Strategy + SparkPlan):
    * one shuffle per side, single-pass sorted merge, no union row
    * inflation. Planned by the AsOfJoin strategy that
    * [[graft.core.GraftExtensions]] installs on every factory session. */
  def joinNative(left: DataFrame, right: DataFrame, keyCol: String,
      tsCol: String, rightPrefix: String = "asof_"): DataFrame = {
    import graft.plans.AsOfJoin
    import org.apache.spark.sql.graft.PlanBridge
    val spark = left.sparkSession
    val rPref = right.columns.foldLeft(right)(
      (df, c) => df.withColumnRenamed(c, s"$rightPrefix$c"))
    val lPlan = left.queryExecution.analyzed
    val rPlan = rPref.queryExecution.analyzed
    def attr(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
        name: String) =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"column $name not found"))
    val (lk, rk) = (attr(lPlan, keyCol), attr(rPlan, s"$rightPrefix$keyCol"))
    val (lt, rt) = (attr(lPlan, tsCol), attr(rPlan, s"$rightPrefix$tsCol"))
    // the hand-built plan bypasses analyzer type coercion: mismatched
    // types would compare raw row bytes with the LEFT side's ordering
    // and silently mis-join
    require(lk.dataType == rk.dataType,
      s"as-of key types differ: ${lk.dataType} vs ${rk.dataType}")
    require(lt.dataType == rt.dataType,
      s"as-of time types differ: ${lt.dataType} vs ${rt.dataType}")
    PlanBridge.ofRows(spark,
      AsOfJoin(lPlan, rPlan, Seq(lk), Seq(rk), lt, rt))
      .drop(s"$rightPrefix$keyCol")
  }
}
