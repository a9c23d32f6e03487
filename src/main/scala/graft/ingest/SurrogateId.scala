package graft.ingest

import graft.core.Ckpt
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Surrogate-id assignment (W1/W3).
  *
  * The reference assigns `cd_*_id` as
  * `row_number() over (orderBy(monotonically_increasing_id())) + max(existing)`
  * (uber/csv_to_delta.py:61-78) — a single-partition anti-pattern at
  * scale AND nondeterministic. Two replacements:
  *
  *  - [[attachOrdered]]: deterministic `row_number` over a *natural key*
  *    ordering (the reference's own better variant,
  *    alphavantage/transform_into_delta.py:123,138). Still a global
  *    sort+single-partition window — only for dimension-sized frames.
  *  - [[attachDistributed]]: order-free, fully parallel id assignment via
  *    per-partition offsets (zipWithIndex shape) — the 100 TB path; ids
  *    are dense and unique but partition-order-dependent, so use where
  *    id *values* need not be reproducible, only unique.
  */
object SurrogateId {

  def attachOrdered(df: DataFrame, idCol: String, naturalKey: Seq[Column],
      startAfter: Long = 0L): DataFrame = {
    val w = Window.orderBy(naturalKey.toIndexedSeq: _*)
    df.withColumn(idCol, row_number().over(w).cast("long") + lit(startAfter))
  }

  /** The returned frame reads an RDD cached in `pins`: consume it
    * before that scope ends. */
  def attachDistributed(df: DataFrame, idCol: String, pins: Ckpt.Pins,
      startAfter: Long = 0L): DataFrame = {
    val spark = df.sparkSession
    val schema = df.schema
    // cached before the two passes (count + assign): without it the
    // upstream plan runs twice, and a nondeterministic upstream could
    // yield different partition sizes between passes → broken offsets
    val rdd = pins.cache(df.rdd)
    val counts = rdd.mapPartitionsWithIndex { case (i, it) =>
      Iterator((i, it.size.toLong))
    }.collect().sortBy(_._1)
    val offsets = counts.map(_._2).scanLeft(startAfter)(_ + _)
    val withId = rdd.mapPartitionsWithIndex { case (i, it) =>
      var n = offsets(i)
      it.map { r => n += 1; org.apache.spark.sql.Row.fromSeq(r.toSeq :+ n) }
    }
    spark.createDataFrame(withId,
      schema.add(idCol, org.apache.spark.sql.types.LongType, nullable = false))
  }
}
