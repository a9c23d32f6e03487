package graft.stream

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Event-time windowed aggregations (SURVEY §2.10 harness extension):
  * watermarked tumbling / sliding / session windows over the `events`
  * table, runnable both as Structured Streaming (memory sink,
  * AvailableNow) and as the equivalent batch plan (same `window` /
  * `session_window` expressions — Spark guarantees batch/stream
  * agreement, which the tests exploit).
  */
object WindowedAggs {

  def tumbling(events: DataFrame, width: String): DataFrame =
    events
      .groupBy(window(col("ts"), width), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n"), col("total_value"))

  def sliding(events: DataFrame, width: String, slide: String): DataFrame =
    events
      .groupBy(window(col("ts"), width, slide), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n"))

  def session(events: DataFrame, gap: String): DataFrame =
    events
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .select(
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n"), col("total_value"))

  /** Run `agg` over `sourceDir` (parquet) as a real streaming query with
    * a watermark, AvailableNow trigger and a memory sink; returns the
    * final result table. Complete output mode: every window is emitted,
    * so the result equals the batch plan on a bounded input. */
  def runStreaming(spark: SparkSession, sourceDir: String,
      schema: org.apache.spark.sql.types.StructType,
      watermarkCol: String, watermarkDelay: String,
      queryName: String)(agg: DataFrame => DataFrame): DataFrame = {
    val src = spark.readStream.schema(schema).parquet(sourceDir)
      .withWatermark(watermarkCol, watermarkDelay)
    agg(src).writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start().awaitTermination()
    spark.table(queryName)
  }
}
