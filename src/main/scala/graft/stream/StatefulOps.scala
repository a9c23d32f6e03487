package graft.stream

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Custom streaming state (SURVEY §2.10 extension — the reference
  * reconciles duplicates in batch via MERGE/W2; at true streaming scale
  * the same latest-wins/seen-before contract lives in
  * `flatMapGroupsWithState`, partitioned by key with per-key state —
  * this is the Spark-native replacement for the reference's hand-rolled
  * control tables when latency matters).
  */
object StatefulOps {

  final case class Keyed(key: Long, ts: java.sql.Timestamp, value: Double)
  final case class SeenState(count: Long)

  /** Streaming first-seen dedup: emits a key's row only the first time
    * the key appears across all micro-batches (state = seen marker,
    * ProcessingTimeTimeout unused on AvailableNow drains). */
  def firstSeen(ds: Dataset[Keyed]): Dataset[Keyed] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.key)
      .flatMapGroupsWithState[SeenState, Keyed](
        OutputMode.Append, GroupStateTimeout.NoTimeout()) {
        case (_, rows, state: GroupState[SeenState]) =>
          val first = if (state.exists) Iterator.empty
            else rows.toSeq.sortBy(_.ts.getTime).headOption.iterator
          val n = state.getOption.map(_.count).getOrElse(0L)
          state.update(SeenState(n + 1))
          first
      }
  }

  /** Run [[firstSeen]] as a real streaming query over a parquet dir and
    * return the memory-sink result. */
  def runFirstSeen(spark: SparkSession, sourceDir: String,
      queryName: String): DataFrame = {
    import spark.implicits._
    val src = spark.readStream
      .schema(org.apache.spark.sql.Encoders.product[Keyed].schema)
      .parquet(sourceDir)
      .as[Keyed]
    firstSeen(src).writeStream
      .outputMode("append")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start().awaitTermination()
    spark.table(queryName)
  }

  /** Built-in streaming dedup: dropDuplicatesWithinWatermark — state
    * per distinct row, evicted once the watermark passes (the unbounded
    * `dropDuplicates` state problem, solved). The dedup key here is the
    * FULL projected row, so which duplicate is kept is immaterial and
    * the result is deterministic. */
  def runDedupWithinWatermark(spark: SparkSession, sourceDir: String,
      schema: org.apache.spark.sql.types.StructType, queryName: String)(
      project: DataFrame => DataFrame): DataFrame = {
    // `project` must end with withWatermark on an event-time column it
    // keeps — the dedup state is evicted once the watermark passes it.
    val src = project(spark.readStream.schema(schema).parquet(sourceDir))
      .dropDuplicatesWithinWatermark()
    src.writeStream
      .outputMode("append")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start().awaitTermination()
    spark.table(queryName)
  }
}
