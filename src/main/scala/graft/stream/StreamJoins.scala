package graft.stream

import graft.core.SessionFactory
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** Stream-stream joins (SURVEY §2.10 extension): event-time range join
  * between two watermarked streams. State on both sides is bounded by
  * the watermark + the join window — at 100 TB/day the state store
  * holds only (watermark delay + window) worth of events per side, not
  * the stream history. */
object StreamJoins {

  /** view→purchase attribution: purchases within `window` after a view
    * by the same user, as a REAL streaming query (two readStreams,
    * per-side watermarks, append sink). The batch oracle is the same
    * range join in SQL. */
  def runViewPurchase(spark: SparkSession, sourceDir: String,
      schema: StructType, queryName: String,
      watermarkDelay: String = "1 hour",
      statePartitions: Option[Int] = None): DataFrame = {
    // State-store instances = shuffle partitions at query start (×4 for
    // a join: two sides × key-to-numValues/keyWithIndex stores), each
    // with its own checkpoint dir + maintenance thread. For bounded
    // local runs a handful is plenty; on a cluster leave the default.
    // The width applies to a child session, never the caller's.
    val s = statePartitions.fold(spark)(n => SessionFactory.child(spark,
      Map("spark.sql.shuffle.partitions" -> n.toString)))
    def src = s.readStream.schema(schema).parquet(sourceDir)
    val views = src.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", watermarkDelay)
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", watermarkDelay)
    val joined = views.join(purchases,
      expr("""user_id = p_user AND
              purchase_ts >= view_ts AND
              purchase_ts <= view_ts + interval 30 minutes"""))
      .select(col("view_id"), col("purchase_id"), col("user_id"),
        col("view_ts"), col("purchase_ts"))
    joined.writeStream
      .outputMode("append")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start().awaitTermination()
    s.table(queryName)
  }
}
