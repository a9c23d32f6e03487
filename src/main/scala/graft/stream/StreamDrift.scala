package graft.stream

import graft.ingest.VersionedTableIO
import graft.scale.TextStats
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** Streaming corpus-drift maintenance: every arriving micro-batch
  * folds its vocab-sized (term, cnt_a, cnt_b) delta into a versioned
  * counts table; the monitor computes the q195 drift report from the
  * maintained table at any time without re-scanning history (the
  * q198 fold algebra — exact-long sums, so the maintained table is
  * bit-identical to a from-scratch scan under ANY batch arrival
  * order).
  *
  * Exactly-once: `appendIdempotent` keyed by (writer, batchId) — a
  * crash-replayed foreachBatch cannot double-count a delta (the
  * StreamDedup/IncrementalGold contract). The A/B side is a per-ROW
  * predicate, so one micro-batch may contribute to both snapshots. */
object StreamDrift {

  /** One batch's (term, cnt_a, cnt_b) delta with a per-row side flag. */
  def countDelta(batch: DataFrame, textCol: String, isA: Column)
      : DataFrame =
    batch
      .select(isA.as("__a"),
        explode_outer(TextStats.tokens(col(textCol))).as("__t"))
      .filter(col("__t").isNotNull)
      .groupBy(col("__t")).agg(
        sum(when(col("__a"), 1L).otherwise(0L)).as("cnt_a"),
        sum(when(!col("__a"), 1L).otherwise(0L)).as("cnt_b"))

  def run(spark: SparkSession, sourceDir: String, checkpointDir: String,
      io: VersionedTableIO, countsTable: String, textCol: String,
      isA: Column, schema: StructType,
      maxFilesPerTrigger: Option[Int] = None): Unit = {
    val writerId = new java.io.File(checkpointDir).getAbsolutePath
    val reader = maxFilesPerTrigger
      .foldLeft(spark.readStream)((r, m) => r.option("maxFilesPerTrigger", m))
      .schema(schema)
    reader.parquet(sourceDir).writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          io.appendIdempotent(countDelta(batch, textCol, isA),
            countsTable, s"$writerId#drift", batchId)
        }
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start().awaitTermination()
  }

  /** The monitor side: the q195 report from the maintained table. */
  def report(spark: SparkSession, io: VersionedTableIO,
      countsTable: String, topK: Int): DataFrame =
    TextStats.driftFromCounts(
      TextStats.foldCountDeltas(io.read(spark, countsTable)), topK)
}
