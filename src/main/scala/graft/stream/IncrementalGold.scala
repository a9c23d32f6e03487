package graft.stream

import graft.ingest.TableIO
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** Incremental gold-aggregate maintenance: the streaming form of a
  * materialized view over decomposable aggregates (counts and sums).
  *
  * Each micro-batch is reduced to a PARTIAL aggregate per key by the
  * caller-supplied `partial`, then merged into the stored table by
  * union + re-aggregation — the same partial/final split Spark's own
  * HashAggregate performs across a shuffle, lifted across micro-batches.
  * Because count and sum are associative+commutative, the maintained
  * table equals the batch aggregate over all data seen so far,
  * regardless of how the backlog was chunked into batches.
  *
  * At 100 TB this is the pattern that replaces "re-aggregate the whole
  * fact table nightly": per-batch work is O(batch), the merge is
  * O(|gold|) — keyed by low-cardinality dims, so |gold| stays tiny.
  * (Re-expresses the reference's gold KPI jobs — e.g.
  * spark/jobs/uber/gold.py — as a streaming-maintained table.)
  */
object IncrementalGold {

  /** Drain `sourceDir` (AvailableNow + checkpoint = each file exactly
    * once) maintaining `table`. `partial` must map a batch to one row
    * per key: `keys ++ decomposable partial-agg columns` (all numeric,
    * sum-mergeable). Blocks until the backlog is drained.
    *
    * Replay-safe: foreachBatch side effects are at-least-once (a crash
    * between the table write and the checkpoint commit replays the
    * batch), so the applied batch id rides the gold write itself as a
    * constant column — guard and merge are one atomic write, and a
    * replayed batch is skipped instead of double-counted.
    */
  private val BatchCol = "__applied_batch"
  private val RunCol = "__run_id"

  /** Read the maintained gold table without the internal bookkeeping
    * columns. */
  def read(spark: SparkSession, io: TableIO, table: String): DataFrame =
    io.read(spark, table).drop(BatchCol, RunCol)

  def run(spark: SparkSession, sourceDir: String, schema: StructType,
      checkpointDir: String, io: TableIO, table: String,
      keys: Seq[String], maxFilesPerTrigger: Option[Int] = None)(
      partial: DataFrame => DataFrame): Unit = {
    // maxFilesPerTrigger bounds per-batch work (AvailableNow chunks the
    // backlog instead of draining it in one giant batch) — the knob
    // that keeps a month-long backfill from needing a month of memory
    val reader = spark.readStream.schema(schema)
    val stream = maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n.toLong))
      .parquet(sourceDir)
    // Run identity = the checkpoint location. Batch ids are only
    // monotonic WITHIN one checkpoint lineage; if the checkpoint dir is
    // deleted/changed while the gold table is kept, ids restart at 0 and
    // the naive `batchId <= applied` guard would silently drop every new
    // batch forever. Detect the mismatch and fail loudly instead.
    val runId = new java.io.File(checkpointDir).getAbsolutePath
    stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val existing =
          if (io.exists(spark, table)) Some(io.read(spark, table)) else None
        // legacy tables (written before run-identity tracking) have no
        // __run_id column: adopt them under the current run instead of
        // failing with an unresolved-column error
        val state = existing.map { g =>
          if (g.columns.contains(RunCol))
            g.select(max(col(BatchCol)), max(col(RunCol))).first()
          else g.select(max(col(BatchCol)), max(lit(runId))).first()
        }
        val applied = state.map(_.getLong(0)).getOrElse(-1L)
        val storedRun = state.map(_.getString(1))
        if (storedRun.exists(_ != runId))
          throw new IllegalStateException(
            s"gold table '$table' was built by checkpoint '${storedRun.get}' " +
              s"but this stream runs from '$runId' — batch ids are not " +
              "comparable across checkpoint lineages; rebuild the table or " +
              "restore the original checkpoint")
        if (batchId > applied && !batch.isEmpty) {
          val p = partial(batch)
          val merged = existing match {
            case Some(g) => g.drop(BatchCol, RunCol).unionByName(p)
            case None => p
          }
          val aggCols = p.columns.filterNot(keys.contains)
            .map(c => sum(col(c)).as(c))
          io.overwrite(
            merged.groupBy(keys.map(col): _*)
              .agg(aggCols.head, aggCols.tail: _*)
              .withColumn(BatchCol, lit(batchId))
              .withColumn(RunCol, lit(runId)),
            table)
        }
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start().awaitTermination()
  }
}
