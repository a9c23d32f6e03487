package graft.stream

import graft.ingest.{IncrementalView, TableIO, VersionedTableIO}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Self-maintaining gold view over a VERSIONED table: the change feed
  * streams into [[IncrementalView]] as commits land.
  *
  * The insight that makes this Spark-first: the table's commit log IS
  * an append-only file stream — each commit publishes one immutable
  * manifest file — so Structured Streaming's file source provides
  * exactly-once manifest tracking (listing + checkpoint) with no
  * custom Source. Each micro-batch carries the manifests committed
  * since the last trigger; foreachBatch reduces them to a version
  * range [lo, hi], reads ONE keyed snapshot diff
  * ([[VersionedTableIO.readChanges]](lo-1, hi) — intermediate
  * versions need not be replayed individually because the net diff is
  * what linear aggregates consume), and folds it into the stored gold
  * with [[IncrementalView.applyChanges]].
  *
  * Per-refresh cost is O(changes) + O(|gold|), never O(table) — the
  * loop the reference approximates with checkpoint control tables
  * (coin/convert_to_delta.py:38-59) closed natively.
  *
  * Replay safety: foreachBatch is at-least-once, so the applied batch
  * id + checkpoint identity ride the gold write itself (the
  * [[IncrementalGold]] discipline) — a replayed batch is skipped, a
  * foreign checkpoint fails loudly.
  */
object ChangeFeedGold {

  private val BatchCol = "__applied_batch"
  private val RunCol = "__run_id"

  /** The maintained gold without bookkeeping columns. */
  def read(spark: SparkSession, goldIo: TableIO, goldTable: String): DataFrame =
    goldIo.read(spark, goldTable).drop(BatchCol, RunCol)

  /** Drain all commits of `table` not yet applied (AvailableNow), then
    * return. Call again after more commits with the SAME checkpoint to
    * refresh incrementally. `keys` must be unique per snapshot (the
    * readChanges precondition — upsert-maintained tables hold it). */
  def run(spark: SparkSession, io: VersionedTableIO, table: String,
      keys: Seq[String], groupExpr: Column, groupName: String,
      valueCols: Seq[String], checkpointDir: String,
      goldIo: TableIO, goldTable: String): Unit = {
    import spark.implicits._
    val runId = new java.io.File(checkpointDir).getAbsolutePath
    // *.json glob: never list a backend's in-flight temp file
    val manifests = spark.readStream
      .option("wholetext", "true")
      .text(s"${io.logPath(table)}/*.json")
    manifests.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // bounded collect: one version number per commit in this batch
        val versions = batch
          .select(get_json_object(col("value"), "$.version").cast("long"))
          .as[Long].collect()
        if (versions.nonEmpty) {
          val (lo, hi) = (versions.min, versions.max)
          val existing =
            if (goldIo.exists(spark, goldTable))
              Some(goldIo.read(spark, goldTable))
            else None
          val state = existing.map(
            _.select(max(col(BatchCol)), max(col(RunCol))).first())
          if (state.map(_.getString(1)).exists(_ != runId))
            throw new IllegalStateException(
              s"gold table '$goldTable' was built by checkpoint " +
                s"'${state.get.getString(1)}' but this stream runs from " +
                s"'$runId' — batch ids are not comparable across " +
                "checkpoint lineages; rebuild the table or restore the " +
                "original checkpoint")
          if (!state.map(_.getLong(0)).exists(_ >= batchId)) {
            val gold = existing match {
              case Some(g) =>
                IncrementalView.applyChanges(g.drop(BatchCol, RunCol),
                  io.readChanges(spark, table, lo - 1, hi, keys),
                  groupExpr, groupName, valueCols)
              case None =>
                // first batch of a fresh checkpoint: the backlog listing
                // includes version 1, so hi's snapshot is the whole state
                IncrementalView.aggregate(
                  io.readVersion(spark, table, hi),
                  groupExpr, groupName, valueCols)
            }
            goldIo.overwrite(gold
              .withColumn(BatchCol, lit(batchId))
              .withColumn(RunCol, lit(runId)), goldTable)
          }
        }
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start().awaitTermination()
  }
}
