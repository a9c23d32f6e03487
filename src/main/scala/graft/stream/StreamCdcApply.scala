package graft.stream

import graft.ingest.{DeltaLakeDml, DeltaLakeWrite}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** Streaming CDC APPLY: drain a keyed change stream into a Delta table
  * as ONE deletion-vector MERGE per micro-batch — the production
  * "apply the replication feed to the lakehouse" loop (the reference's
  * control-table ingest contract, coin/convert_to_delta.py:38-59,
  * upgraded from append-only to keyed upsert).
  *
  * Per batch: latest-wins within the batch by `seqCol` (a CDC batch
  * can carry several changes for one key; `seqCol` must be unique per
  * key within a batch — the usual CDC log-sequence-number contract —
  * or the winner is nondeterministic, [[graft.clean.Cleaning
  * .dedupLatestWins]]'s standing caveat), then
  * [[DeltaLakeDml.upsert]] — deletion vectors on the matched rows plus
  * the batch as new files, never a table rewrite. The first non-empty
  * batch creates the table with [[DeltaLakeWrite.append]].
  *
  * Exactly-once WITHOUT a txn watermark: merge is idempotent by
  * algebra — replaying a batch re-masks exactly the rows the first
  * application landed (same keys) and lands identical rows, so the
  * CONTENT converges no matter how the checkpoint replays or the
  * stream is re-chunked (the q147 argument; version HISTORY may
  * differ, content cannot). StreamingSpec asserts a full
  * fresh-checkpoint replay lands identical content.
  *
  * At 100 TB: per-batch cost is the batch plus one scan of the table
  * for the matched positions; deletion vectors accumulate until
  * [[graft.ingest.DeltaLakeMaintain.compact]] materializes them — the
  * same rhythm Delta deployments run.
  */
object StreamCdcApply {

  def run(spark: SparkSession, sourceDir: String, checkpointDir: String,
      tablePath: String, keys: Seq[String], seqCol: String,
      schema: StructType, maxFilesPerTrigger: Option[Int] = None): Unit = {
    val reader = maxFilesPerTrigger
      .foldLeft(spark.readStream)((r, m) => r.option("maxFilesPerTrigger", m))
      .schema(schema)
    reader.parquet(sourceDir).writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          // agg-based latest-wins (round-15, the q101/q64 shape): hash
          // agg + map-side combine instead of sort+window. seqCol is
          // unique per key within a batch (the class contract), so
          // max-struct picks the same row the desc window did.
          // Widened BY THE MERGE KEYS before the agg (guide §2.5/§2.4):
          // a single-file micro-batch otherwise runs the whole
          // dedup+stage chain on one task AND lands the table as one
          // file, serializing the NEXT batch's match scan too. The
          // agg reuses the explicit hash partitioning (same keys, AQE
          // never coalesces REPARTITION_BY_NUM), so this costs zero
          // extra exchanges; no-op at production batch file counts.
          val latest = graft.clean.Cleaning
            .dedupLastByKey(graft.core.Par.widen(batch, keys.map(col): _*),
              keys, Seq(seqCol))
            .drop(seqCol)
          if (!new java.io.File(tablePath, "_delta_log").isDirectory)
            DeltaLakeWrite.append(latest, tablePath)
          else DeltaLakeDml.upsert(spark, tablePath, latest, keys)
        }
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start().awaitTermination()
  }
}
