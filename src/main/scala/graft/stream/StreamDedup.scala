package graft.stream

import graft.core.Ckpt
import graft.ingest.VersionedTableIO
import graft.scale.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** The STREAMING form of the incremental-dedup generation loop
  * (Dedup.dedupAgainstIndex + the q134 index-maintenance semantics):
  * each micro-batch of new documents is deduped against the signature
  * index as of all PREVIOUS batches, its verdicts are appended to a
  * marks table, and the kept documents' signatures are appended to the
  * index — so later batches catch duplicates of earlier batches
  * without any corpus re-scan.
  *
  * Exactly-once: both appends are [[VersionedTableIO.appendIdempotent]]
  * with per-table writer ids keyed to this checkpoint + the micro-batch
  * id, so a crash between the two writes (or a full batch replay)
  * re-lands neither. The marks frame is eagerly materialized BEFORE
  * the index append; on a replay where both writes already committed,
  * the recomputed (now-wrong, self-matching) frame is discarded by the
  * txn watermark without being written.
  *
  * Scale posture is the operator's ([[Dedup.dedupAgainstIndex]]
  * scaladoc): band-key joins, ~0.5 KB/doc index growth, optional
  * hot-bucket guard; per-batch work is O(batch + matched buckets),
  * independent of corpus size.
  *
  * Reference analog: the control-table incremental contract
  * (coin/convert_to_delta.py:38-59) — here the "control" state is the
  * stream checkpoint + the txn watermark, and the maintained artifact
  * is the dedup index itself.
  */
object StreamDedup {

  def run(spark: SparkSession, sourceDir: String, checkpointDir: String,
      io: VersionedTableIO, indexTable: String, marksTable: String,
      idCol: String, textCol: String, minAgree: Double,
      p: Dedup.MinHashParams, schema: StructType,
      maxFilesPerTrigger: Option[Int] = None,
      maxBucket: Option[Int] = None): Unit = {
    val writerId = new java.io.File(checkpointDir).getAbsolutePath
    val reader = maxFilesPerTrigger
      .foldLeft(spark.readStream)((r, m) => r.option("maxFilesPerTrigger", m))
      .schema(schema)
    reader.parquet(sourceDir).writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // one scope per micro-batch: its pins go when the batch ends
        if (!batch.isEmpty) Ckpt.scoped { pins =>
          // sigs computed ONCE per batch (the expensive stage): shared
          // by the verdicts and the index append
          val bSigs = pins.checkpoint(Dedup.signatures(batch, idCol, textCol, p))
          // eager: pin the verdicts to the index BEFORE this batch's
          // sigs land (io.read resolves the manifest at call time, but
          // materializing removes any recompute-after-append hazard)
          val marks = pins.checkpoint(Dedup.dedupAgainstIndexSigs(
            batch.select(col(idCol)), bSigs, io.read(spark, indexTable),
            idCol, minAgree, p, maxBucket))
          io.appendIdempotent(marks, marksTable, s"$writerId#marks", batchId)
          io.appendIdempotent(
            bSigs.join(marks.filter(col("kept") === 1).select(idCol),
              Seq(idCol)),
            indexTable, s"$writerId#index", batchId)
        }
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start().awaitTermination()
  }
}
