package graft.stream

import graft.ingest.{Readers, SurrogateId, TableIO}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Incremental file ingest as Structured Streaming (SURVEY §2.10, E3):
  * `readStream` file source + `Trigger.AvailableNow` (drain the backlog,
  * then stop) + file-source checkpoint for exactly-once file tracking +
  * `foreachBatch` running the batch logic (count, surrogate ids, append)
  * — the Scala re-expression of uber/csv_to_delta.py:104-149.
  */
object StreamIngest {

  /** Stream-ingest a directory of header CSVs into `table`, assigning
    * surrogate ids that continue from the table's current max
    * (csv_to_delta.py:59-83). Blocks until the backlog is drained.
    *
    * `idOrderCols`: natural-key ordering for deterministic ids (the
    * reference's monotonically_increasing_id ordering is nondeterministic
    * AND single-partition — SURVEY §4 anti-pattern 1).
    */
  def ingestCsv(spark: SparkSession, sourceDir: String, checkpointDir: String,
      io: TableIO, table: String, idCol: String,
      idOrderCols: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType] = None): Unit = {
    // explicit schema is the production path — CSV inference lands
    // every column as STRING (so e.g. key ordering turns
    // lexicographic); inference stays available for exploration, as a
    // batch read over the same files with the same options, so the
    // session's streaming confs stay as the caller set them
    val opts = Readers.Tolerant ++
      Map("header" -> "true", "recursiveFileLookup" -> "true")
    val fixed = schema.getOrElse(
      spark.read.options(opts).csv(sourceDir).schema)
    val stream = spark.readStream.options(opts).schema(fixed).csv(sourceDir)

    stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val startAfter: Long =
            if (io.exists(spark, table))
              io.read(spark, table)
                .agg(coalesce(max(col(idCol)), lit(0L))).first().getLong(0)
            else 0L
          val withIds = SurrogateId.attachOrdered(
            batch, idCol, idOrderCols.map(col), startAfter)
          io.append(graft.core.Cols.reorderFront(withIds, Seq(idCol)), table)
        }
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start().awaitTermination()
  }

  /** Exactly-once streaming append into a VERSIONED table: foreachBatch
    * is at-least-once around crashes, so each batch commits through
    * [[graft.ingest.VersionedTableIO.appendIdempotent]] with the
    * checkpoint as writer identity and the batch id as sequence —
    * Delta's txnAppId/txnVersion pattern. A replayed batch is detected
    * from the last manifest (the watermark rides the SAME atomic commit
    * as its data) and skipped, so the table never double-counts even
    * when the sink write succeeded but the checkpoint commit did not. */
  def ingestVersioned(spark: SparkSession, sourceDir: String,
      checkpointDir: String, io: graft.ingest.VersionedTableIO,
      table: String,
      schema: org.apache.spark.sql.types.StructType): Unit = {
    val writerId = new java.io.File(checkpointDir).getAbsolutePath
    val stream = spark.readStream.options(Readers.Tolerant).schema(schema)
      .parquet(sourceDir)
    stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          io.appendIdempotent(batch, table, writerId, batchId)
        }
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start().awaitTermination()
  }

  /** Stream a REAL Delta table's APPENDS into a versioned table — the
    * reference's checkpointed incremental-ingest contract
    * (coin_to_delta_w_cp.py:55-82: "read what landed since my
    * watermark") composed as Structured Streaming over the Delta
    * table itself. The insight: `_delta_log`'s commit files ARE an
    * append-only stream, so the ordinary FILE SOURCE over the commit
    * .json files under `_delta_log` + its checkpoint is the version
    * watermark —
    * each micro-batch carries the commit lines of exactly the new
    * versions, exactly once across restarts.
    *
    * Per batch: parse the add actions (driver-side — commit files are
    * metadata, O(files added), the same bound as
    * [[graft.ingest.DeltaLakeRead.appendsSince]]), read those data
    * files through the snapshot machinery
    * ([[graft.ingest.DeltaLakeRead.readAppendedFiles]] — schema,
    * column mapping, partition columns all honored), and land them via
    * [[graft.ingest.VersionedTableIO.appendIdempotent]] with the batch
    * id as sequence — foreachBatch is at-least-once around crashes,
    * the txn-keyed commit makes the TABLE exactly-once.
    *
    * Honest scope (same contract as appendsSince): commits must be
    * pure appends. dataChange=false commits (OPTIMIZE) are skipped as
    * logical no-ops — unless they compacted away a file this stream
    * has not yet consumed, which fails loudly, as does any remove or
    * DV re-add with dataChange=true (use CDF for row-level diffs).
    * The log source is a table, not a landing zone, so it skips no
    * file ([[graft.ingest.Readers.Tolerant]]): a lost commit fails.
    * Blocks until the backlog is drained (AvailableNow). */
  def ingestDeltaAppends(spark: SparkSession, deltaTablePath: String,
      checkpointDir: String, io: graft.ingest.VersionedTableIO,
      table: String): Unit = {
    val writerId = new java.io.File(checkpointDir).getAbsolutePath
    val logDir =
      new java.io.File(deltaTablePath, "_delta_log").getAbsolutePath
    val commitRx = ".*/([0-9]{20})\\.json$".r
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val stream = spark.readStream
      .option("pathGlobFilter", "*.json")
      .text(logDir)
      .select(col("value"), col("_metadata.file_path").as("__src"))
    stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val lines = batch.collect().flatMap { r =>
          r.getString(1) match {
            // checkpoint manifests (UUID-named .json) are state, not
            // commits — the stream only consumes the commit sequence
            case commitRx(v) => Some((v.toLong, r.getString(0)))
            case _ => None
          }
        }.filter(_._2.nonEmpty)
        val adds = scala.collection.mutable.LinkedHashSet[String]()
        lines.sortBy(_._1).foreach { case (v, line) =>
          val n = mapper.readTree(line)
          def act(k: String) = Option(n.get(k)).filterNot(_.isNull)
          import graft.ingest.DeltaLakeRead.dataChange
          act("remove").foreach { r =>
            if (dataChange(r)) throw new IllegalArgumentException(
              s"commit $v of $deltaTablePath is not a pure append " +
              "(remove with dataChange=true) — the appends stream " +
              "cannot represent deletes; resync or use CDF")
          }
          act("add").foreach { a =>
            if (dataChange(a)) {
              require(Option(a.get("deletionVector")).forall(_.isNull),
                s"commit $v re-adds a file with a deletion vector — " +
                "not a pure append; resync or use CDF")
              adds += a.get("path").asText()
            }
            ()
          }
        }
        if (adds.nonEmpty) {
          val rows = graft.ingest.DeltaLakeRead.readAppendedFiles(
            spark, deltaTablePath, adds.toSet)
          io.appendIdempotent(rows, table, writerId, batchId)
        }
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start().awaitTermination()
  }

  /** Streaming CDC apply — the MERGE-with-deletes sink: each
    * micro-batch of I/U/D change rows is reconciled into the target
    * table via [[graft.ingest.Cdc]] (latest change per key wins,
    * deletes drop keys). Exactly-once per file via the source
    * checkpoint.
    *
    * PRECONDITION: `seqCol` must be globally monotonic per key across
    * files (an LSN/commit sequence — what real CDC feeds provide).
    * Per-key order is then batching-independent. Equal-seq changes to
    * one key from DIFFERENT files have no defined relative order: how
    * AvailableNow chunks files into batches would decide, so don't
    * rely on it (within one file/batch, Cdc's deterministic tiebreak
    * applies). */
  def ingestCdc(spark: SparkSession, sourceDir: String, checkpointDir: String,
      io: TableIO, table: String, keys: Seq[String], opCol: String,
      seqCol: String,
      schema: org.apache.spark.sql.types.StructType): Unit = {
    val stream = spark.readStream.options(Readers.Tolerant).schema(schema)
      .parquet(sourceDir)
    stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val base =
            if (io.exists(spark, table)) io.read(spark, table)
            else batch.filter(lit(false)).drop(opCol, seqCol)
          io.overwrite(
            graft.ingest.Cdc.apply(base, batch, keys, opCol, seqCol), table)
        }
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start().awaitTermination()
  }
}
