package graft.stream

import graft.ingest.VersionedTableIO
import graft.scale.Clusters
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** STREAMING incremental cluster maintenance — the label-table
  * counterpart of [[StreamDedup]]: each micro-batch of near-duplicate
  * PAIRS folds into a persisted (node, cluster_id) labels table via
  * [[Clusters.updateClusters]], so cluster assignments stay current as
  * dedup generations stream in, and no batch ever re-reads earlier
  * batches' pairs (per-batch cost: min-label propagation over the
  * BATCH's contracted edges + one relabel pass over the label table).
  *
  * Exactly-once comes from ALGEBRA here, not a txn watermark: the fold
  * is idempotent — replaying a batch maps every pair endpoint to its
  * already-merged label, the contracted edge set collapses to
  * self-loops, and the update is the identity on labels (asserted in
  * StreamingSpec). A crash between the overwrite commit and the stream
  * checkpoint therefore re-lands the SAME content as a new version —
  * converged state, only the commit history shows the replay. (The
  * marks/index appends in [[StreamDedup]] are NOT idempotent by
  * algebra, which is why they carry txn watermarks instead.)
  *
  * Scale: the label table is a narrow 16-byte-per-node frame — the
  * per-batch overwrite is O(|labels|) I/O of metadata-scale rows,
  * bounded and compactable; at extreme node counts the same fold can
  * append label DELTAS (updateClusters' merged map is exactly that
  * delta) and fold them at read time, the q139 decomposition applied
  * to labels. The pair batches themselves never accumulate in state:
  * the stream checkpoint only tracks file progress.
  */
object StreamClusters {

  def run(spark: SparkSession, sourceDir: String, checkpointDir: String,
      io: VersionedTableIO, labelsTable: String, schema: StructType,
      aCol: String = "id_a", bCol: String = "id_b",
      maxFilesPerTrigger: Option[Int] = None): Unit = {
    val reader = maxFilesPerTrigger
      .foldLeft(spark.readStream)((r, m) => r.option("maxFilesPerTrigger", m))
      .schema(schema)
    reader.parquet(sourceDir).writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // count doubles as the emptiness check AND the edge-count hint
        // (the contracted graph has at most one edge per batch pair),
        // so the fold's size-guarded CC pays no sizing probe at all
        val nPairs = batch.count()
        if (nPairs > 0) {
          val labels =
            if (io.exists(spark, labelsTable)) io.read(spark, labelsTable)
            else spark.range(0)
              .select(col("id").as("node"), col("id").as("cluster_id"))
          // the fold reads the PRE-overwrite snapshot's immutable dirs,
          // so laziness across the overwrite below is safe; overwrite
          // executes the plan exactly once when writing the new dir
          io.overwrite(
            Clusters.updateClusters(labels, batch, aCol, bCol,
              edgeCountHint = Some(nPairs)), labelsTable)
        }
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start().awaitTermination()
  }
}
