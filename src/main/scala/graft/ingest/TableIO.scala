package graft.ingest

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SchemaBridge
import org.apache.spark.sql.types.{DataType, StructType}

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}

/** Storage abstraction for the medallion tables.
  *
  * The reference writes Delta everywhere (S7-S9,S11-S13); the test
  * harness has plain Spark+parquet. `TableIO` keeps the engine code
  * format-agnostic: a parquet implementation for tests and any
  * Delta/Iceberg implementation can sit behind the same trait
  * (SURVEY §7 risk 3).
  */
trait TableIO {
  def read(spark: SparkSession, table: String): DataFrame
  def append(df: DataFrame, table: String, partitionBy: Seq[String] = Nil): Unit
  def overwrite(df: DataFrame, table: String, partitionBy: Seq[String] = Nil): Unit
  def exists(spark: SparkSession, table: String): Boolean

  /** S9: keyed upsert (Delta MERGE whenMatched.updateAll /
    * whenNotMatched.insertAll). Generic fallback: source wins on key
    * match, target rows survive only if no source row shares the key —
    * expressed as source ∪ (target left-anti source). The anti-join
    * shuffles both sides on the key (or broadcasts a small source);
    * at 100 TB with Delta present, prefer the transactional MERGE which
    * rewrites only matched files. */
  def merge(target: DataFrame, source: DataFrame, keys: Seq[String]): DataFrame = {
    val survivors = target.join(source, keys, "left_anti")
    source.unionByName(survivors)
  }

  def upsert(spark: SparkSession, source: DataFrame, table: String,
      keys: Seq[String], partitionBy: Seq[String] = Nil): Unit = {
    if (!exists(spark, table)) overwrite(source, table, partitionBy)
    else {
      val merged = merge(read(spark, table), source, keys)
      overwrite(merged, table, partitionBy)
    }
  }
}

private[ingest] object FsOps {
  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty)
      .foreach(deleteRecursively)
    f.delete(); ()
  }
}

/** Parquet-backed TableIO rooted at a directory; table name → subdir.
  *
  * Each table records the schema of its data files in
  * `_graft_schema.json` inside its directory — the stand-in for the
  * schema Delta keeps in its log. Spark's file index skips `_`-prefixed
  * names, as it skips `_SUCCESS`. The recorded schema holds the data
  * columns as the files hold them (nullable, no partition columns);
  * partition columns are still discovered from directory names.
  *
  * A table is written only through `ParquetTableIO`, by one writer at a
  * time: `overwrite`'s directory swap and `append`'s schema replace
  * both assume it. Readers may run concurrently with the writer.
  */
final class ParquetTableIO(root: String) extends TableIO {
  import ParquetTableIO._

  private def path(table: String) = s"$root/$table"

  /** Plans from the recorded schema, so the read lists the table's
    * files but submits no Spark job. The schema is recorded on write
    * and evolves at append time, as Delta's `mergeSchema` append does
    * (S7): files written before a column existed surface it as null.
    * A directory without a recorded schema (an older build, a plain
    * `df.write`) reads by parquet's read-side `mergeSchema` inference,
    * one job over every file footer. */
  def read(spark: SparkSession, table: String): DataFrame = {
    val dir = path(table)
    recorded(new File(dir)) match {
      case Some(schema) => spark.read.schema(schema).parquet(dir)
      case None => spark.read.option("mergeSchema", "true").parquet(dir)
    }
  }

  /** An incoming column whose type cannot merge with the recorded one
    * fails here, before any data file lands (inference would have
    * accepted the append and failed the next read). */
  def append(df: DataFrame, table: String, partitionBy: Seq[String]): Unit =
    evolve(df, table, partitionBy) {
      val w = df.write.mode(SaveMode.Append)
      (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
        .parquet(path(table))
    }

  def overwrite(df: DataFrame, table: String, partitionBy: Seq[String]): Unit = {
    // Durable self-overwrite: the input plan may read the very path we
    // are replacing, so first materialize the result into a staging
    // directory (source files untouched), then swap directories. Unlike
    // persist()+count(), this survives cache eviction / executor loss
    // mid-write — recomputation re-reads the intact source. The schema
    // rides in the staging directory, so it swaps with the data.
    val dest = path(table)
    val staging = s"$dest.__staging_${System.nanoTime()}"
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(staging)
    record(new File(staging), dataSchema(df, partitionBy))
    swapInto(staging, dest)
  }

  /** Run `write`, which adds `df`'s rows to `table`, under the recorded
    * schema widened by `df`'s data columns. The widened schema replaces
    * the recorded one before the data commits, so no data file holds a
    * column the schema lacks; if `write` throws, the old schema (for a
    * new table, the absent directory) is put back. A directory without
    * a recorded schema stays on read-side inference. */
  private def evolve(df: DataFrame, table: String, partitionBy: Seq[String])(
      write: => Unit): Unit = {
    val dir = new File(path(table))
    val incoming = dataSchema(df, partitionBy)
    if (!dir.exists()) {
      Files.createDirectories(dir.toPath)
      try { record(dir, incoming); write }
      catch { case e: Throwable => FsOps.deleteRecursively(dir); throw e }
    } else recorded(dir) match {
      case None => write
      case Some(old) =>
        val merged = SchemaBridge.merge(old, incoming, caseSensitive(df))
        if (merged == old) write
        else {
          record(dir, merged)
          try write
          catch { case e: Throwable => record(dir, old); throw e }
        }
    }
  }

  /** Replace `dest` with `staging` via two renames — the closest a
    * filesystem gets to atomic; on an object store the versioned
    * [[graft.ingest.VersionedTableIO]] manifest commit replaces this. */
  private def swapInto(staging: String, dest: String): Unit = {
    val destF = new File(dest)
    val old = new File(s"$dest.__old_${System.nanoTime()}")
    if (destF.exists() && !destF.renameTo(old))
      throw new java.io.IOException(s"cannot move aside $dest")
    if (!new File(staging).renameTo(destF)) {
      old.renameTo(destF) // roll back
      throw new java.io.IOException(s"cannot promote $staging to $dest")
    }
    FsOps.deleteRecursively(old)
  }

  def exists(spark: SparkSession, table: String): Boolean =
    new File(path(table)).exists()

  /** Dynamic partition overwrite: replace ONLY the partitions present
    * in `df`, leaving the rest of the table untouched — the backfill
    * primitive (re-run one day without rewriting a year). Static mode
    * would truncate the whole table first; the write option scopes the
    * dynamic behavior to this write, not the session. */
  def overwritePartitions(df: DataFrame, table: String,
      partitionBy: Seq[String]): Unit = {
    require(partitionBy.nonEmpty, "overwritePartitions needs partition columns")
    // A dynamic overwrite deletes the partitions it replaces, so a plan
    // reading the same table must be durably materialized first — stage
    // to disk (not the block cache: eviction mid-write would recompute
    // from partially-deleted source files and lose data).
    // The staged copy is read back with `df`'s own schema (no footer
    // inference job). The table's schema widens as on `append`, and as
    // in Delta never narrows: a column whose only files sat in the
    // replaced partitions stays recorded and reads null.
    val staging = s"${path(table)}.__staging_${System.nanoTime()}"
    df.write.parquet(staging)
    try evolve(df, table, partitionBy) {
      df.sparkSession.read.schema(SchemaBridge.asNullable(df.schema))
        .parquet(staging)
        .write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partitionBy: _*)
        .parquet(path(table))
    } finally FsOps.deleteRecursively(new File(staging))
  }

  /** Compaction (the BASELINE "read/write + compaction" op): rewrite a
    * table to `numFiles` files — repartition(numFiles) rewrite, the
    * parquet stand-in for Delta OPTIMIZE. A partitioned table keeps its
    * partition directories. */
  def compact(spark: SparkSession, table: String, numFiles: Int): Unit =
    rewrite(spark, table)(_.repartition(numFiles))

  /** Clustered compaction — the OPTIMIZE ZORDER analog: range-partition
    * + sort on `clusterCols` so each output file covers a narrow value
    * range; parquet row-group min/max stats then let filtered scans
    * skip whole files (data skipping without an index). */
  def compactClustered(spark: SparkSession, table: String, numFiles: Int,
      clusterCols: Seq[String]): Unit = {
    val cols = clusterCols.map(col)
    rewrite(spark, table)(
      _.repartitionByRange(numFiles, cols: _*).sortWithinPartitions(cols: _*))
  }

  /** Overwrite `table` with `f` of its rows, partitioned by the
    * columns its read discovered in directory names (for a recorded
    * table, the read columns the recorded schema lacks). */
  private def rewrite(spark: SparkSession, table: String)(
      f: DataFrame => DataFrame): Unit = {
    val df = read(spark, table)
    val partitionBy = df.queryExecution.analyzed.collectFirst {
      case LogicalRelation(h: HadoopFsRelation, _, _, _, _) =>
        h.partitionSchema.fieldNames.toSeq
    }.getOrElse(Nil)
    overwrite(f(df), table, partitionBy)
  }
}

object ParquetTableIO {
  /** The recorded schema's file name inside a table directory. */
  val SchemaFile = "_graft_schema.json"

  private def recorded(dir: File): Option[StructType] = {
    val f = new File(dir, SchemaFile)
    if (!f.isFile) None
    else Some(DataType.fromJson(
      new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8))
      .asInstanceOf[StructType])
  }

  /** Replace `dir`'s recorded schema by one rename, so a reader sees
    * the old schema or the new one, never a partial file. */
  private def record(dir: File, schema: StructType): Unit = {
    val tmp = new File(dir, s"$SchemaFile.${System.nanoTime()}.tmp")
    Files.write(tmp.toPath, schema.json.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp.toPath, new File(dir, SchemaFile).toPath,
      StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  private def caseSensitive(df: DataFrame): Boolean =
    df.sparkSession.conf.get("spark.sql.caseSensitive", "false").toBoolean

  /** The columns a parquet write of `df` puts in its files: all but the
    * partition columns, nullable. */
  private def dataSchema(df: DataFrame, partitionBy: Seq[String]): StructType = {
    val same: (String, String) => Boolean =
      if (caseSensitive(df)) _ == _ else _.equalsIgnoreCase(_)
    SchemaBridge.asNullable(StructType(
      df.schema.filterNot(f => partitionBy.exists(same(f.name, _)))))
  }
}
