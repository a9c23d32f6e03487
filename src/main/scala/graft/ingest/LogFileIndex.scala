package graft.ingest

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Expression, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, PartitionDirectory, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

/** A Spark [[FileIndex]] over files the Delta log already lists: each
  * file's path, size and modificationTime come from its action, with
  * its own partition row, so planning a scan makes no filesystem call
  * (no existence check, glob or listing job). Partitions are keyed by
  * row, not directory, so hive and non-hive layouts, and per-file
  * values such as a change feed's commit version, are one relation;
  * `partitionFilters` are applied here. Scans split files by their
  * logged size, so [[LogParquetFormat]] fails a read whose file
  * disagrees with it rather than drop row groups silently. */
final case class LogFileIndex(root: String, partitionSchema: StructType,
    files: Seq[(DeltaLakeRead.AddFile, InternalRow)]) extends FileIndex {

  // a zero-length file would plan zero splits and drop its rows
  // silently; no parquet file is empty
  files.find(_._1.size <= 0).foreach { case (f, _) =>
    throw new IllegalArgumentException(
      s"$root/${f.path} is logged with size ${f.size} — the log is invalid")
  }

  private def qualified(p: String): Path = new Path("file", null, p)

  // one directory per distinct partition row, in log order
  private lazy val partitions: Seq[PartitionDirectory] = {
    val byRow = files.groupBy(_._2)
    files.map(_._2).distinct.map(row =>
      PartitionDirectory(row, byRow(row).map { case (f, _) =>
        FileStatusWithMetadata(new FileStatus(f.size, false, 0, 0L,
          f.modificationTime, qualified(s"$root/${f.path}")))
      }))
  }

  override def rootPaths: Seq[Path] = Seq(qualified(root))

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    if (partitionFilters.isEmpty) partitions
    else {
      val keep = Predicate.createInterpreted(
        partitionFilters.reduce(And).transform {
          case a: AttributeReference =>
            val i = partitionSchema.fieldNames.indexOf(a.name)
            BoundReference(i, partitionSchema(i).dataType, nullable = true)
        })
      keep.initialize(0)
      partitions.filter(p => keep.eval(p.values))
    }

  override def inputFiles: Array[String] =
    partitions.flatMap(_.files.map(_.getPath.toString)).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = files.map(_._1.size).sum
}

/** Parquet for [[LogFileIndex]] scans: each task first checks its
  * file's length against the logged size its splits were planned by
  * (one local stat per split), so a wrong log fails the read rather
  * than returning the rows of fewer row groups. A missing file is left
  * to the parquet reader, which fails it as `FAILED_READ_FILE`. */
private[ingest] final class LogParquetFormat extends ParquetFileFormat {
  override def buildReaderWithPartitionValues(spark: SparkSession,
      dataSchema: StructType, partitionSchema: StructType,
      requiredSchema: StructType, filters: Seq[Filter],
      options: Map[String, String],
      hadoopConf: Configuration): PartitionedFile => Iterator[InternalRow] = {
    val read = super.buildReaderWithPartitionValues(spark, dataSchema,
      partitionSchema, requiredSchema, filters, options, hadoopConf)
    file => {
      val local = new java.io.File(file.toPath.toUri)
      if (local.isFile && local.length != file.fileSize)
        throw new java.io.IOException(s"${file.urlEncodedPath} holds " +
          s"${local.length} bytes but the Delta log says ${file.fileSize}")
      read(file)
    }
  }
}
