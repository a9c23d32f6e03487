package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Batch source readers (SURVEY §2.1 S1-S4).
  *
  * Each mirrors a reference ingest shape: header CSV with recursive
  * lookup (uber/csv_to_delta.py:128-136), JSON-lines
  * (alphavantage/transform_into_delta.py:115), whole-file JSON arrays
  * (finance_news/bronze1_to_bronze2.py:147-151), and binaryFile listing
  * (transform_into_delta.py:68-74).
  *
  * Schema: pass `schema=Some(...)` in production — inference reads the
  * data twice and is a full extra scan at 100 TB; `None` keeps the
  * reference's infer-at-bronze behaviour for exploration.
  *
  * Every reader skips corrupt and vanished files: the reference's
  * tolerance (transform_into_delta.py:42-43), set per source because a
  * landing zone may hold a half-written upload or a file removed after
  * listing. Table reads never carry it — a damaged table file fails.
  */
object Readers {

  /** Per-source options for landing-zone file sources, batch and
    * streaming ([[graft.stream.StreamIngest]]). */
  val Tolerant: Map[String, String] = Map(
    "ignoreCorruptFiles" -> "true", "ignoreMissingFiles" -> "true")

  def csv(spark: SparkSession, path: String,
      schema: Option[StructType] = None): DataFrame = {
    val r = spark.read.options(Tolerant)
      .option("header", "true")
      .option("recursiveFileLookup", "true")
    schema.fold(r.option("inferSchema", "true"))(r.schema)
      .csv(path)
  }

  def jsonLines(spark: SparkSession, path: String,
      schema: Option[StructType] = None): DataFrame = {
    val r = spark.read.options(Tolerant)
    schema.fold(r)(r.schema).json(path)
  }

  def jsonMultiLine(spark: SparkSession, path: String,
      schema: Option[StructType] = None): DataFrame = {
    val r = spark.read.options(Tolerant).option("multiLine", "true")
    schema.fold(r)(r.schema).json(path)
  }

  /** File-listing DataFrame: path, modificationTime, length (+ content —
    * drop it unless needed, the column is the whole file). */
  def binaryFiles(spark: SparkSession, path: String,
      glob: String = "*"): DataFrame =
    spark.read.format("binaryFile").options(Tolerant)
      .option("pathGlobFilter", glob)
      .option("recursiveFileLookup", "true")
      .load(path)
}
