package graft

import graft.clean.Cleaning
import graft.core.Cols
import graft.gold.Kpi
import graft.ingest.ParquetTableIO
import graft.stream.StreamIngest
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** SURVEY §5.3: the full medallion flow on uber-shaped fixtures
  * (FIXTURES.md §1) — bronze1 CSV (dirty headers, dirty nulls) →
  * bronze2 (streamed, surrogate ids) → silver (sanitized, cast,
  * deduped, imputed) → gold (conditional KPI agg) — then re-run the
  * whole pipeline and assert it is an incremental no-op (the
  * reference's core contract).
  */
class MedallionSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def csvDay(dir: String, day: String, rows: Seq[String]): Unit = {
    val d = Paths.get(s"$dir/date=$day")
    Files.createDirectories(d)
    val header = "Date,Booking ID,Booking Status,Vehicle Type,Booking Value,Ride Distance"
    Files.writeString(d.resolve(s"uber_$day.csv"),
      (header +: rows).mkString("\n"))
  }

  private val schema = StructType(Seq(
    StructField("Date", StringType), StructField("Booking ID", StringType),
    StructField("Booking Status", StringType),
    StructField("Vehicle Type", StringType),
    StructField("Booking Value", StringType),
    StructField("Ride Distance", StringType)))

  private var lastPipeline: graft.pipeline.Medallion = _

  private def runPipeline(src: String, ck: String, io: ParquetTableIO): DataFrame = {
    val pipeline = new graft.pipeline.Medallion(spark, io,
      graft.pipeline.MedallionConfig(
        domain = "uber",
        sourceDir = src,
        checkpointDir = ck,
        schema = Some(schema),
        naturalKey = Seq("Booking ID"),
        casts = Map(
          "Booking_Value" -> DoubleType,
          "Ride_Distance" -> DoubleType),
        imputeMeanCols = Seq("Booking_Value"),
        goldKeys = Seq("Date", "Vehicle_Type"),
        goldMeasures = Seq(
          count(lit(1)).as("total_bookings"),
          Kpi.countIf(col("Booking_Status") === "Completed").as("completed"),
          round(sum(col("Booking_Value")), 2).as("total_value"),
          round(sum(col("Booking_Value")) / sum(col("Ride_Distance")), 4)
            .as("value_per_km"))))
    lastPipeline = pipeline
    pipeline.run()
      .withColumn("completion_rate",
        round(col("completed") * 100.0 / col("total_bookings"), 2))
  }

  test("bronze1→bronze2→silver→gold end-to-end, re-run is a no-op, late day is incremental") {
    val src = Files.createTempDirectory("uber_src").toString
    val ck = Files.createTempDirectory("uber_ck").toString
    val io = new ParquetTableIO(Files.createTempDirectory("uber_wh").toString)

    csvDay(src, "2026-01-01", Seq(
      "2026-01-01,GEN-001,Completed,Bike,150,5.0",
      "2026-01-01,GEN-002,Cancelled by Customer,Auto,null,3.0",
      "2026-01-01,GEN-002,Cancelled by Customer,Auto,null,3.0", // dup row
      "2026-01-01,GEN-003,Completed,Bike,300,10.0"))
    val gold1 = runPipeline(src, ck, io).collect()

    // silver: 3 unique bookings, nulls imputed with mean(150,300)=225
    val silver = io.read(spark, "silver_uber")
    assert(silver.count() === 3)
    // observe metrics rode the silver write job (no audit re-scan)
    assert(lastPipeline.lastSilverMetrics("rows") === 3L)
    assert(silver.filter(col("Booking_ID") === "GEN-002")
      .first().getAs[Double]("Booking_Value") === 225.0)

    // gold day 1: Bike row completed=2, value=450
    val bike = gold1.find(r => r.getAs[String]("Vehicle_Type") === "Bike").get
    assert(bike.getAs[Long]("total_bookings") === 2L)
    assert(bike.getAs[Double]("total_value") === 450.0)
    assert(bike.getAs[Double]("completion_rate") === 100.0)

    // re-run with no new files: bronze unchanged, gold identical
    val gold2 = runPipeline(src, ck, io).collect()
    assert(io.read(spark, "bronze2_uber").count() === 4)
    assert(gold2.map(_.toString).sorted.toSeq ===
      gold1.map(_.toString).sorted.toSeq)

    // late-arriving day: only new rows ingest; ids continue
    csvDay(src, "2026-01-02", Seq(
      "2026-01-02,GEN-004,Completed,UberXL,500,20.0"))
    val gold3 = runPipeline(src, ck, io)
    assert(io.read(spark, "bronze2_uber").count() === 5)
    assert(io.read(spark, "bronze2_uber")
      .agg(max("cd_bronze_id")).first().getLong(0) === 5L)
    assert(gold3.filter(col("Date") === "2026-01-02").count() === 1)
  }

  test("a full DAG run submits no schema-inference job: every medallion " +
      "read plans from the recorded schema") {
    val src = Files.createTempDirectory("uber_src").toString
    val ck = Files.createTempDirectory("uber_ck").toString
    val io = new ParquetTableIO(Files.createTempDirectory("uber_wh").toString)
    csvDay(src, "2026-01-01", Seq(
      "2026-01-01,GEN-001,Completed,Bike,150,5.0",
      "2026-01-01,GEN-002,Completed,Auto,300,10.0"))
    var gold: Array[org.apache.spark.sql.Row] = null
    val jobs = JobLog.during(spark) {
      gold = runPipeline(src, ck, io).collect()
    }
    assert(gold.length === 2)
    assert(jobs.nonEmpty)
    val reads = jobs.filter(j => j.site.startsWith("parquet at TableIO") ||
      j.stack.contains("ParquetTableIO.read("))
    assert(reads.isEmpty, s"inference jobs: ${reads.map(_.site)}")
  }
}
