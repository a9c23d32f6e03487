package lakebench

import graft.dq.{AlertRenderer, AuditRunner, FactBuilder,
  MandatoryColumnConfig, ValidityConfig}
import graft.gold.Kpi
import graft.ingest.ParquetTableIO
import graft.pipeline.{Medallion, MedallionConfig}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.io.File
import java.nio.charset.StandardCharsets
import scala.collection.mutable

/** The reference's DAG — bronze → silver → gold → DQ audit → facts →
  * alert — over uber-shaped CSV days: one backfill run over the first
  * days, then one run per newly landed day, then a run with no new file
  * (which must change nothing). Each cycle starts from empty tables and
  * replays the same days, so every cycle does the same work.
  *
  * Tables go through `ParquetTableIO`, the path `MedallionSpec` drives. */
final class MedallionDag(dir: File) {
  import MedallionDag._

  private val RowsPerDay = 1500
  private val BackfillDays = 2
  private val IncrementalDays = 3

  private var days: Seq[Day] = Nil

  def generate(seed: Long): Unit = {
    val rnd = new scala.util.Random(seed)
    val all = mutable.Buffer[Booking]()
    days = (1 to BackfillDays + IncrementalDays).map { d =>
      val date = f"2026-03-$d%02d"
      val fresh = (1 to RowsPerDay).map(n => booking(date, f"CNR$d%02d$n%06d", rnd))
      // ~2% repeated rows: half re-sent within the day, half re-sent
      // from an earlier day (the same booking, the same content)
      val resent = (1 to RowsPerDay / 50).map { i =>
        if (i % 2 == 0 || all.isEmpty) fresh(rnd.nextInt(fresh.size))
        else all(rnd.nextInt(all.size))
      }
      all ++= fresh
      val rows = rnd.shuffle(fresh ++ resent)
      val csv = (DirtyHeader +: rows.map(_.csv)).mkString("\n")
      Day(date, csv, fresh)
    }
  }

  private def booking(date: String, id: String, rnd: scala.util.Random): Booking = {
    def pick[T](xs: Seq[(T, Int)]): T = {
      var r = rnd.nextInt(xs.map(_._2).sum)
      xs.find { case (_, w) => r -= w; r < 0 }.get._1
    }
    val status = pick(Seq(Some("Completed") -> 620, Some("Cancelled by Driver") -> 180,
      Some("Cancelled by Customer") -> 100, Some("No Driver Found") -> 70,
      Some("Incomplete") -> 20, None -> 10))
    // planted mandatory-rule violations: blank and whitespace-only
    val vehicle = pick(Seq("Auto" -> 250, "Go Mini" -> 200, "Go Sedan" -> 180,
      "Bike" -> 150, "Premier Sedan" -> 110, "eBike" -> 70, "Uber XL" -> 25,
      "" -> 8, " " -> 7))
    // planted nulls ("null", blank) that silver imputes with the mean
    val value = if (rnd.nextInt(100) < 3) None else Some(50 + rnd.nextInt(3950))
    // planted nulls and out-of-range distances for the validity rule
    val distance = rnd.nextInt(1000) match {
      case x if x < 20 => None
      case x if x < 27 => Some(-(1 + rnd.nextInt(500)) / 10.0)
      case x if x < 34 => Some(100.5 + rnd.nextInt(2000) / 10.0)
      case _ => Some((10 + rnd.nextInt(4990)) / 100.0)
    }
    Booking(date, id, status, vehicle, value, distance,
      nullSpelling = if (rnd.nextBoolean()) "null" else "")
  }

  /** The backfill on throw-away tables: the first DAG run in a JVM is
    * several times slower (codegen, JIT, streaming start-up). */
  def warmUp(spark: SparkSession, tracer: Tracer): Unit = {
    val c = backfill(spark, tracer)._1
    Files.rm(c.root)
  }

  /** Fresh tables: the backfill run, one run per incremental day, then
    * a run with no new file. */
  def cycle(spark: SparkSession, tracer: Tracer): Seq[Op] = {
    val (c, first) = backfill(spark, tracer)
    val ops = first +: days.slice(BackfillDays, BackfillDays + IncrementalDays).map { d =>
      c.land(d)
      c.dagRun(spark, tracer, "incremental")
    }
    val out = ops :+ c.dagRun(spark, tracer, "noop")
    Files.rm(c.root)
    out
  }

  def summarize(spark: SparkSession, ops: Seq[Op]): Summary = {
    def secs(kind: String) = ops.filter(_.kind == kind).map(_.seconds)
    val incr = secs("incremental")
    Summary(Seq(Metric("dag_backfill_s", Stats.median(secs("backfill")), "s"),
        Metric("dag_incr_p50_s", Stats.median(incr), "s"),
        Metric("dag_incr_tail_s", Stats.tail(incr)._1, "s")),
      Nil)
  }

  private var cycles = 0

  private def backfill(spark: SparkSession, tracer: Tracer): (Cycle, Op) = {
    cycles += 1
    val c = new Cycle(spark, new File(dir, s"cycle$cycles"))
    days.take(BackfillDays).foreach(c.land)
    (c, c.dagRun(spark, tracer, "backfill"))
  }

  /** One cycle's source directory, checkpoint and tables. */
  private final class Cycle(spark: SparkSession, val root: File) {
    private val src = new File(root, "src")
    private val io = new ParquetTableIO(new File(root, "wh").getAbsolutePath)
    private val dag = new Medallion(spark, io, config(src.getAbsolutePath,
      new File(root, "ck").getAbsolutePath))
    private var landed = Seq.empty[Day]
    private var lastGold: Seq[String] = Nil

    def land(d: Day): Unit = {
      val f = new File(src, s"date=${d.date}/uber_${d.date}.csv")
      f.getParentFile.mkdirs()
      java.nio.file.Files.write(f.toPath, d.csv.getBytes(StandardCharsets.UTF_8))
      landed :+= d
    }

    /** Times one DAG run, then checks it against the ground truth of
      * the landed days (untimed). */
    def dagRun(spark: SparkSession, tracer: Tracer, kind: String): Op = {
      val t0 = System.nanoTime()
      val out = try Some(runDag(spark, tracer, dag, landed.last.date))
      catch {
        case e: Exception =>
          System.err.println(s"lakebench: $kind DAG run failed: $e")
          None
      }
      val secs = (System.nanoTime() - t0) / 1e9
      val ok = out.exists { case (gold, results, report) =>
        val goldRows = gold.collect().map(_.toString).sorted.toSeq
        val truth = Truth(landed)
        val good = checkGold(gold, truth) && checkAudit(results, report, truth) &&
          (kind != "noop" || (goldRows == lastGold &&
            io.read(spark, "bronze2_uber").count() == landed.map(_.rows).sum))
        lastGold = goldRows
        good
      }
      if (!ok) System.err.println(s"lakebench: $kind DAG output check failed")
      Op(kind, secs, ok)
    }
  }

  /** The DAG for one run; returns gold, the audit results and the
    * rendered alert. */
  private def runDag(spark: SparkSession, tracer: Tracer, dag: Medallion,
      day: String): (DataFrame, Array[org.apache.spark.sql.Row],
        AlertRenderer.AlertReport) = {
    tracer.span("pipeline.Medallion.runBronze")(dag.runBronze())
    val silver = tracer.span("pipeline.Medallion.runSilver")(dag.runSilver())
    val gold = tracer.span("pipeline.Medallion.runGold")(dag.runGold())
    val checkedAt = s"$day 23:00:00"
    val (results, schema) = tracer.span("dq.AuditRunner.runAll") {
      val df = AuditRunner.runAll((_, _) => silver, Rules, checkedAt)
      (df.collect(), df.schema)
    }
    val facts = FactBuilder.violations(spark.createDataFrame(
      java.util.Arrays.asList(results: _*), schema))
    val report = tracer.span("dq.AlertRenderer.renderReport")(
      AlertRenderer.renderReport(facts, generatedAt = checkedAt))
    (gold, results, report)
  }

  private def checkGold(gold: DataFrame, t: Truth): Boolean = {
    val rows = gold.collect().map { r =>
      (r.getAs[String]("Date"), Option(r.getAs[String]("Vehicle_Type"))) ->
        (r.getAs[Long]("total_bookings"), r.getAs[Long]("completed"),
          r.getAs[Double]("total_value"))
    }.toMap
    rows.size == t.gold.size && t.gold.forall { case (k, (n, done, value, nulls)) =>
      rows.get(k).exists { case (gn, gd, gv) =>
        // imputed values carry the mean rounded to cents
        gn == n && gd == done &&
          math.abs(gv - value) <= 0.005 * nulls + 0.01 + 1e-9 * math.abs(value)
      }
    }
  }

  private def checkAudit(results: Array[org.apache.spark.sql.Row],
      report: AlertRenderer.AlertReport, t: Truth): Boolean = {
    val counted = results.map { r =>
      r.getAs[Long]("cd_configuration") ->
        NViol.findFirstMatchIn(r.getAs[String]("ds_checked_value"))
          .map(_.group(1).toLong).getOrElse(-1L)
    }.toMap
    counted == t.violations &&
      report.totalViolations == t.violations.values.sum &&
      report.configCount == t.violations.count(_._2 > 0)
  }
}

object MedallionDag {
  private val NViol = "\"n_violations\":(\\d+)".r

  val DirtyHeader = " Date ,Booking ID, Booking Status,Vehicle Type ," +
    "Booking Value (INR),Ride Distance (km)"
  // explicit schema: the production path (streaming CSV inference would
  // read every column as a string anyway)
  val Schema: StructType = StructType(Seq("Date", "Booking ID",
    "Booking Status", "Vehicle Type", "Booking Value", "Ride Distance")
    .map(StructField(_, StringType)))

  val Rules = Seq(
    MandatoryColumnConfig(1, "bench", "silver_uber",
      Seq("Vehicle_Type", "Booking_Status"), Seq("Booking_ID")),
    ValidityConfig(2, "bench", "silver_uber",
      "Ride_Distance < 0 OR Ride_Distance > 100", Seq("Booking_ID")),
    ValidityConfig(3, "bench", "silver_uber",
      "Booking_Value > 3990", Seq("Booking_ID")))

  def config(src: String, ck: String): MedallionConfig = MedallionConfig(
    domain = "uber", sourceDir = src, checkpointDir = ck,
    schema = Some(Schema), naturalKey = Seq("Booking ID"),
    casts = Map("Booking_Value" -> DoubleType, "Ride_Distance" -> DoubleType),
    imputeMeanCols = Seq("Booking_Value"),
    goldKeys = Seq("Date", "Vehicle_Type"),
    goldMeasures = Seq(
      count(lit(1)).as("total_bookings"),
      Kpi.countIf(col("Booking_Status") === "Completed").as("completed"),
      round(sum(col("Booking_Value")), 2).as("total_value"),
      round(sum(col("Booking_Value")) / sum(col("Ride_Distance")), 4)
        .as("value_per_km")))

  final case class Booking(date: String, id: String, status: Option[String],
      vehicle: String, value: Option[Int], distance: Option[Double],
      nullSpelling: String) {
    def csv: String = Seq(date, id, status.getOrElse(""), vehicle,
      value.fold(nullSpelling)(_.toString),
      distance.fold(nullSpelling)(_.toString)).mkString(",")
    /** The CSV reader turns an empty field into null. */
    def vehicleRead: Option[String] = Some(vehicle).filter(_.nonEmpty)
  }

  final case class Day(date: String, csv: String, bookings: Seq[Booking]) {
    def rows: Long = csv.count(_ == '\n').toLong
  }

  /** What the tables must hold after the landed days, from the
    * generator's bookings (re-sent rows collapse to one booking). */
  final case class Truth(landed: Seq[Day]) {
    private val bs = landed.flatMap(_.bookings)
    private val mean = {
      val vs = bs.flatMap(_.value)
      BigDecimal(vs.map(_.toLong).sum) / vs.size
    }.setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble

    /** (date, vehicle) → (bookings, completed, value, imputed values). */
    val gold: Map[(String, Option[String]), (Long, Long, Double, Int)] =
      bs.groupBy(b => (b.date, b.vehicleRead)).map { case (k, g) =>
        k -> (g.size.toLong, g.count(_.status.contains("Completed")).toLong,
          g.map(_.value.fold(mean)(_.toDouble)).sum, g.count(_.value.isEmpty))
      }

    /** Rule id → violating bookings. */
    val violations: Map[Long, Long] = Map(
      1L -> bs.count(b => b.vehicle.trim.isEmpty || b.status.isEmpty).toLong,
      2L -> bs.count(_.distance.exists(d => d < 0 || d > 100)).toLong,
      3L -> bs.count(_.value.exists(_ > 3990)).toLong)
  }
}
