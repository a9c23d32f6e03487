package graft

import graft.ingest.ParquetTableIO
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.io.File
import java.nio.file.Files

class TableIOSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def newRoot() = Files.createTempDirectory("graft_io").toString
  private def newIO() = new ParquetTableIO(newRoot())

  test("append accumulates; overwrite replaces") {
    val io = newIO()
    io.append(Seq((1, "a")).toDF("k", "v"), "t")
    io.append(Seq((2, "b")).toDF("k", "v"), "t")
    assert(io.read(spark, "t").count() === 2)
    io.overwrite(Seq((9, "z")).toDF("k", "v"), "t")
    assert(io.read(spark, "t").collect().map(_.getInt(0)).toSeq === Seq(9))
  }

  test("merge: source wins on key, target survives off-key (S9 semantics)") {
    val io = newIO()
    val target = Seq((1, "t1"), (2, "t2"), (3, "t3")).toDF("k", "v")
    val source = Seq((2, "s2"), (4, "s4")).toDF("k", "v")
    val merged = io.merge(target, source, Seq("k"))
      .orderBy("k").as[(Int, String)].collect().toSeq
    assert(merged === Seq((1, "t1"), (2, "s2"), (3, "t3"), (4, "s4")))
  }

  test("upsert is idempotent: re-upserting the same source is a no-op") {
    val io = newIO()
    val v1 = Seq((1, "a"), (2, "b")).toDF("k", "v")
    io.upsert(spark, v1, "t", Seq("k"))
    io.upsert(spark, v1, "t", Seq("k"))
    assert(io.read(spark, "t").count() === 2)
    val v2 = Seq((2, "B"), (3, "c")).toDF("k", "v")
    io.upsert(spark, v2, "t", Seq("k"))
    val got = io.read(spark, "t").orderBy("k").as[(Int, String)].collect().toSeq
    assert(got === Seq((1, "a"), (2, "B"), (3, "c")))
  }

  test("compact rewrites to the requested file count, values unchanged") {
    val io = newIO()
    io.overwrite(spark.range(100).toDF("x").repartition(8), "t")
    io.compact(spark, "t", numFiles = 2)
    val dir = new java.io.File(
      new java.net.URI(io.read(spark, "t").inputFiles.head)).getParentFile
    assert(dir.listFiles().count(_.getName.endsWith(".parquet")) === 2)
    assert(io.read(spark, "t").agg(sum("x")).first().getLong(0) === 4950L)
  }

  test("clustered compaction: disjoint value ranges per file, content preserved") {
    val io = newIO()
    io.overwrite(spark.range(1000).toDF("x").repartition(8), "t")
    io.compactClustered(spark, "t", numFiles = 4, clusterCols = Seq("x"))
    val t = io.read(spark, "t")
    assert(t.agg(sum("x")).first().getLong(0) === 499500L)
    // per-file min/max ranges must not overlap (that's what enables
    // stats-based skipping)
    val ranges = t.groupBy(input_file_name().as("f"))
      .agg(min("x").as("lo"), max("x").as("hi"))
      .orderBy("lo").collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    assert(ranges.length === 4)
    ranges.sliding(2).foreach { case Array((_, hi1), (lo2, _)) =>
      assert(hi1 < lo2)
    }
  }

  test("partitioned append writes hive-style dirs") {
    val io = newIO()
    io.append(Seq((1, "x"), (2, "y")).toDF("k", "part"), "t",
      partitionBy = Seq("part"))
    val got = io.read(spark, "t")
    assert(got.select("part").distinct().count() === 2)
    // hive-style layout on disk → partition pruning can engage
    val root = new java.io.File(
      new java.net.URI(got.inputFiles.head)).getParentFile.getParentFile
    val dirs = root.listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.toSeq === Seq("part=x", "part=y"))
    assert(got.filter(col("part") === "x").count() === 1)
  }

  test("compaction keeps a partitioned table's partition directories " +
      "and its partition pruning") {
    val rows = (0 until 40).map(i => (i, if (i % 2 == 0) "x" else "y"))
    val recorded = newIO()
    recorded.append(rows.toDF("k", "part").repartition(4), "t",
      partitionBy = Seq("part"))
    // a directory written by plain df.write reads by inference
    val plainRoot = newRoot()
    rows.toDF("k", "part").write.partitionBy("part")
      .parquet(s"$plainRoot/t")
    val plain = new ParquetTableIO(plainRoot)
    val compactions: Seq[(String, ParquetTableIO => Unit)] = Seq(
      "compact" -> (_.compact(spark, "t", numFiles = 1)),
      "compactClustered" -> (_.compactClustered(spark, "t", numFiles = 2,
        clusterCols = Seq("k"))))
    for ((io, root) <- Seq(recorded -> None, plain -> Some(plainRoot));
         (name, run) <- compactions) {
      run(io)
      val t = io.read(spark, "t")
      val dir = new File(new java.net.URI(t.inputFiles.head))
        .getParentFile.getParentFile
      assert(dir.listFiles().filter(_.isDirectory).map(_.getName).sorted
        .toSeq === Seq("part=x", "part=y"), s"$name $root")
      val filtered = t.filter(col("part") === "x")
      val scan = filtered.queryExecution.sparkPlan.collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.get
      assert(scan.partitionFilters.nonEmpty, s"$name $root")
      assert(filtered.count() === 20L)
      assert(t.agg(sum("k")).first().getLong(0) === 780L)
    }
  }

  test("dynamic partition overwrite replaces only the written partitions") {
    val io = newIO()
    io.overwrite(Seq((1, "a", "x"), (2, "b", "x"), (3, "c", "y"))
      .toDF("k", "v", "part"), "t", partitionBy = Seq("part"))
    val root = new java.io.File(new java.net.URI(
      io.read(spark, "t").inputFiles.head)).getParentFile.getParentFile
    def xFiles = new java.io.File(root, "part=x")
      .listFiles().map(f => f.getName -> f.lastModified()).toSet
    val xBefore = xFiles
    // rewrite partition y only; x must be physically untouched
    io.overwritePartitions(Seq((30, "c2", "y")).toDF("k", "v", "part"),
      "t", partitionBy = Seq("part"))
    val got = io.read(spark, "t")
    assert(got.orderBy("k").as[(Int, String, String)].collect().toSeq ===
      Seq((1, "a", "x"), (2, "b", "x"), (30, "c2", "y")))
    assert(xFiles === xBefore)
  }

  // ---- the recorded schema -----------------------------------------

  private def inferred(dir: String): StructType =
    spark.read.option("mergeSchema", "true").parquet(dir).schema

  private def dataFiles(dir: File): Seq[String] =
    Option(dir.listFiles()).getOrElse(Array.empty).toSeq.flatMap { f =>
      if (f.isDirectory) dataFiles(f)
      else if (f.getName.endsWith(".parquet")) Seq(f.getPath) else Nil
    }.sorted

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private final case class Case(name: String, build: ParquetTableIO => Unit)

  test("read plans from the recorded schema: no Spark job, and the " +
      "schema mergeSchema inference returns (names, order, types, " +
      "nullability), partition types included") {
    val typed = spark.range(6).select(
      col("id").cast("int").as("k"),
      (col("id") * 1.25).cast("decimal(12,2)").as("amt"),
      date_add(lit("2026-01-01").cast("date"), col("id").cast("int")).as("d"),
      timestamp_seconds(col("id") * 3600 + 1767261600L).as("ts"),
      array(col("id"), col("id") + 1).as("arr"),
      map(lit("n"), col("id")).as("m"),
      struct(col("id").as("a"), lit("x").as("b")).as("st"),
      lit("abc").cast("char(5)").as("c5"),
      lit("abc").cast("varchar(10)").as("vc"))
    val cases = Seq(
      Case("plain", { io =>
        io.append(Seq((1, "a"), (2, "b")).toDF("k", "v"), "t")
        io.append(Seq((3, "c")).toDF("k", "v"), "t")
      }),
      Case("partitionBy, inferred int and date partition types", { io =>
        io.append(Seq((1, "a", 7, "2026-01-01"), (2, "b", 8, "2026-01-02"))
          .toDF("k", "v", "part", "day"), "t", Seq("part", "day"))
      }),
      Case("evolved by append", { io =>
        io.append(Seq((1, "a")).toDF("k", "v"), "t")
        io.append(Seq((2, "b", 9.5, Seq(1L))).toDF("k", "v", "x", "xs"), "t")
        io.append(Seq((3, "c")).toDF("k", "v"), "t")
      }),
      Case("overwritePartitions adds a column", { io =>
        io.overwrite(Seq((1, "a", "x"), (2, "b", "y")).toDF("k", "v", "part"),
          "t", Seq("part"))
        io.overwritePartitions(Seq((3, "c", 1.5, "y"))
          .toDF("k", "v", "extra", "part"), "t", Seq("part"))
      }),
      Case("compact", { io =>
        io.append(Seq((1, "a"), (2, "b")).toDF("k", "v"), "t")
        io.append(Seq((3, "c", 2.5)).toDF("k", "v", "x"), "t")
        io.compact(spark, "t", numFiles = 1)
      }),
      Case("compactClustered", { io =>
        io.overwrite(spark.range(40).toDF("k").repartition(4), "t")
        io.compactClustered(spark, "t", numFiles = 2, clusterCols = Seq("k"))
      }),
      Case("upsert", { io =>
        io.upsert(spark, Seq((1, "a")).toDF("k", "v"), "t", Seq("k"))
        io.upsert(spark, Seq((1, "b"), (2, "c")).toDF("k", "v"), "t", Seq("k"))
      }),
      Case("decimal, date, timestamp, array, map, struct, char/varchar " +
        "casts", { io => io.overwrite(typed, "t"); io.append(typed, "t") }))
    cases.foreach { case Case(name, build) =>
      val root = newRoot()
      val io = new ParquetTableIO(root)
      build(io)
      val tableDir = s"$root/t"
      assert(new File(tableDir, ParquetTableIO.SchemaFile).isFile, name)
      var got: StructType = null
      val jobs = JobLog.during(spark) { got = io.read(spark, "t").schema }
      assert(jobs.isEmpty, s"$name: read submitted ${jobs.map(_.site)}")
      assert(got === inferred(tableDir), name)
      // the rows read the same through either schema
      assert(rows(io.read(spark, "t")) === rows(
        spark.read.option("mergeSchema", "true").parquet(tableDir)
          .select(got.fieldNames.map(col): _*)), name)
    }
  }

  test("a directory written by plain df.write reads by inference, and " +
      "an append keeps it on inference") {
    val root = newRoot()
    Seq((1, "a")).toDF("k", "v").write.parquet(s"$root/t")
    val io = new ParquetTableIO(root)
    var got: StructType = null
    val jobs = JobLog.during(spark) { got = io.read(spark, "t").schema }
    assert(jobs.nonEmpty, "the inference path runs a footer job")
    assert(got === inferred(s"$root/t"))
    io.append(Seq((2, "b", 1.5)).toDF("k", "v", "x"), "t")
    assert(!new File(s"$root/t", ParquetTableIO.SchemaFile).exists())
    assert(io.read(spark, "t").columns.toSeq === Seq("k", "v", "x"))
    assert(io.read(spark, "t").count() === 2)
  }

  test("an incompatible append fails before any data file lands; the " +
      "table stays readable and unchanged") {
    val root = newRoot()
    val io = new ParquetTableIO(root)
    io.append(Seq((1, "a"), (2, "b")).toDF("k", "v"), "t")
    val dir = new File(s"$root/t")
    val schemaFile = new File(dir, ParquetTableIO.SchemaFile).toPath
    val before = (Files.readAllBytes(schemaFile).toSeq, dataFiles(dir),
      rows(io.read(spark, "t")))
    // int k against string k: no merge, where inference would accept
    // the append and fail the next read
    intercept[Exception] {
      io.append(Seq(("x", "c")).toDF("k", "v"), "t")
    }
    assert((Files.readAllBytes(schemaFile).toSeq, dataFiles(dir),
      rows(io.read(spark, "t"))) === before)
  }

  test("an append whose write throws leaves the recorded schema, and " +
      "for a new table the directory, as it was") {
    val root = newRoot()
    val io = new ParquetTableIO(root)
    io.append(Seq((1, "a")).toDF("k", "v"), "t")
    val dir = new File(s"$root/t")
    val schemaFile = new File(dir, ParquetTableIO.SchemaFile).toPath
    val before = Files.readAllBytes(schemaFile).toSeq
    // widens the schema, then fails inside the write job
    val failing = Seq((2, "b")).toDF("k", "v").withColumn("extra",
      when(col("k") > 0, raise_error(lit("boom"))).otherwise(lit(1.5)))
    intercept[Exception](io.append(failing, "t"))
    assert(Files.readAllBytes(schemaFile).toSeq === before)
    assert(io.read(spark, "t").columns.toSeq === Seq("k", "v"))
    assert(rows(io.read(spark, "t")) === Seq("[1,a]"))
    intercept[Exception](io.append(failing, "fresh"))
    assert(!io.exists(spark, "fresh"))
  }
}
