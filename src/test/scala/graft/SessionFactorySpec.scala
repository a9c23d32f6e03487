package graft

import graft.ingest.{DeltaLakeRead, DeltaLakeWrite, Readers}
import java.io.File
import java.nio.file.Files
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.types.{IntegerType, StringType, StructType}
import org.scalatest.funsuite.AnyFunSuite

class SessionFactorySpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("session confs: UTC, AQE, skew join") {
    Seq("spark.sql.session.timeZone" -> "UTC",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true")
      .foreach { case (k, v) => assert(spark.conf.get(k) === v, k) }
  }

  // rolling_hash comes with construction: no register call
  test("extensions expose rolling_hash to SQL") {
    val got = spark.sql("SELECT rolling_hash('ab') AS h").first().getLong(0)
    assert(got === 31L * 97 + 98)
    // and it agrees with the Column API form
    val viaCol = Seq("ab").toDF("t")
      .select(graft.functions.RollingHash.rollingHash(
        org.apache.spark.sql.functions.col("t"))).first().getLong(0)
    assert(viaCol === got)
  }

  // the factory's other confs and the AsOfJoin strategy also come with
  // construction: no lazy strategy patch
  test("the suite runs on the factory session") {
    Seq("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
      "spark.sql.codegen.cache.maxEntries" -> "4096",
      "spark.sql.parquet.fieldId.read.enabled" -> "true",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.files.ignoreCorruptFiles" -> "false",
      "spark.sql.files.ignoreMissingFiles" -> "false")
      .foreach { case (k, v) => assert(spark.conf.get(k) === v, k) }
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") === "false")

    assert(spark.experimental.extraStrategies.isEmpty)
    val joined = graft.operators.AsOf.joinNative(
      Seq((1L, 10L)).toDF("k", "ts"), Seq((1L, 5L, "x")).toDF("k", "ts", "v"),
      "k", "ts")
    assert(joined.queryExecution.sparkPlan.collectFirst {
      case e: graft.plans.AsOfJoinExec => e }.nonEmpty,
      joined.queryExecution.sparkPlan.toString)
    assert(joined.select("asof_v").as[String].collect().toSeq === Seq("x"))
    assert(spark.experimental.extraStrategies.isEmpty)
  }

  // Spark's 100-entry class cache is smaller than one curateV2 pass's
  // ~200 generated classes, so every pass recompiled nearly all of
  // them; the allowance covers AQE join-side variants
  test("a repeated curateV2 pass compiles each generated class once") {
    val rnd = new scala.util.Random(7)
    val words = Seq("the", "and", "of", "to", "in") ++
      (1 to 60).map(i => s"word${('a' + i % 26).toChar}$i")
    def text(n: Int) = Seq.fill(n)(words(rnd.nextInt(words.size))).mkString(" ")
    val texts = (0 until 60).map(_ => text(30 + rnd.nextInt(40)))
    // documents 60-79 are exact copies of 0-19
    val docs = (0 until 80).map(i =>
      (i.toLong, texts(i % 60), if (i % 3 == 0) "de" else "en"))
      .toDF("doc_id", "text", "lang")
    val emb = (0 until 80).map(i =>
      (i.toLong, Seq.fill(8)(rnd.nextFloat() - 0.5f))).toDF("vec_id", "embedding")
    def curate(): Unit = graft.scale.Curation.curateV2(
      corpus = docs.filter($"doc_id" % 10 =!= 0),
      bench = docs.filter($"doc_id" % 10 === 0), embeddings = emb,
      idCol = "doc_id", textCol = "text", langCol = "lang",
      minQuality = 0.5, minJaccard = 0.7,
      p = graft.scale.Dedup.MinHashParams(k = 64, bands = 16, shingle = 3,
        reproducible = true),
      semK = 4, semIters = 2, semMinCosine = 0.9, semMaxNeighbors = 16,
      unitTokens = 3, decontamN = 5, tau = 0.7, budgetDocs = 40L,
      packBudget = 512L, packShards = 4, maxBucket = Some(1000)).collect()
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME
    val passes = (1 to 3).map { _ =>
      val c0 = compiled.getCount
      curate()
      compiled.getCount - c0
    }
    assert(passes(2) < passes(0) / 10.0, passes)
  }

  test("only the factory builds sessions") {
    val call = "SparkSession" + ".builder"
    def scala(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(scala)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val sites = Seq("src/main/scala", "src/test/scala")
      .flatMap(d => scala(new File(d)))
      .filter(f => Files.readString(f.toPath).contains(call))
      .map(_.getPath)
    assert(sites === Seq("src/main/scala/graft/core/SessionFactory.scala"))
  }

  /** A 1,000-row Delta table in four data files; returns the table dir
    * and its data files. */
  private def fourFileTable(): (String, Seq[File]) = {
    val t = Files.createTempDirectory("graft_fail_loud").toString
    DeltaLakeWrite.append(spark.range(1000).toDF("id").repartition(4), t)
    val files = new File(t).listFiles().toSeq
      .filter(f => f.getName.endsWith(".parquet"))
    assert(files.size === 4)
    (t, files)
  }

  private def failsToRead(count: => Long): Unit = {
    val e = intercept[org.apache.spark.SparkException](count)
    assert(e.getMessage.contains("FAILED_READ_FILE"), e.getMessage)
  }

  test("a snapshot over a corrupt data file fails") {
    val (t, files) = fourFileTable()
    Files.writeString(files.head.toPath, "this is not parquet")
    failsToRead(DeltaLakeRead.snapshot(spark, t).count())
  }

  test("a snapshot whose data file vanished fails") {
    val (t, files) = fourFileTable()
    val snap = DeltaLakeRead.snapshot(spark, t)
    files.head.delete()
    failsToRead(snap.count())
  }

  test("landing-zone readers skip corrupt and vanished files") {
    val dir = Files.createTempDirectory("graft_landing").toFile
    Files.writeString(new File(dir, "a.csv").toPath, "k,v\n1,a\n2,b\n")
    Files.writeString(new File(dir, "b.csv").toPath, "k,v\n3,c\n")
    Files.writeString(new File(dir, "bad.csv.gz").toPath, "not gzip")
    val schema = new StructType().add("k", IntegerType).add("v", StringType)
    // the tolerance is per source: the session itself still fails
    failsToRead(spark.read.schema(schema).option("header", "true")
      .csv(dir.getPath).count())
    val landed = Readers.csv(spark, dir.getPath, Some(schema))
    assert(landed.count() === 3)
    new File(dir, "b.csv").delete()
    assert(landed.count() === 2)
  }
}
