package graft

import graft.ingest.{DeltaLakeRead, DeltaLakeWrite, Readers}
import java.io.File
import java.nio.file.Files
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.Row
import org.apache.spark.sql.graft.CacheProbe
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

  private def scalaFiles(f: File): Seq[File] =
    if (f.isDirectory) f.listFiles().toSeq.flatMap(scalaFiles)
    else if (f.getName.endsWith(".scala")) Seq(f) else Nil

  test("only the factory builds sessions") {
    val call = "SparkSession" + ".builder"
    val sites = Seq("src/main/scala", "src/test/scala")
      .flatMap(d => scalaFiles(new File(d)))
      .filter(f => Files.readString(f.toPath).contains(call))
      .map(_.getPath)
    assert(sites === Seq("src/main/scala/graft/core/SessionFactory.scala"))
  }

  // overlapped driver actions share one pool, so none can block on a
  // task queued behind it in another
  test("only core.Overlap starts a thread pool") {
    val sites = scalaFiles(new File("src/main/scala"))
      .filter(f => "Executors\\.new\\w*ThreadPool".r
        .findFirstIn(Files.readString(f.toPath)).nonEmpty)
      .map(_.getPath)
    assert(sites === Seq("src/main/scala/graft/core/Overlap.scala"))
  }

  // a runtime conf is set in the factory (or on a SessionFactory.child);
  // only tool mains configure the session they built
  test("library code sets no session conf and reads no tuning knob") {
    val main = new File("src/main/scala/graft")
    val sources = scalaFiles(main).map(f =>
      main.toPath.relativize(f.toPath).toString -> Files.readString(f.toPath))
    val setters = sources.collect {
      case (f, src) if "conf\\.(set|unset)\\(".r.findFirstIn(src).nonEmpty => f
    }.toSet
    val allowed = Set("core/SessionFactory.scala", "Explain.scala",
      "GenScale.scala", "ShuffleAudit.scala", "tools/StreamOverhead.scala")
    assert(setters.subsetOf(allowed), setters -- allowed)
    val keys = sources.flatMap { case (_, src) =>
      "\"spark\\.graft\\.[A-Za-z0-9_.]*".r.findAllIn(src).map(_.drop(1))
    }.toSet
    assert(keys === Set("spark.graft.dv.checkCardinality",
      "spark.graft.explain.noCheckpoint"))
  }

  // with no libhadoop, Hadoop's stock local filesystem forks a chmod per
  // mkdir and file create and two readlinks per checkpoint rename
  test("local table writes, a stream drain and Delta DML start no process") {
    import graft.ingest.{DeltaLakeDml, ParquetTableIO}
    import org.apache.spark.sql.types.{LongType, StringType}
    def dir(p: String) = Files.createTempDirectory(p).toString
    val started = Seq.newBuilder[(String, Seq[ForkLog.Start])]
    // a session an earlier test dropped forks `rm -rf` of its artifact
    // directory once the GC reaches it: collect such sessions and let
    // their cleanup run before each op is recorded, not during it
    def noProcess(what: String)(op: => Unit): Unit = {
      System.gc(); Thread.sleep(300)
      started += what -> ForkLog.during(op)
    }
    val io = new ParquetTableIO(dir("graft_fork_t"))
    val rows = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    noProcess("ParquetTableIO.append")(io.append(rows, "t"))
    noProcess("ParquetTableIO.overwrite")(io.overwrite(rows, "t"))

    val csv = dir("graft_fork_csv")
    Files.writeString(new File(csv, "a.csv").toPath, "k,v\n1,a\n2,b\n")
    noProcess("StreamIngest.ingestCsv")(graft.stream.StreamIngest.ingestCsv(
      spark, csv, dir("graft_fork_ck"), new ParquetTableIO(dir("graft_fork_s")),
      "s", "id", Seq("k"),
      Some(new StructType().add("k", LongType).add("v", StringType))))

    val t = dir("graft_fork_delta")
    noProcess("DeltaLakeWrite.append")(DeltaLakeWrite.append(rows, t,
      tableConfig = Map("delta.enableChangeDataFeed" -> "true")))
    noProcess("DeltaLakeDml.delete")(DeltaLakeDml.delete(spark, t, "id = 2"))
    noProcess("DeltaLakeDml.upsert")(DeltaLakeDml.upsert(spark, t,
      Seq((1L, "A"), (9L, "n")).toDF("id", "v"), Seq("id")))
    assert(DeltaLakeRead.snapshot(spark, t).as[(Long, String)].collect()
      .toSet === Set((1L, "A"), (3L, "c"), (9L, "n")))
    val forked = started.result().collect { case (what, s) if s.nonEmpty =>
      s"$what started ${s.size}, first ${s.head.command} at " +
        s.head.stack.take(12).mkString(" < ")
    }
    if (forked.nonEmpty) fail(forked.mkString("\n"))
  }

  // each op runs on a fresh session of the suite's context, so a conf
  // an earlier suite left behind cannot hide a write. Pins: an RDD an
  // op leaves persisted must be one the frame it returned reads (its
  // plan's RDDs and their lineage), and that frame must still read; an
  // op that returns no frame, or throws, leaves none
  test("library ops leave the session's confs and cache as they found them") {
    import graft.ingest.{DeltaLakeDml, ParquetTableIO, VersionedTableIO}
    import org.apache.spark.rdd.RDD
    import org.apache.spark.sql.Dataset
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.types._
    val s = spark.newSession()
    import s.implicits._
    def unchanged[T](what: String)(op: => T): T = {
      val (confs, cached) = (s.conf.getAll, CacheProbe.entries(s))
      val out = op
      assert(s.conf.getAll === confs, what)
      assert(CacheProbe.entries(s) === cached, what)
      out
    }
    def lineage(r: RDD[_]): Seq[Int] =
      r.id +: r.dependencies.flatMap(d => lineage(d.rdd))
    def persisted = s.sparkContext.getPersistentRDDs.keySet.toSet
    def owned(what: String, throws: Boolean = false)(op: => Any): Unit = {
      val before = persisted
      val out = unchanged(what)(scala.util.Try(op))
      assert(out.isFailure === throws, s"$what: $out")
      val reads = out.toOption.collect { case df: Dataset[_] =>
        df.queryExecution.analyzed.collectLeaves()
          .collect { case r: LogicalRDD => lineage(r.rdd) }.flatten
      }.toSeq.flatten.toSet
      val left = persisted -- before -- reads
      assert(left.isEmpty, s"$what left RDDs ${left.toSeq.sorted} persisted")
      out.foreach { case df: Dataset[_] => df.collect(); case _ => }
    }
    def dir(p: String) = Files.createTempDirectory(p).toString

    val csv = dir("graft_inv_csv")
    Files.writeString(new File(csv, "a.csv").toPath, "k,v\n1,a\n2,b\n")
    owned("StreamIngest.ingestCsv")(graft.stream.StreamIngest.ingestCsv(
      s, csv, dir("graft_inv_ck"), new ParquetTableIO(dir("graft_inv_t")),
      "t", "id", Seq("k"),
      Some(new StructType().add("k", LongType).add("v", StringType))))

    val events = dir("graft_inv_ev")
    val evSchema = new StructType().add("event_id", LongType)
      .add("ts", TimestampType).add("user_id", LongType)
      .add("event_type", StringType)
    s.createDataFrame(s.sparkContext.parallelize(Seq(
      Row(1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 7L, "view"),
      Row(2L, java.sql.Timestamp.valueOf("2024-01-01 10:10:00"), 7L,
        "purchase"))), evSchema).write.mode("overwrite").parquet(events)
    owned("StreamJoins.runViewPurchase")(assert(
      graft.stream.StreamJoins.runViewPurchase(s, events, evSchema,
        "inv_ssj", statePartitions = Some(2)).count() === 1L))

    val delta = dir("graft_inv_delta")
    val log = new File(delta, "_delta_log"); log.mkdirs()
    def field(n: String, dt: DataType, id: Long) = StructField(n, dt,
      nullable = true, new MetadataBuilder()
        .putString("delta.columnMapping.physicalName", s"col-$id")
        .putLong("delta.columnMapping.id", id).build())
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val schemaStr = om.writeValueAsString(StructType(Seq(
      field("id", LongType, 1L), field("v", StringType, 2L))).json)
    Files.writeString(new File(log, "00000000000000000000.json").toPath,
      Seq("""{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
        s"""{"metaData":{"id":"inv","format":{"provider":"parquet","options":{}},"schemaString":$schemaStr,"partitionColumns":[],"configuration":{"delta.columnMapping.mode":"id"}}}""")
        .mkString("\n"))
    owned("id-mode DeltaLakeWrite.append")(DeltaLakeWrite.append(
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), delta))
    owned("id-mode DeltaLakeDml.delete")(
      DeltaLakeDml.delete(s, delta, "id = 1"))
    assert(DeltaLakeRead.snapshot(s, delta).count() === 1L)

    // an identity column allocates through a cached RDD
    val ident = dir("graft_inv_ident")
    val identLog = new File(ident, "_delta_log"); identLog.mkdirs()
    val identSchema = om.writeValueAsString(StructType(Seq(
      StructField("rid", LongType, nullable = true, new MetadataBuilder()
        .putLong("delta.identity.start", 1L).build()),
      StructField("v", StringType))).json)
    Files.writeString(new File(identLog, "00000000000000000000.json").toPath,
      Seq("""{"protocol":{"minReaderVersion":1,"minWriterVersion":6}}""",
        s"""{"metaData":{"id":"ident","format":{"provider":"parquet","options":{}},"schemaString":$identSchema,"partitionColumns":[],"configuration":{}}}""")
        .mkString("\n"))
    owned("identity-column DeltaLakeWrite.append")(DeltaLakeWrite.append(
      Seq("a", "b", "c").toDF("v"), ident))
    assert(DeltaLakeRead.snapshot(s, ident).select("rid").as[Long]
      .collect().sorted.toSeq === Seq(1L, 2L, 3L))

    // DML pins its matched rows per attempt: the blocks go on every path
    val cdf = dir("graft_inv_cdf")
    DeltaLakeWrite.append(Seq((1L, "a"), (2L, "b"), (2L, "b2"), (3L, "c"))
      .toDF("id", "v"), cdf,
      tableConfig = Map("delta.enableChangeDataFeed" -> "true"))
    owned("CDF DeltaLakeDml.upsert on a duplicated target key")(
      assert(DeltaLakeDml.upsert(s, cdf, Seq((2L, "U"), (9L, "N"))
        .toDF("id", "v"), Seq("id")).rowsDeleted === 2L))
    owned("DeltaLakeDml.update")(assert(DeltaLakeDml.update(s, cdf,
      "id = 1", Map("v" -> "'x'")).rowsInserted === 1L))
    owned("DeltaLakeDml.upsert failing its duplicate-key check",
        throws = true)(DeltaLakeDml.upsert(s, cdf,
      Seq((5L, "a"), (5L, "b")).toDF("id", "v"), Seq("id")))
    assert(DeltaLakeRead.snapshot(s, cdf).count() === 5L)

    owned("VersionedTableIO.append")(new VersionedTableIO(
      dir("graft_inv_v")).append(Seq((1L, "a")).toDF("id", "v"), "t"))

    owned("Tables.load events")(
      graft.core.Tables.load(s, SparkTestSession.sfDir, "events").count())
    owned("Tables.registerAll")(
      graft.core.Tables.registerAll(s, SparkTestSession.sfDir))

    // StreamDedup: two eager checkpoints per micro-batch
    {
      val p = graft.scale.Dedup.MinHashParams(k = 16, bands = 8, shingle = 2)
      val io = new VersionedTableIO(dir("graft_inv_sd"))
      val corpus = Seq((1L, "alpha beta gamma delta epsilon zeta eta"))
        .toDF("doc_id", "text")
      io.append(graft.scale.Dedup.signatureIndex(corpus, "doc_id", "text", p),
        "sig_index")
      val src = dir("graft_inv_sd_src")
      Seq((2L, "alpha beta gamma delta epsilon zeta eta"),
        (3L, "an entirely different text about something else"))
        .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(src)
      owned("StreamDedup.run")(graft.stream.StreamDedup.run(s, src,
        dir("graft_inv_sd_ck"), io, "sig_index", "marks", "doc_id", "text",
        0.5, p, corpus.schema))
      assert(io.read(s, "marks").count() === 2L)
    }

    val docs = Seq((1L, "the cat sat on the mat", "en"),
      (2L, "der hund lief schnell", "de")).toDF("doc_id", "text", "lang")
    owned("DatasetCard.card")(graft.scale.DatasetCard.card(
      docs, "doc_id", "text", "lang"))
    owned("Bpe.train")(graft.scale.Bpe.train(docs, "text", 3))

    import graft.scale.{Bpe, Clusters, Curation, Dedup, Selection, TextStats}
    import org.apache.spark.sql.functions.{col, length, size, split}
    // the distributed trainer: one cached layer per round, a truncating
    // checkpoint every 16th
    val words = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta " +
      "iota kappa lambda omicron sigma upsilon omega")).toDF("doc_id", "text")
    owned("distributed Bpe.train")(Bpe.train(words, "text", 18, 0L))
    owned("Bpe.train exhausting the corpus", throws = true)(
      Bpe.train(Seq((1L, "ab ab")).toDF("doc_id", "text"), "text", 2, 0L))
    owned("Bpe.vocabCoverage")(Bpe.vocabCoverage(docs, "text",
      Seq((1, "t", "h", "th", 2L)).toDF("step", "l", "r", "merged",
        "pair_count"), 1, topV = 4))
    owned("TextStats.tokenDrift")(
      TextStats.tokenDrift(docs, "text", col("doc_id") === 1L))

    // distributed label propagation: a checkpoint per round
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (7L, 8L))
      .toDF("a", "b")
    owned("distributed Clusters.connectedComponents")(
      Clusters.connectedComponents(chain, "a", "b", 25, None, 0L))
    owned("Clusters.connectedComponents not converging", throws = true)(
      Clusters.connectedComponents(chain, "a", "b", 1, None, 0L))

    val scored = docs.withColumn("s", length($"text").cast("double"))
      .withColumn("n", size(split($"text", " ")))
    owned("Selection.budgetSelect")(Selection.budgetSelect(
      scored, "doc_id", "s", "n", 0.5))
    owned("Selection.budgetSelectBy")(Selection.budgetSelectBy(
      scored, "lang", "doc_id", "s", "n", 0.5))
    owned("Selection.curriculumOrder")(Selection.curriculumOrder(
      scored, "doc_id", "s", 2))
    owned("Selection.packSequencesBy")(Selection.packSequencesBy(
      scored, "doc_id", Nil, "n", 4L))
    owned("Curation.curateV3")(Curation.curateV3(docs, "doc_id", "text"))
    owned("Dedup.guardRecallPairs")(
      Dedup.guardRecallPairs(docs, "doc_id", "text", 0.5))

    // near-dup detection and the curation pipelines over a corpus with
    // planted copies
    val rnd = new scala.util.Random(11)
    val vocab = (1 to 40).map(i => s"w${('a' + i % 26).toChar}$i")
    val texts = (0 until 24).map(_ =>
      Seq.fill(30)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    val corpus = (0 until 32).map(i =>
      (i.toLong, texts(i % 24), if (i % 2 == 0) "en" else "de"))
      .toDF("doc_id", "text", "lang")
    val mh = Dedup.MinHashParams(k = 32, bands = 8, shingle = 2,
      reproducible = true)
    owned("Dedup.nearDuplicates")(
      Dedup.nearDuplicates(corpus, "doc_id", "text", 0.5, mh, Some(1000)))
    owned("Dedup.nearDuplicatesReleasable, released") {
      val (pairs, release) = Dedup.nearDuplicatesReleasable(
        corpus, "doc_id", "text", 0.5, mh, Some(1000))
      assert(pairs.count() >= 8L)
      release()
    }
    owned("Curation.curate")(Curation.curate(corpus, "doc_id", "text",
      0.0, 0.5, mh, Some(1000)))
    val emb = (0 until 32).map(i =>
      (i.toLong, Seq.fill(4)(rnd.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding")
    owned("Curation.curateV2")(Curation.curateV2(
      corpus = corpus.filter($"doc_id" % 8 =!= 0),
      bench = corpus.filter($"doc_id" % 8 === 0), embeddings = emb,
      idCol = "doc_id", textCol = "text", langCol = "lang",
      minQuality = 0.0, minJaccard = 0.5, p = mh,
      semK = 2, semIters = 2, semMinCosine = 0.9, semMaxNeighbors = 8,
      unitTokens = 3, decontamN = 5, tau = 0.7, budgetDocs = 20L,
      packBudget = 256L, packShards = 2, maxBucket = Some(1000)))
  }

  // cache lifetimes have one owner: core.Ckpt (and the checkpoint
  // release in PlanBridge)
  test("only core.Ckpt pins or releases a cache or checkpoint") {
    val main = new File("src/main/scala")
    val pinning = "\\.persist\\(|\\.cache\\(\\)|\\.unpersist\\(|" +
      "\\.localCheckpoint\\(|unpersistRDD"
    val sites = scalaFiles(main)
      .filter(f => pinning.r.findFirstIn(Files.readString(f.toPath)).nonEmpty)
      .map(f => main.toPath.relativize(f.toPath).toString).sorted
    assert(sites === Seq("graft/core/Ckpt.scala",
      "org/apache/spark/sql/graft/PlanBridge.scala"))
  }

  // a child runs under its caller's runtime confs as they are at each
  // call, and repeated calls reuse one child rather than add sessions
  test("a child session mirrors its caller's confs and is reused") {
    import graft.core.SessionFactory
    val s = spark.newSession()
    val width = Map("spark.sql.shuffle.partitions" -> "2")
    val c = SessionFactory.child(s, width)
    assert(c ne s)
    assert(c.conf.get("spark.sql.shuffle.partitions") === "2")
    assert(s.conf.get("spark.sql.shuffle.partitions") === "4")
    s.conf.set("spark.sql.files.maxPartitionBytes", "1m")
    s.conf.set("spark.graft.dv.checkCardinality", "true")
    assert(SessionFactory.child(s, width) eq c)
    assert(c.conf.get("spark.sql.files.maxPartitionBytes") === "1m")
    assert(c.conf.get("spark.graft.dv.checkCardinality") === "true")
    s.conf.unset("spark.graft.dv.checkCardinality")
    SessionFactory.child(s, width)
    assert(c.conf.getOption("spark.graft.dv.checkCardinality").isEmpty)
    assert(c.conf.get("spark.sql.streaming.minBatchesToRetain") === "2")
    assert(SessionFactory.child(s, Map.empty) ne c)
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

  test("a data file deleted before snapshot() fails the read, not the " +
      "planning") {
    val (t, files) = fourFileTable()
    files.head.delete()
    val snap = DeltaLakeRead.snapshot(spark, t)
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
