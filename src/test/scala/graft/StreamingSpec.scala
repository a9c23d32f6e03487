package graft

import graft.core.Tables
import graft.ingest.ParquetTableIO
import graft.stream.{StreamIngest, WindowedAggs}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(p: String) = Files.createTempDirectory(p).toString

  test("streaming tumbling agg equals the batch plan on bounded input") {
    val ev = Tables.load(spark, SparkTestSession.sfDir, "events")
    val dir = tmp("ev")
    ev.write.mode("overwrite").parquet(dir)
    val streamed = WindowedAggs.runStreaming(spark, dir, ev.schema,
      "ts", "1 hour", "spec_tumbling")(WindowedAggs.tumbling(_, "6 hours"))
      .orderBy("window_start", "event_type").collect().toSeq
    val batch = WindowedAggs.tumbling(ev, "6 hours")
      .orderBy("window_start", "event_type").collect().toSeq
    assert(streamed === batch)
  }

  test("session windows merge events within gap, split beyond it") {
    val df = Seq(
      (1L, "2024-01-01 00:00:00"), (1L, "2024-01-01 00:30:00"),
      (1L, "2024-01-01 03:00:00"), (2L, "2024-01-01 00:00:00"))
      .toDF("user_id", "s")
      .select(col("user_id"), col("s").cast("timestamp").as("ts"),
        lit(1.0).as("value"))
    val out = WindowedAggs.session(df, "2 hours")
      .orderBy("user_id", "session_start").collect()
    assert(out.length === 3)
    assert(out(0).getAs[Long]("n") === 2L) // first two merged
  }

  test("stateful first-seen dedup emits one row per key (min ts)") {
    val dir = tmp("stateful")
    Seq(
      (1L, "2024-01-01 10:00:00", 5.0), (1L, "2024-01-01 09:00:00", 3.0),
      (2L, "2024-01-01 11:00:00", 7.0))
      .toDF("key", "s", "value")
      .select(col("key"), col("s").cast("timestamp").as("ts"), col("value"))
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val got = graft.stream.StatefulOps.runFirstSeen(spark, dir, "spec_stateful")
      .orderBy("key").collect()
    assert(got.length === 2)
    assert(got(0).getAs[Double]("value") === 3.0) // min-ts row for key 1
  }

  test("exactly-once ingest: second run with no new files is a no-op; new file appends once") {
    val src = tmp("csv_src"); val ck = tmp("ck"); val tbl = tmp("tbl")
    val io = new ParquetTableIO(tbl)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.StringType)))

    Files.writeString(java.nio.file.Paths.get(s"$src/f1.csv"), "k,v\n1,a\n2,b\n")
    StreamIngest.ingestCsv(spark, src, ck, io, "t", "id", Seq("k"),
      schema = Some(schema))
    assert(io.read(spark, "t").count() === 2)

    // rerun: checkpoint remembers f1 → no duplicates
    StreamIngest.ingestCsv(spark, src, ck, io, "t", "id", Seq("k"),
      schema = Some(schema))
    assert(io.read(spark, "t").count() === 2)

    // new file: only its rows appended, ids continue from max
    Files.writeString(java.nio.file.Paths.get(s"$src/f2.csv"), "k,v\n3,c\n")
    StreamIngest.ingestCsv(spark, src, ck, io, "t", "id", Seq("k"),
      schema = Some(schema))
    val got = io.read(spark, "t").orderBy("id")
      .select("id", "k").as[(Long, Long)].collect().toSeq
    assert(got === Seq((1L, 1L), (2L, 2L), (3L, 3L)))
  }

  test("schema-less ingest infers the CSV schema without touching the " +
      "session's streaming schemaInference conf") {
    val src = tmp("csv_infer"); val ck = tmp("ck_infer")
    val io = new ParquetTableIO(tmp("tbl_infer"))
    Files.writeString(java.nio.file.Paths.get(s"$src/f1.csv"),
      "k,v\n2,b\n1,a\n")
    val key = "spark.sql.streaming.schemaInference"
    val saved = spark.conf.getOption(key)
    // a value schema-less streaming reads would refuse: ingest must not
    // depend on it, nor change it
    spark.conf.set(key, "false")
    try {
      StreamIngest.ingestCsv(spark, src, ck, io, "t", "id", Seq("k"))
      assert(spark.conf.getOption(key) === Some("false"))
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    val t = io.read(spark, "t")
    // CSV inference without inferSchema: every column a string
    assert(t.schema.map(f => f.name -> f.dataType) === Seq(
      "id" -> org.apache.spark.sql.types.LongType,
      "k" -> org.apache.spark.sql.types.StringType,
      "v" -> org.apache.spark.sql.types.StringType))
    assert(t.orderBy("id").as[(Long, String, String)].collect().toSeq ===
      Seq((1L, "1", "a"), (2L, "2", "b")))
  }

  test("streaming CDC apply: later batch overrides earlier; deletes drop keys; restart is a no-op") {
    val src = tmp("cdc_src"); val ck = tmp("cdc_ck"); val tbl = tmp("cdc_tbl")
    val io = new ParquetTableIO(tbl)
    val mk = (rows: Seq[(Long, String, String, Int)]) =>
      rows.toDF("k", "v", "op", "seq")
    io.overwrite(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), "t")
    val schema = mk(Seq((0L, "", "", 0))).schema

    // batch 1: update k=1 (two changes, seq decides), delete k=2
    mk(Seq((1L, "a1", "U", 1), (1L, "a2", "U", 2), (2L, "b", "D", 1)))
      .coalesce(1).write.mode("overwrite").parquet(src)
    StreamIngest.ingestCdc(spark, src, ck, io, "t",
      Seq("k"), "op", "seq", schema)
    assert(io.read(spark, "t").orderBy("k").as[(Long, String)]
      .collect().toSeq === Seq((1L, "a2"), (3L, "c")))

    // restart with no new files: checkpoint makes it a no-op
    StreamIngest.ingestCdc(spark, src, ck, io, "t",
      Seq("k"), "op", "seq", schema)
    assert(io.read(spark, "t").count() === 2)

    // batch 2 (new file): insert k=4, re-insert previously deleted k=2.
    // seq continues past batch 1's values — the documented global-seq
    // precondition (equal seqs across files have no defined order)
    mk(Seq((4L, "d", "I", 3), (2L, "b2", "I", 3)))
      .coalesce(1).write.mode("append").parquet(src)
    StreamIngest.ingestCdc(spark, src, ck, io, "t",
      Seq("k"), "op", "seq", schema)
    assert(io.read(spark, "t").orderBy("k").as[(Long, String)]
      .collect().toSeq ===
      Seq((1L, "a2"), (2L, "b2"), (3L, "c"), (4L, "d")))
  }

  test("DV CDC apply: one DV-merge commit per non-empty batch (no " +
      "rewrite); in-batch latest-wins by seq; a FRESH-checkpoint full " +
      "replay converges to identical content") {
    import java.nio.file.{Paths, StandardCopyOption}
    val src = tmp("dvcdc_src")
    val mk = (rows: Seq[(Long, Long, Long)]) => rows.toDF("k", "v", "seq")
    val b0 = mk((0L until 100L).map(k => (k, k, 0L)))
    // seq 1: +1000 on k%10==0; seq 2: v=7 on k<5 — k=0 collides, seq 2
    // must win inside the single micro-batch
    val b1 = mk((0L until 100L).filter(_ % 10 == 0).map(k => (k, k + 1000L, 1L)) ++
      (0L until 5L).map(k => (k, 7L, 2L)))
    val t0 = System.currentTimeMillis() - 600000L
    Seq(b0, b1).zipWithIndex.foreach { case (df, i) =>
      val stage = tmp(s"dvcdc_b$i")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = Paths.get(src, s"b$i.parquet")
      java.nio.file.Files.move(part.toPath, dst,
        StandardCopyOption.REPLACE_EXISTING)
      dst.toFile.setLastModified(t0 + i * 120000L)
    }
    def drain(): (String, Seq[(Long, Long)]) = {
      val t = s"${tmp("dvcdc_tbl")}/t"
      graft.stream.StreamCdcApply.run(spark, src, tmp("dvcdc_ck"), t,
        keys = Seq("k"), seqCol = "seq", schema = b0.schema,
        maxFilesPerTrigger = Some(1))
      (t, graft.ingest.DeltaLakeRead.snapshot(spark, t).orderBy("k")
        .as[(Long, Long)].collect().toSeq)
    }
    val (t1, got) = drain()
    val expect = (0L until 100L).map { k =>
      if (k < 5) (k, 7L)
      else if (k % 10 == 0) (k, k + 1000L)
      else (k, k)
    }
    assert(got === expect)
    // one commit per batch: v0 append + v1 DV-merge; v0's files are all
    // carried into v1, the 14 changed keys masked by their DVs
    import graft.ingest.DeltaLakeRead
    assert(DeltaLakeRead.latestVersion(t1) == 1L)
    val (v0, v1) = (DeltaLakeRead.state(spark, t1, Some(0L)),
      DeltaLakeRead.state(spark, t1, Some(1L)))
    val carried = v1.files.filter(f => v0.files.exists(_.path == f.path))
    assert(carried.size == v0.files.size)
    assert(carried.flatMap(_.dv).map(_.cardinality).sum == 14L)
    // full replay into a FRESH table+checkpoint: identical content
    assert(drain()._2 === expect)
  }

  test("incremental gold: partial-merge over two batches equals the batch aggregate") {
    val src = tmp("gold_src"); val ck = tmp("gold_ck")
    val io = new ParquetTableIO(tmp("gold_tbl"))
    val mk = (rows: Seq[(String, Double)]) => rows.toDF("k", "v")
    val schema = mk(Seq(("", 0.0))).schema
    def drain(): Unit =
      graft.stream.IncrementalGold.run(spark, src, schema, ck, io, "g",
        Seq("k")) { b =>
        b.groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("total"))
      }

    mk(Seq(("a", 1.0), ("a", 2.0), ("b", 10.0)))
      .coalesce(1).write.mode("overwrite").parquet(src)
    drain()
    // second batch touches an existing key and adds a new one
    mk(Seq(("a", 4.0), ("c", 7.0)))
      .coalesce(1).write.mode("append").parquet(src)
    drain()
    val got = graft.stream.IncrementalGold.read(spark, io, "g").orderBy("k")
      .as[(String, Long, Double)].collect().toSeq
    assert(got === Seq(("a", 3L, 7.0), ("b", 1L, 10.0), ("c", 1L, 7.0)))

    // at-least-once replay guard: re-running from the SAME checkpoint
    // replays nothing new and the table is unchanged
    drain()
    assert(graft.stream.IncrementalGold.read(spark, io, "g").orderBy("k")
      .as[(String, Long, Double)].collect().toSeq === got)

    // checkpoint-reset guard: losing the checkpoint but keeping the
    // table restarts batch ids at 0 — silently skipping them would
    // leave the table permanently stale, so the run must fail fast
    // (and leave the table intact)
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      graft.stream.IncrementalGold.run(spark, src, schema, tmp("gold_ck2"),
        io, "g", Seq("k")) { b =>
        b.groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("total"))
      }
    }
    assert(ex.getMessage.contains("not comparable across checkpoint lineages"))
    assert(graft.stream.IncrementalGold.read(spark, io, "g").orderBy("k")
      .as[(String, Long, Double)].collect().toSeq === got)
  }

  test("incremental gold: maxFilesPerTrigger chunks one drain into many batches, same result") {
    val src = tmp("gold_mft_src")
    val io = new ParquetTableIO(tmp("gold_mft_tbl"))
    val mk = (rows: Seq[(String, Double)]) => rows.toDF("k", "v")
    val schema = mk(Seq(("", 0.0))).schema
    mk(Seq(("a", 1.0), ("b", 2.0))).coalesce(1)
      .write.mode("overwrite").parquet(src)
    mk(Seq(("a", 4.0), ("c", 8.0))).coalesce(1)
      .write.mode("append").parquet(src)
    // one drain, forced into one-file micro-batches
    graft.stream.IncrementalGold.run(spark, src, schema, tmp("gold_mft_ck"),
      io, "g", Seq("k"), maxFilesPerTrigger = Some(1)) { b =>
      b.groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("total"))
    }
    assert(graft.stream.IncrementalGold.read(spark, io, "g").orderBy("k")
      .as[(String, Long, Double)].collect().toSeq ===
      Seq(("a", 2L, 5.0), ("b", 1L, 2.0), ("c", 1L, 8.0)))
  }

  test("change-feed gold: versioned-table commits stream into the view; " +
    "each drain equals direct re-aggregation") {
    val io = new graft.ingest.VersionedTableIO(tmp("cfg_root"))
    val goldIo = new ParquetTableIO(tmp("cfg_gold"))
    val ck = tmp("cfg_ck")
    def drain(): Unit = graft.stream.ChangeFeedGold.run(
      spark, io, "t", keys = Seq("k"),
      groupExpr = col("grp"), groupName = "grp", valueCols = Seq("v"),
      checkpointDir = ck, goldIo = goldIo, goldTable = "g")
    def gold(): Seq[(String, Long, Double)] =
      graft.stream.ChangeFeedGold.read(spark, goldIo, "g")
        .orderBy("grp").as[(String, Long, Double)].collect().toSeq
    def direct(): Seq[(String, Long, Double)] =
      io.read(spark, "t").groupBy("grp")
        .agg(count(lit(1)).as("n"), sum("v").as("v_sum"))
        .orderBy("grp").as[(String, Long, Double)].collect().toSeq

    // commit 1+2, then drain the backlog
    io.overwrite(Seq((1L, "x", 10.0), (2L, "x", 20.0), (3L, "y", 5.0))
      .toDF("k", "grp", "v"), "t")
    io.upsert(spark, Seq((2L, "x", 25.0), (4L, "z", 1.0))
      .toDF("k", "grp", "v"), "t", keys = Seq("k"))
    drain()
    assert(gold() === direct())

    // two MORE commits after the first drain: an upsert that moves a
    // row across groups and a delete that empties group z entirely
    io.upsert(spark, Seq((3L, "x", 6.0)).toDF("k", "grp", "v"), "t",
      keys = Seq("k"))
    io.deleteWhere(spark, "t", col("k") === 4L)
    drain()
    assert(gold() === direct())
    assert(!gold().exists(_._1 == "z")) // emptied group vanished

    // replay guard: nothing new, gold unchanged
    val before = gold()
    drain()
    assert(gold() === before)
  }

  test("streaming index dedup: later batches catch dups of earlier kept " +
      "docs; re-drain appends nothing; late file dedups against all") {
    import graft.ingest.VersionedTableIO
    import graft.scale.Dedup
    val p = Dedup.MinHashParams(k = 64, bands = 32, shingle = 2)
    val srcDir = Files.createTempDirectory("sd_src").toString
    val ckDir = Files.createTempDirectory("sd_ck").toString
    val io = new VersionedTableIO(Files.createTempDirectory("sd_tbl").toString)
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    io.append(Dedup.signatureIndex(corpus, "doc_id", "text", p), "sig_index")
    val t0 = System.currentTimeMillis() - 600000L
    def addFile(name: String, mtime: Long,
        rows: Seq[(Long, String)]): Unit = {
      val stage = Files.createTempDirectory("sd_stage").toString
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = java.nio.file.Paths.get(srcDir, name)
      java.nio.file.Files.move(part.toPath, dst)
      dst.toFile.setLastModified(mtime)
    }
    addFile("b1.parquet", t0, Seq(
      (100L, "totally novel content about catalyst optimizer rules here"),
      (101L, "alpha beta gamma delta epsilon zeta eta theta iota kappa")))
    addFile("b2.parquet", t0 + 120000L, Seq(
      (200L, "totally novel content about catalyst optimizer rules here")))
    val schema = corpus.schema
    def drain(): Unit = graft.stream.StreamDedup.run(spark, srcDir, ckDir,
      io, "sig_index", "marks", "doc_id", "text", 0.5, p, schema,
      maxFilesPerTrigger = Some(1))
    drain()
    def marks() = io.read(spark, "marks")
      .collect().map(r => r.getLong(0) -> (r.get(1), r.getInt(2))).toMap
    val m1 = marks()
    assert(m1(101L) === ((1L, 0))) // corpus dup dropped
    assert(m1(100L) === ((null, 1))) // novel → kept, sig indexed
    assert(m1(200L) === ((100L, 0))) // caught by batch-1 KEPT doc
    // re-drain with no new files: exactly-once, nothing re-appended
    drain()
    assert(marks() === m1 && io.read(spark, "marks").count() === 3)
    // a late third file dedups against corpus + every kept generation
    addFile("b3.parquet", t0 + 240000L, Seq(
      (300L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (301L, "fresh words never seen in any batch or corpus document")))
    drain()
    val m3 = marks()
    assert(m3(300L) === ((1L, 0)) && m3(301L) === ((null, 1)))
    assert(m3.size === 5)
  }

  test("streaming clusters: batches fold into the labels table; a full " +
      "replay is the identity (idempotent-by-algebra); late pairs merge " +
      "existing components") {
    import graft.ingest.VersionedTableIO
    val srcDir = Files.createTempDirectory("sc_src").toString
    val io = new VersionedTableIO(Files.createTempDirectory("sc_tbl").toString)
    val t0 = System.currentTimeMillis() - 600000L
    def addFile(name: String, mtime: Long, rows: Seq[(Long, Long)]): Unit = {
      val stage = Files.createTempDirectory("sc_stage").toString
      rows.toDF("id_a", "id_b").coalesce(1)
        .write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = java.nio.file.Paths.get(srcDir, name)
      java.nio.file.Files.move(part.toPath, dst)
      dst.toFile.setLastModified(mtime)
    }
    addFile("b1.parquet", t0, Seq((1L, 2L), (5L, 6L)))
    addFile("b2.parquet", t0 + 120000L, Seq((2L, 6L))) // merges the two
    val schema = Seq((0L, 0L)).toDF("id_a", "id_b").schema
    def drain(ck: String): Unit = graft.stream.StreamClusters.run(
      spark, srcDir, ck, io, "labels", schema, maxFilesPerTrigger = Some(1))
    def labels() = io.read(spark, "labels")
      .as[(Long, Long)].collect().toMap
    drain(Files.createTempDirectory("sc_ck1").toString)
    val l1 = labels()
    assert(l1 === Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 6L -> 1L))
    // FULL replay from a fresh checkpoint: the fold maps every endpoint
    // to its already-merged label → contracted self-loops → identity
    val vBefore = io.versions("labels").size
    drain(Files.createTempDirectory("sc_ck2").toString)
    assert(labels() === l1)
    assert(io.versions("labels").size > vBefore) // replay committed, same content
    // a late batch with a smaller id reroots the merged component
    addFile("b3.parquet", t0 + 240000L, Seq((0L, 6L)))
    drain(Files.createTempDirectory("sc_ck3").toString)
    assert(labels() === Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 5L -> 0L,
      6L -> 0L))
  }

  test("stream drift: maintained counts are exactly-once under " +
      "re-drain and equal the batch fold") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import graft.scale.TextStats
    val docs = Seq((0L, "alpha beta alpha"), (1L, "beta gamma"),
      (2L, "alpha gamma gamma"), (3L, "beta beta"))
      .toDF("doc_id", "text")
    val srcDir = Files.createTempDirectory("sd_src").toString
    val t0 = System.currentTimeMillis() - 600000L
    (0 to 1).foreach { r =>
      val stage = Files.createTempDirectory(s"sd_b$r").toString
      docs.filter(col("doc_id") % 2 === r)
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = Paths.get(srcDir, s"b$r.parquet")
      Files.move(part.toPath, dst, StandardCopyOption.REPLACE_EXISTING)
      dst.toFile.setLastModified(t0 + r * 120000L)
    }
    val io = new graft.ingest.VersionedTableIO(
      Files.createTempDirectory("sd_tbl").toString)
    val ck = Files.createTempDirectory("sd_ck").toString
    def drain(c: String) = graft.stream.StreamDrift.run(spark, srcDir, c,
      io, "counts", "text", col("doc_id") < 2, docs.schema,
      maxFilesPerTrigger = Some(1))
    drain(ck)
    val report = graft.stream.StreamDrift
      .report(spark, io, "counts", topK = 16)
      .collect().map(_.toSeq).toSeq
    // same-checkpoint re-drain: no new files, nothing double-counted
    drain(ck)
    assert(graft.stream.StreamDrift.report(spark, io, "counts", 16)
      .collect().map(_.toSeq).toSeq === report)
    // the maintained table equals the from-scratch scan bit-for-bit
    val scratch = TextStats.tokenDrift(docs, "text", col("doc_id") < 2,
      topK = 16).collect().map(_.toSeq).toSeq
    assert(report === scratch)
  }

  test("Delta appends stream: commit files drive micro-batches, " +
      "exactly-once across restarts, OPTIMIZE of consumed files is " +
      "benign, DML in the range fails loudly") {
    import graft.ingest.{DeltaLakeDml, DeltaLakeMaintain, DeltaLakeRead, DeltaLakeWrite, VersionedTableIO}
    val delta = tmp("das_delta"); val ck = tmp("das_ck")
    val io = new VersionedTableIO(tmp("das_root"))
    def sink(): Seq[Long] =
      io.read(spark, "t").select("id").as[Long].collect().sorted.toSeq
    DeltaLakeWrite.append((0L until 5L).map(i => (i, s"v$i"))
      .toDF("id", "v").repartition(1), delta)
    DeltaLakeWrite.append((5L until 10L).map(i => (i, s"v$i"))
      .toDF("id", "v").repartition(1), delta)
    graft.stream.StreamIngest.ingestDeltaAppends(
      spark, delta, ck, io, "t")
    assert(sink() === (0L until 10L).toSeq,
      "the first drain must deliver the whole backlog")
    // restart with nothing new: no duplicate rows
    graft.stream.StreamIngest.ingestDeltaAppends(
      spark, delta, ck, io, "t")
    assert(sink() === (0L until 10L).toSeq)
    // compaction of ALREADY-consumed commits is a logical no-op for
    // the stream; the next append still arrives
    DeltaLakeMaintain.compact(spark, delta)
    DeltaLakeWrite.append((10L until 12L).map(i => (i, s"v$i"))
      .toDF("id", "v").repartition(1), delta)
    graft.stream.StreamIngest.ingestDeltaAppends(
      spark, delta, ck, io, "t")
    assert(sink() === (0L until 12L).toSeq)
    // a DML commit in the unconsumed range is NOT representable as
    // appends — the stream must fail loudly, not deliver partial rows
    DeltaLakeDml.delete(spark, delta, "id = 3")
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      graft.stream.StreamIngest.ingestDeltaAppends(
        spark, delta, ck, io, "t")
    }
    assert(e.getCause.getMessage.contains("not a pure append"))
    assert(sink() === (0L until 12L).toSeq, "the failed drain must " +
      "not have half-applied anything")
    // schema/partition handling rides the snapshot machinery: a
    // partitioned delta table streams with partition columns restored
    val delta2 = tmp("das_delta2"); val ck2 = tmp("das_ck2")
    DeltaLakeWrite.append(
      Seq((1L, "en"), (2L, "de"), (3L, "en")).toDF("id", "lang")
        .repartition(1), delta2, partitionBy = Seq("lang"))
    val io2 = new VersionedTableIO(tmp("das_root2"))
    graft.stream.StreamIngest.ingestDeltaAppends(
      spark, delta2, ck2, io2, "t2")
    assert(io2.read(spark, "t2").select("id", "lang")
      .as[(Long, String)].collect().sorted.toSeq ===
      Seq((1L, "en"), (2L, "de"), (3L, "en")).sorted)
    // sanity: the delta source itself is untouched by all of this
    assert(DeltaLakeRead.snapshot(spark, delta).count() === 11L)
  }
}
