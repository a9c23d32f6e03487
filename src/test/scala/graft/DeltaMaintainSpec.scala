package graft

import graft.ingest.{DeltaLakeDml, DeltaLakeMaintain, DeltaLakeRead, DeltaLakeWrite}
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** [[DeltaLakeMaintain]] (compact/vacuum) + the incremental read
  * surface ([[DeltaLakeRead.appendsSince]], versionAtTimestamp) —
  * protocol-pinned round-trips through the engine's own reader. */
class DeltaMaintainSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def newTable(): String = {
    val d = Files.createTempDirectory("delta_maint").toFile
    d.deleteOnExit(); d.getPath
  }

  private def ids(t: String): Seq[Long] =
    DeltaLakeRead.snapshot(spark, t)
      .select("id").as[Long].collect().sorted.toSeq

  test("compact bin-packs small files and MATERIALIZES deletion " +
      "vectors away; content is bit-identical, dataChange stays false") {
    val t = newTable()
    (0 until 6).foreach { i =>
      DeltaLakeWrite.append(
        (i * 10 until (i + 1) * 10).map(j => (j.toLong, s"v$j"))
          .toDF("id", "v").repartition(1), t)
    }
    DeltaLakeDml.delete(spark, t, "id % 10 = 3")
    val before = DeltaLakeRead.state(spark, t)
    assert(before.files.size === 6)
    assert(before.files.exists(_.dv.isDefined))
    val want = ids(t)
    val r = DeltaLakeMaintain.compact(spark, t)
    assert(r.filesRemoved === 6)
    assert(r.filesWritten < 6)
    assert(r.dvRowsDropped === 6L)
    assert(ids(t) === want, "OPTIMIZE must not change logical content")
    val after = DeltaLakeRead.state(spark, t)
    assert(after.files.size === r.filesWritten)
    assert(after.files.forall(_.dv.isEmpty), "DVs must be materialized")
    // the protocol convention: a compaction commit is dataChange=false
    val commit = new String(Files.readAllBytes(new java.io.File(t,
      f"_delta_log/${r.version}%020d.json").toPath))
    assert(!commit.contains("\"dataChange\":true"))
    // idempotence: a table with one fresh big-enough... here all files
    // are tiny, but a second compact on a single clean file is a no-op
    val r2 = DeltaLakeMaintain.compact(spark, t)
    if (after.files.size == 1)
      assert(r2.version === r.version, "lone clean file must not rewrite")
  }

  test("compact respects hive partitions: rewritten rows stay in " +
      "their partition dirs, partitionValues intact") {
    val t = newTable()
    (0 until 4).foreach { i =>
      DeltaLakeWrite.append(
        Seq((i.toLong, if (i % 2 == 0) "en" else "de")).toDF("id", "lang")
          .repartition(1), t, partitionBy = Seq("lang"))
    }
    val want = DeltaLakeRead.snapshot(spark, t)
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    val r = DeltaLakeMaintain.compact(spark, t)
    assert(r.filesRemoved === 4)
    val st = DeltaLakeRead.state(spark, t)
    assert(st.files.forall(f =>
      f.partitionValues.get("lang").flatten.isDefined))
    assert(st.files.forall(f => f.path.contains("lang=")))
    assert(DeltaLakeRead.snapshot(spark, t)
      .as[(Long, String)].collect().sortBy(_._1).toSeq === want)
  }

  test("vacuum deletes tombstoned data files and orphaned DV bins " +
      "past retention, never live files or the log; dryRun only lists") {
    val t = newTable()
    (0 until 3).foreach { i =>
      DeltaLakeWrite.append(
        Seq((i * 2L, s"v$i"), (i * 2L + 1, s"w$i")).toDF("id", "v")
          .repartition(1), t)
    }
    DeltaLakeDml.delete(spark, t, "id = 2") // DV on one 2-row file
    DeltaLakeMaintain.compact(spark, t)     // tombstones all, new file
    val want = ids(t)
    Thread.sleep(20)
    val listed = DeltaLakeMaintain.vacuum(spark, t,
      retentionMs = Some(0L), dryRun = true)
    assert(listed.nonEmpty)
    assert(listed.exists(_.endsWith(".bin")),
      "the orphaned DV bin must be collected")
    // dryRun deleted nothing
    assert(listed.forall(p => new java.io.File(t, p).exists()))
    val deleted = DeltaLakeMaintain.vacuum(spark, t,
      retentionMs = Some(0L))
    assert(deleted.toSet === listed.toSet)
    assert(deleted.forall(p => !new java.io.File(t, p).exists()))
    assert(ids(t) === want, "current snapshot must survive vacuum")
    assert(new java.io.File(t, "_delta_log").isDirectory)
    // default retention keeps everything fresh
    val t2 = newTable()
    DeltaLakeWrite.append(Seq((1L, "a")).toDF("id", "v"), t2)
    DeltaLakeDml.delete(spark, t2, "id = 1")
    assert(DeltaLakeMaintain.vacuum(spark, t2).isEmpty,
      "week-default retention must keep fresh tombstones")
  }

  test("vacuum ages a SUPERSEDED deletion vector by its tombstone's " +
      "deletionTimestamp, not file mtime — pre-update time travel " +
      "survives the retention window") {
    val t = newTable()
    DeltaLakeWrite.append((0L until 10L).map(i => (i, s"v$i"))
      .toDF("id", "v").repartition(1), t)
    DeltaLakeDml.delete(spark, t, "id = 1") // v1: DV1
    def bins(): Set[java.io.File] = {
      def walk(d: java.io.File): Seq[java.io.File] =
        Option(d.listFiles()).getOrElse(Array.empty).toSeq.flatMap {
          case x if x.isDirectory && x.getName == "_delta_log" => Nil
          case x if x.isDirectory => walk(x)
          case f if f.getName.endsWith(".bin") => Seq(f)
          case _ => Nil
        }
      walk(new java.io.File(t)).toSet
    }
    val dv1 = bins()
    assert(dv1.size === 1)
    DeltaLakeDml.delete(spark, t, "id = 3") // v2: DV2 supersedes DV1
    assert(bins().size === 2)
    // a long-lived DV replaced JUST NOW: its mtime (= creation time)
    // is ancient, but the tombstone that retired it is fresh
    assert(dv1.head.setLastModified(
      System.currentTimeMillis() - 10L * 3600 * 1000))
    val listed = DeltaLakeMaintain.vacuum(spark, t,
      retentionMs = Some(3600 * 1000L), dryRun = true)
    assert(!listed.exists(_.endsWith(dv1.head.getName)),
      "the superseded DV is inside the tombstone retention window")
    DeltaLakeMaintain.vacuum(spark, t, retentionMs = Some(3600 * 1000L))
    // pre-update snapshot still resolves its DV
    assert(DeltaLakeRead.snapshot(spark, t, Some(1L))
      .select("id").as[Long].collect().sorted.toSeq ===
      (0L until 10L).filterNot(_ == 1L))
    // past retention it IS collected
    Thread.sleep(20)
    val gone = DeltaLakeMaintain.vacuum(spark, t, retentionMs = Some(0L))
    assert(gone.exists(_.endsWith(dv1.head.getName)))
    assert(ids(t) === (0L until 10L).filterNot(i => i == 1L || i == 3L))
  }

  test("appendsSince SKIPS dataChange=false compaction commits for " +
      "pre-range files, but is loud when compaction swallowed an " +
      "in-range append") {
    val t = newTable()
    DeltaLakeWrite.append((0L until 5L).map(i => (i, s"v$i"))
      .toDF("id", "v").repartition(1), t) // v0
    DeltaLakeWrite.append((5L until 10L).map(i => (i, s"v$i"))
      .toDF("id", "v").repartition(1), t) // v1
    val c = DeltaLakeMaintain.compact(spark, t) // v2, dataChange=false
    assert(c.version === 2L && c.filesRemoved === 2)
    DeltaLakeWrite.append((10L until 15L).map(i => (i, s"v$i"))
      .toDF("id", "v"), t) // v3
    // the OPTIMIZE commit is a logical no-op for an appends consumer
    assert(DeltaLakeRead.appendsSince(spark, t, 1L)
      .select("id").as[Long].collect().sorted.toSeq ===
      (10L until 15L).toSeq)
    assert(DeltaLakeRead.appendsSince(spark, t, 2L)
      .select("id").as[Long].collect().sorted.toSeq ===
      (10L until 15L).toSeq)
    // same pruned read through the DISTRIBUTED state path: the path
    // filter pushes into the reconciliation frame before the collect
    assert(DeltaLakeRead.appendsSince(spark, t, 2L, minBytes = 0L)
      .select("id").as[Long].collect().sorted.toSeq ===
      (10L until 15L).toSeq)
    // v1's file was compacted away INSIDE the range — its rows are
    // now mixed with v0's; silence would be row loss
    val e = intercept[IllegalArgumentException] {
      DeltaLakeRead.appendsSince(spark, t, 0L)
    }
    assert(e.getMessage.contains("compacted away"))
  }

  test("readAppendedFiles reads the state its checks passed: a DELETE " +
      "landing after its replay does not shrink the batch") {
    val t = newTable()
    DeltaLakeWrite.append((0L until 10L).map(i => (i, s"v$i"))
      .toDF("id", "v").repartition(1), t)
    val raw = DeltaLakeRead.state(spark, t).files.map(_.rawPath).toSet
    DeltaLakeRead.testAfterReplay = () => {
      DeltaLakeRead.testAfterReplay = () => ()
      DeltaLakeDml.delete(spark, t, "id < 5"); ()
    }
    val batch = try DeltaLakeRead.readAppendedFiles(spark, t, raw)
      finally DeltaLakeRead.testAfterReplay = () => ()
    assert(batch.select("id").as[Long].collect().sorted.toSeq ===
      (0L until 10L), "the batch is the file as appended")
    assert(ids(t) === (5L until 10L), "the DELETE committed")
  }

  test("appendsSince returns exactly the rows of later pure-append " +
      "commits; DML in the range rejects; vacuumed range rejects") {
    val t = newTable()
    (0 until 4).foreach { i =>
      DeltaLakeWrite.append(
        (i * 5 until (i + 1) * 5).map(j => (j.toLong, s"v$j"))
          .toDF("id", "v"), t)
    }
    val inc = DeltaLakeRead.appendsSince(spark, t, 1L)
      .select("id").as[Long].collect().sorted.toSeq
    assert(inc === (10L until 20L).toSeq)
    assert(DeltaLakeRead.appendsSince(spark, t, 3L).count() === 0L)
    DeltaLakeDml.delete(spark, t, "id = 2")
    val e = intercept[IllegalArgumentException] {
      DeltaLakeRead.appendsSince(spark, t, 1L)
    }
    assert(e.getMessage.contains("not a pure append"))
    // appends after the delete slice cleanly again
    DeltaLakeWrite.append(Seq((99L, "z")).toDF("id", "v"), t)
    assert(DeltaLakeRead.appendsSince(spark, t, 4L)
      .select("id").as[Long].collect().toSeq === Seq(99L))
    // a vacuumed (missing) commit in the range is loud, not silent
    Files.delete(new java.io.File(t,
      f"_delta_log/${2L}%020d.json").toPath)
    val e2 = intercept[IllegalArgumentException] {
      DeltaLakeRead.appendsSince(spark, t, 1L)
    }
    assert(e2.getMessage.contains("missing"))
  }

  test("compact racing a DML recomputes instead of resurrecting the " +
      "deleted rows (the blind slide would double-count the file)") {
    val t = newTable()
    (0 until 4).foreach { i =>
      DeltaLakeWrite.append(
        (i * 5 until (i + 1) * 5).map(j => (j.toLong, s"v$j"))
          .toDF("id", "v").repartition(1), t)
    }
    // one-shot: a DELETE lands after compact staged its rewrite of
    // the pre-delete rows but before it claims a slot
    DeltaLakeMaintain.testBeforeCommit = () => {
      DeltaLakeMaintain.testBeforeCommit = () => ()
      DeltaLakeDml.delete(spark, t, "id = 7"); ()
    }
    try {
      val r = DeltaLakeMaintain.compact(spark, t)
      assert(r.filesWritten > 0)
    } finally DeltaLakeMaintain.testBeforeCommit = () => ()
    assert(ids(t) === (0L until 20L).filterNot(_ == 7L),
      "a blind-slide compaction would resurrect id=7 AND double-" +
      "count the rewritten file")
    val st = DeltaLakeRead.state(spark, t)
    assert(st.files.forall(_.dv.isEmpty),
      "the recomputed compaction must have materialized the DV away")
  }

  test("IN-COMMIT TIMESTAMPS writer: every commit verb stamps a " +
      "monotonic commitInfo first line; time travel resolves by the " +
      "in-log clock even with scrambled file mtimes") {
    val t = newTable()
    DeltaLakeWrite.append((0L until 6L).map(i => (i, s"v$i"))
      .toDF("id", "v").repartition(1), t,
      tableConfig = Map("delta.enableInCommitTimestamps" -> "true"))
    DeltaLakeWrite.append(Seq((10L, "x")).toDF("id", "v"), t)
    DeltaLakeDml.delete(spark, t, "id = 1")
    val c = DeltaLakeMaintain.compact(spark, t)
    val st = DeltaLakeRead.state(spark, t)
    assert(st.minWriter === 7)
    assert(st.writerFeatures.contains("inCommitTimestamp"))
    val log = new java.io.File(t, "_delta_log")
    def ict(v: Long): Long = {
      val first = Files.readAllLines(
        new java.io.File(log, f"$v%020d.json").toPath).get(0)
      val n = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(first)
      assert(n.has("commitInfo"),
        s"commit $v must lead with commitInfo under ICT")
      n.get("commitInfo").get("inCommitTimestamp").asLong()
    }
    val ts = (0L to c.version).map(ict)
    assert(ts === ts.sorted && ts.distinct === ts,
      s"in-commit timestamps must be strictly increasing: $ts")
    // scramble mtimes: resolution must follow the in-log clock
    (0L to c.version).foreach { v =>
      assert(new java.io.File(log, f"$v%020d.json")
        .setLastModified(1000L))
    }
    assert(DeltaLakeRead.versionAtTimestamp(t, ts(1)) === 1L)
    assert(DeltaLakeRead.versionAtTimestamp(t, ts.last + 1) ===
      c.version)
    intercept[IllegalArgumentException] {
      DeltaLakeRead.versionAtTimestamp(t, ts.head - 1)
    }
    assert(ids(t) === ((0L until 6L).filterNot(_ == 1L) :+ 10L))
  }

  test("versionAtTimestamp resolves by commit file mtime (newest " +
      "commit at-or-before), rejects pre-history timestamps") {
    val t = newTable()
    DeltaLakeWrite.append(Seq((1L, "a")).toDF("id", "v"), t)
    DeltaLakeWrite.append(Seq((2L, "b")).toDF("id", "v"), t)
    DeltaLakeWrite.append(Seq((3L, "c")).toDF("id", "v"), t)
    val log = new java.io.File(t, "_delta_log")
    Seq(0L, 1L, 2L).foreach { v =>
      assert(new java.io.File(log, f"$v%020d.json")
        .setLastModified(100000L + v * 10000L))
    }
    assert(DeltaLakeRead.versionAtTimestamp(t, 100000L) === 0L)
    assert(DeltaLakeRead.versionAtTimestamp(t, 115000L) === 1L)
    assert(DeltaLakeRead.versionAtTimestamp(t, 999999999L) === 2L)
    intercept[IllegalArgumentException] {
      DeltaLakeRead.versionAtTimestamp(t, 99999L)
    }
    // the resolved version drives ordinary time travel
    val v = DeltaLakeRead.versionAtTimestamp(t, 115000L)
    assert(DeltaLakeRead.snapshot(spark, t, Some(v))
      .select("id").as[Long].collect().sorted.toSeq === Seq(1L, 2L))
  }

  test("versionAtTimestamp prefers commitInfo.inCommitTimestamp over " +
      "file mtime when a commit carries one (the ICT monotonic clock)") {
    val t = newTable()
    DeltaLakeWrite.append(Seq((1L, "a")).toDF("id", "v"), t)
    val log = new java.io.File(t, "_delta_log")
    // hand-commit v1 whose FIRST line is commitInfo with an ICT far in
    // the future, while its file mtime is set far in the past — the
    // resolver must believe the in-log clock, not the filesystem
    Files.write(new java.io.File(log, f"${1L}%020d.json").toPath,
      (Seq("""{"commitInfo":{"inCommitTimestamp":900000000000000}}""",
        """{"txn":{"appId":"x","version":1}}""")
        .mkString("\n")).getBytes("UTF-8"))
    assert(new java.io.File(log, f"${0L}%020d.json")
      .setLastModified(500000L))
    assert(new java.io.File(log, f"${1L}%020d.json")
      .setLastModified(600000L))
    assert(DeltaLakeRead.versionAtTimestamp(t, 700000L) === 0L,
      "v1's ICT is in the future — mtime must not be consulted")
    assert(DeltaLakeRead.versionAtTimestamp(t, 900000000000001L) === 1L)
  }

  /** The query executions `body` ran, as a QueryExecutionListener saw
    * them (its events arrive asynchronously: wait until they settle). */
  private def executions(body: => Unit)
      : Seq[org.apache.spark.sql.execution.QueryExecution] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.execution.QueryExecution]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = { seen.add(qe); () }
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      body
      var prev = -1; var spins = 0
      while ((prev != seen.size || seen.isEmpty) && spins < 50) {
        prev = seen.size; Thread.sleep(100); spins += 1
      }
    } finally spark.listenerManager.unregister(l)
    seen.toArray(Array.empty[
      org.apache.spark.sql.execution.QueryExecution]).toSeq
  }

  private object Aqe
    extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  test("compact reads ONLY its victim files, with no per-row path " +
      "decoding or filtering in the rewrite plan") {
    val t = newTable()
    // one big clean file that does not qualify, three small ones that
    // do (one of them DV-bearing)
    DeltaLakeWrite.append((0L until 3000L).map(i => (i, s"big-$i"))
      .toDF("id", "v").repartition(1), t)
    (0 until 3).foreach { i =>
      DeltaLakeWrite.append((10000L + i * 5 until 10000L + (i + 1) * 5)
        .map(j => (j, s"s$j")).toDF("id", "v").repartition(1), t)
    }
    DeltaLakeDml.delete(spark, t, "id = 10001")
    val st = DeltaLakeRead.state(spark, t)
    val (big, small) = st.files.partition(_.path == st.files
      .maxBy(_.size).path)
    assert(big.size === 1 && small.size === 3)
    assert(small.map(_.size).max < big.head.size)
    val want = ids(t)
    var r: DeltaLakeMaintain.CompactResult = null
    val qes = executions {
      r = DeltaLakeMaintain.compact(spark, t,
        targetFileBytes = 1L << 20, smallFileBytes = big.head.size)
    }
    assert(r.filesRemoved === 3 && r.dvRowsDropped === 1L)
    assert(ids(t) === want)
    assert(DeltaLakeRead.state(spark, t).files.exists(
      _.path == big.head.path), "the big file must stay untouched")
    val scanned = qes.map(qe => Aqe.collect(qe.executedPlan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.metrics("numFiles").value
    }.sum).sum
    assert(scanned === 3L,
      s"compaction scanned $scanned files for 3 victims")
    qes.foreach { qe =>
      val plan = qe.optimizedPlan.toString
      Seq("url_decode", "regexp_replace", " IN (").foreach(f =>
        assert(!plan.contains(f), s"per-row $f in the rewrite:\n$plan"))
    }
  }

  test("a one-output-file compaction coalesces: no Exchange in its " +
      "plans, one file per partition value") {
    val t = newTable()
    (0 until 6).foreach { i =>
      DeltaLakeWrite.append((i * 10 until (i + 1) * 10)
        .map(j => (j.toLong, if (j % 2 == 0) "en" else "de"))
        .toDF("id", "lang").repartition(1), t, partitionBy = Seq("lang"))
    }
    DeltaLakeDml.delete(spark, t, "id % 10 = 3")
    val want = DeltaLakeRead.snapshot(spark, t)
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    var r: DeltaLakeMaintain.CompactResult = null
    val qes = executions { r = DeltaLakeMaintain.compact(spark, t) }
    assert(r.filesRemoved === 12 && r.filesWritten === 2)
    qes.foreach { qe =>
      val ex = Aqe.collect(qe.executedPlan) {
        case e: org.apache.spark.sql.execution.exchange.Exchange => e
      }
      assert(ex.isEmpty, s"compaction shuffled:\n${qe.executedPlan}")
    }
    val files = DeltaLakeRead.state(spark, t).files
    assert(files.groupBy(_.partitionValues("lang")).map { case (k, fs) =>
      k -> fs.size } === Map(Some("de") -> 1, Some("en") -> 1))
    assert(DeltaLakeRead.snapshot(spark, t)
      .as[(Long, String)].collect().sortBy(_._1).toSeq === want)
  }

  test("an append landing between compaction's replay and its scan " +
      "stays out of the rewrite; the commit slides past it") {
    val t = newTable()
    (0 until 3).foreach { i =>
      DeltaLakeWrite.append((i * 5 until (i + 1) * 5)
        .map(j => (j.toLong, s"v$j")).toDF("id", "v").repartition(1), t)
    }
    val before = DeltaLakeRead.state(spark, t)
    DeltaLakeMaintain.testAfterReplay = () => {
      DeltaLakeMaintain.testAfterReplay = () => ()
      DeltaLakeWrite.append(Seq((1000L, "late")).toDF("id", "v")
        .repartition(1), t); ()
    }
    val r = try DeltaLakeMaintain.compact(spark, t)
      finally DeltaLakeMaintain.testAfterReplay = () => ()
    assert(r.filesRemoved === 3)
    assert(r.version === before.version + 2,
      "the append took the next slot; compaction must slide past it")
    val late = DeltaLakeRead.state(spark, t, Some(before.version + 1))
      .files.map(_.path).toSet -- before.files.map(_.path)
    assert(late.size === 1)
    assert(late.subsetOf(DeltaLakeRead.state(spark, t).files
      .map(_.path).toSet), "the late file must stay active, unrewritten")
    assert(ids(t) === ((0L until 15L) :+ 1000L),
      "every row exactly once: the late row neither lost nor doubled")
  }
}
