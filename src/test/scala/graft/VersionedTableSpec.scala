package graft

import java.io.File

import graft.ingest.VersionedTableIO
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Protocol tests for the manifest-log versioned-table format:
  * snapshot isolation, time travel, crash consistency (a partial write
  * leaves the old snapshot readable), optimistic-concurrency commit,
  * VACUUM retention GC, and appendOnly enforcement. */
class VersionedTableSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def freshIo(): (VersionedTableIO, String) = {
    val root = java.nio.file.Files.createTempDirectory("graft_vspec").toString
    (new VersionedTableIO(root), root)
  }

  test("append/overwrite produce monotonically versioned snapshots") {
    val (io, _) = freshIo()
    io.overwrite(Seq((1, "a"), (2, "b")).toDF("k", "v"), "t")
    io.append(Seq((3, "c")).toDF("k", "v"), "t")
    io.overwrite(Seq((9, "z")).toDF("k", "v"), "t")
    assert(io.versions("t") == Seq(1L, 2L, 3L))
    assert(io.readVersion(spark, "t", 1).count() == 2)
    assert(io.readVersion(spark, "t", 2).count() == 3)
    assert(io.read(spark, "t").as[(Int, String)].collect().toSet == Set((9, "z")))
    assert(io.history("t").map(_.op) == Seq("overwrite", "append", "overwrite"))
  }

  /** Hand-write manifest `version` of `table` as an earlier build did,
    * with a `dvDirs` field, over the data dirs of version 1. */
  private def writeOldManifest(io: VersionedTableIO, root: String,
      table: String, version: Long, dvDirs: String): Unit = {
    val dirs = io.manifest(table, 1L).dataDirs.map(d => s"\"$d\"")
    java.nio.file.Files.write(
      new File(s"$root/$table/_graft_log", f"$version%020d.json").toPath,
      (s"""{"version":$version,"ts":0,"op":"delete",""" +
        s""""dataDirs":[${dirs.mkString(",")}],"properties":{},""" +
        s""""stats":{},"dvDirs":$dvDirs,"strStats":{}}""").getBytes("UTF-8"))
  }

  test("a manifest an earlier build wrote with an empty dvDirs reads as " +
      "before") {
    val (io, root) = freshIo()
    io.overwrite(spark.range(0, 10).toDF("id"), "t")
    writeOldManifest(io, root, "t", 2L, "[ ]")
    assert(io.manifest("t", 2L).dataDirs == io.manifest("t", 1L).dataDirs)
    assert(io.read(spark, "t").count() == 10)
  }

  test("a manifest with deletion-vector dirs is refused, naming the " +
      "table and version — never read without its masks") {
    val (io, root) = freshIo()
    io.overwrite(spark.range(0, 10).toDF("id"), "t")
    writeOldManifest(io, root, "t", 2L, """["data/dv-0"]""")
    val e = intercept[IllegalStateException](io.read(spark, "t"))
    assert(e.getMessage.contains("version 2 of 't'"), e.getMessage)
    assert(e.getMessage.contains("data/dv-0"), e.getMessage)
    assert(io.readVersion(spark, "t", 1L).count() == 10)
  }

  test("crash consistency: a data dir without a manifest is invisible") {
    val (io, root) = freshIo()
    io.overwrite(Seq((1, "a")).toDF("k", "v"), "t")
    // simulate a writer that died after writing data, before committing
    Seq((666, "junk")).toDF("k", "v")
      .write.parquet(s"$root/t/data/${java.util.UUID.randomUUID()}")
    assert(io.latestVersion("t") == 1L)
    assert(io.read(spark, "t").as[(Int, String)].collect().toSet == Set((1, "a")))
    // vacuum with zero grace sweeps the orphan; the snapshot is intact
    val removed = io.vacuum("t", retainLast = 1, orphanGraceMs = 0L)
    assert(removed == 1)
    assert(io.read(spark, "t").as[(Int, String)].collect().toSet == Set((1, "a")))
  }

  test("orphan grace period protects an in-flight writer's data dir") {
    val (io, root) = freshIo()
    io.overwrite(Seq((1, "a")).toDF("k", "v"), "t")
    Seq((2, "b")).toDF("k", "v")
      .write.parquet(s"$root/t/data/${java.util.UUID.randomUUID()}")
    // default-ish grace: the just-written orphan is younger than 1h
    assert(io.vacuum("t", retainLast = 1, orphanGraceMs = 3600L * 1000) == 0)
  }

  /** Two INDEPENDENT sessions (separate VersionedTableIO instances +
    * separate Spark session state — the in-process stand-in for two
    * spark-submit writers) race 50 appends into one table through the
    * given backends. No commit may be lost, versions must be dense. */
  private def raceAppends(mkBackends: () => (graft.ingest.CommitBackend,
      graft.ingest.CommitBackend)): Unit = {
    val root = java.nio.file.Files.createTempDirectory("graft_race").toString
    val (bA, bB) = mkBackends()
    val ioA = new VersionedTableIO(root, bA)
    val ioB = new VersionedTableIO(root, bB)
    ioA.overwrite(Seq((0, "init")).toDF("k", "v"), "t")
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def writer(io: VersionedTableIO, tag: String): Thread = new Thread(() =>
      try {
        val s = spark.newSession()
        import s.implicits._
        (1 to 25).foreach(i => io.append(Seq((i, tag)).toDF("k", "v"), "t"))
      } catch { case t: Throwable => errs.add(t) })
    val ts = Seq(writer(ioA, "a"), writer(ioB, "b"))
    ts.foreach(_.start()); ts.foreach(_.join())
    assert(errs.isEmpty, errs)
    // every commit landed in its own version; the log is dense
    assert(ioA.versions("t") == (1L to 51L))
    // and no append was lost or doubled under the race
    val rows = ioB.read(spark, "t").as[(Int, String)].collect()
    assert(rows.length == 51)
    assert(rows.toSet.size == 51)
  }

  test("multi-session race, local link backend: 50 appends from two " +
    "sessions all land, log stays dense") {
    raceAppends(() => (graft.ingest.LocalLinkBackend,
      graft.ingest.LocalLinkBackend))
  }

  test("multi-session race, conditional-put backend: the protocol needs " +
    "only putIfAbsent semantics") {
    raceAppends(() => {
      // one shared "store" (the mock's claim map), two sessions on it
      val store = new graft.ingest.ConditionalPutBackend
      (store, store)
    })
  }

  /** Fork two CommitRaceCheck JVMs racing 50 commits each through the
    * given backend arg into `dir`; assert a dense log of complete
    * commit files with every (writer, seq) landing exactly once. */
  private def crossProcessRace(dir: String, backendArg: Seq[String]): Unit = {
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    def fork(id: String) = {
      val pb = new ProcessBuilder(
        (Seq(javaBin, "-cp", System.getProperty("java.class.path"),
          "graft.tools.CommitRaceCheck", dir, id, "50") ++
          backendArg): _*)
      pb.redirectErrorStream(true)
      pb.start()
    }
    val pa = fork("a")
    val pb = fork("b")
    // open the barrier once both are forked so the races overlap
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "START"),
      Array.empty[Byte])
    val outA = new String(pa.getInputStream.readAllBytes(), "UTF-8")
    val outB = new String(pb.getInputStream.readAllBytes(), "UTF-8")
    assert(pa.waitFor() == 0 && outA.contains("COMMITTED 50"), outA)
    assert(pb.waitFor() == 0 && outB.contains("COMMITTED 50"), outB)
    val slots = new File(dir).listFiles((_, n) => n.endsWith(".json"))
      .sortBy(_.getName)
    // dense log: exactly one winner per slot
    assert(slots.map(_.getName.stripSuffix(".json").toLong).toSeq ==
      (1L to 100L))
    // every content is COMPLETE valid JSON (no torn write) and every
    // (writer, seq) committed exactly once — nothing lost or doubled
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val commits = slots.toSeq.map { f =>
      val n = om.readTree(f)
      (n.get("writer").asText(), n.get("seq").asLong())
    }
    assert(commits.size == 100 && commits.toSet.size == 100)
    assert(commits.toSet ==
      (for (w <- Seq("a", "b"); i <- 0L until 50L) yield (w, i)).toSet)
  }

  test("cross-PROCESS commit race: two forked JVMs race 50 commits each " +
    "through LocalLinkBackend — one winner per slot, nothing lost or " +
    "partial") {
    // the in-JVM race above shares one filesystem view through one
    // kernel fd table; link(2)'s EEXIST guarantee is only really proven
    // with two PROCESSES (the CatalogSpec fork harness, minus Spark —
    // the primitive under test is pure filesystem)
    crossProcessRace(
      java.nio.file.Files.createTempDirectory("graft_xjvm").toString, Nil)
  }

  test("cross-PROCESS commit race, conditional-put store: two forked " +
    "JVMs race through a separate single-threaded store process — the " +
    "object-store arbitration shape, no shared memory, no link(2) in " +
    "the clients") {
    val dir = java.nio.file.Files.createTempDirectory("graft_xcp").toString
    val port = new java.util.concurrent.SynchronousQueue[Integer]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val store = new Thread(() =>
      graft.tools.CondPutStore.serve(0, p => port.put(p), stop))
    store.setDaemon(true)
    store.start()
    val p = port.take().intValue()
    try crossProcessRace(dir, Seq(s"condput:$p"))
    finally { stop.set(true); store.join(5000) }
  }

  test("exported snapshot manifest: a plain parquet reader consumes " +
    "version N with filter pushdown, no VersionedTableIO scan code") {
    val (io, _) = freshIo()
    io.overwrite((1 to 100).map(i => (i.toLong, i * 2.0)).toDF("k", "x"), "t")
    io.append((101 to 200).map(i => (i.toLong, i * 2.0)).toDF("k", "x"), "t")
    io.overwrite(Seq((999L, 0.0)).toDF("k", "x"), "t") // head moves on
    val files = io.exportManifest("t", 2L)
    assert(files.nonEmpty && files.forall(_.endsWith(".parquet")))
    assert(io.readManifestExport("t", 2L) == files)
    // the EXTERNAL read: plain spark.read over the pinned file list
    val df = spark.read.parquet(files: _*)
    assert(df.count() == 200)
    assert(df.as[(Long, Double)].collect().toSet ==
      io.readVersion(spark, "t", 2L).as[(Long, Double)].collect().toSet)
    // pruning survives: the filter reaches the parquet scan as a
    // pushed filter (footer/row-group skipping), not a post-scan filter
    val plan = df.filter($"k" === 5L).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(k), EqualTo(k,5)"), plan)
  }

  test("schema evolution: old-version reads stay narrow; CDF across the " +
    "boundary reads at the evolved schema") {
    val (io, _) = freshIo()
    io.overwrite(Seq((1L, "a")).toDF("k", "v"), "t")
    io.append(Seq((2L, "b", 9.0)).toDF("k", "v", "extra"), "t")
    // time travel to v1 must NOT leak the later column
    assert(io.readVersion(spark, "t", 1).columns.toSeq == Seq("k", "v"))
    assert(io.read(spark, "t").columns.sorted.toSeq ==
      Seq("extra", "k", "v"))
    val rows = io.readChanges(spark, "t", 1, 2, Seq("k")).collect()
    // the widened-but-unchanged k=1 row is NOT an update (null-safe
    // struct compare); the appended key is an insert AT the new schema
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[String]("_change_type") == "insert")
    assert(r.getAs[Long]("k") == 2L && r.getAs[Double]("extra") == 9.0)
  }

  test("concurrent commit: slot collision is detected and retried") {
    val (io, root) = freshIo()
    io.overwrite(Seq((1, "a")).toDF("k", "v"), "t")
    // another writer claims version 2 out from under us
    val logDir = new File(s"$root/t/_graft_log")
    val stolen = new File(logDir, f"${2L}%020d.json")
    val m1 = new File(logDir, f"${1L}%020d.json")
    java.nio.file.Files.copy(m1.toPath, stolen.toPath)
    // our append must land at version 3, on top of the winner
    io.append(Seq((2, "b")).toDF("k", "v"), "t")
    assert(io.latestVersion("t") == 3L)
    assert(io.readVersion(spark, "t", 3).count() == 2)
  }

  test("upsert rewrites as a new snapshot; old versions unchanged") {
    val (io, _) = freshIo()
    io.overwrite(Seq((1, 10.0), (2, 20.0)).toDF("k", "x"), "t")
    io.upsert(spark, Seq((2, 99.0), (3, 30.0)).toDF("k", "x"), "t", keys = Seq("k"))
    assert(io.read(spark, "t").as[(Int, Double)].collect().toSet ==
      Set((1, 10.0), (2, 99.0), (3, 30.0)))
    // time travel still sees the pre-merge state
    assert(io.readVersion(spark, "t", 1).as[(Int, Double)].collect().toSet ==
      Set((1, 10.0), (2, 20.0)))
  }

  test("readAsOf resolves the latest commit at-or-before the timestamp") {
    val (io, _) = freshIo()
    io.overwrite(Seq((1, "a")).toDF("k", "v"), "t")
    val t1 = io.manifest("t", 1).ts
    io.append(Seq((2, "b")).toDF("k", "v"), "t")
    assert(io.readAsOf(spark, "t", t1).count() == 1)
    assert(io.readAsOf(spark, "t", System.currentTimeMillis() + 1000).count() == 2)
    intercept[IllegalArgumentException](io.readAsOf(spark, "t", t1 - 1000))
  }

  test("vacuum drops unreferenced dirs, keeps retained versions readable") {
    val (io, root) = freshIo()
    io.overwrite(Seq((1, "a")).toDF("k", "v"), "t") // v1 — dir becomes garbage
    io.overwrite(Seq((2, "b")).toDF("k", "v"), "t") // v2 — retained
    io.append(Seq((3, "c")).toDF("k", "v"), "t")    // v3 — retained (refs v2's dir)
    val removed = io.vacuum("t", retainLast = 2, orphanGraceMs = 0L)
    assert(removed == 1) // only v1's dir: v2's is still referenced by v3
    assert(io.versions("t") == Seq(2L, 3L))
    assert(io.readVersion(spark, "t", 2).count() == 1)
    assert(io.read(spark, "t").count() == 2)
    intercept[IllegalArgumentException](io.readVersion(spark, "t", 1))
    // exactly the retained data remains on disk
    assert(new File(s"$root/t/data").listFiles().length == 2)
  }

  test("appendOnly property blocks overwrite and merge, allows append") {
    val (io, _) = freshIo()
    io.overwrite(Seq((1, "a")).toDF("k", "v"), "t")
    io.setProperty("t", VersionedTableIO.PropAppendOnly, "true")
    intercept[UnsupportedOperationException](
      io.overwrite(Seq((2, "b")).toDF("k", "v"), "t"))
    intercept[UnsupportedOperationException](
      io.upsert(spark, Seq((1, "x")).toDF("k", "v"), "t", keys = Seq("k")))
    io.append(Seq((2, "b")).toDF("k", "v"), "t")
    assert(io.read(spark, "t").count() == 2)
    assert(io.properties("t") == Map(VersionedTableIO.PropAppendOnly -> "true"))
  }

  test("schema evolution: columns added in later commits read as null") {
    val (io, _) = freshIo()
    io.overwrite(Seq((1, "a")).toDF("k", "v"), "t")
    io.append(Seq((2, "b", 9.9)).toDF("k", "v", "extra"), "t")
    val rows = io.read(spark, "t")
      .select("k", "extra").as[(Int, Option[Double])].collect().toMap
    assert(rows == Map(1 -> None, 2 -> Some(9.9)))
  }

  test("readChanges emits all four CDF change types from a keyed diff") {
    val (io, _) = freshIo()
    io.overwrite(Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v"), "t")
    // v2: 1 unchanged, 2 updated, 3 deleted, 4 inserted
    io.overwrite(Seq((1, "a"), (2, "B"), (4, "d")).toDF("k", "v"), "t")
    val got = io.readChanges(spark, "t", 1L, 2L, keys = Seq("k"))
      .as[(Int, String, String)].collect().toSet
    assert(got === Set(
      (4, "d", "insert"),
      (3, "c", "delete"),
      (2, "b", "update_preimage"),
      (2, "B", "update_postimage")))
    intercept[IllegalArgumentException](
      io.readChanges(spark, "t", 2L, 1L, keys = Seq("k")))
  }

  test("restore re-references old dirs as a new commit; vacuumed target fails") {
    val (io, _) = freshIo()
    io.overwrite(Seq((1, "a")).toDF("k", "v"), "t")
    io.overwrite(Seq((2, "b")).toDF("k", "v"), "t")
    io.restore("t", toVersion = 1L)
    assert(io.latestVersion("t") == 3L)
    assert(io.read(spark, "t").as[(Int, String)].collect().toSet == Set((1, "a")))
    assert(io.history("t").head.op == "restore")
    // the restore head protects v1's dir through vacuum…
    io.vacuum("t", retainLast = 1, orphanGraceMs = 0L)
    assert(io.read(spark, "t").as[(Int, String)].collect().toSet == Set((1, "a")))
    // …but restoring TO a vacuumed version fails loudly
    io.overwrite(Seq((9, "z")).toDF("k", "v"), "t") // v4 (v3 head retained refs v1 dirs)
    io.vacuum("t", retainLast = 1, orphanGraceMs = 0L)
    intercept[IllegalArgumentException](io.restore("t", toVersion = 3L))
  }

  test("commit-dir stats enable data skipping; results equal plain filter") {
    val (io, _) = freshIo()
    // three commits with disjoint id ranges — the backfill-window shape
    io.overwrite(spark.range(0, 100).toDF("id"), "t")
    io.append(spark.range(100, 200).toDF("id"), "t")
    io.append(spark.range(200, 300).toDF("id"), "t")
    val (scanned, total) = io.pruneCounts("t", "id", 120, 180)
    assert(total == 3 && scanned == 1) // only the middle commit overlaps
    val got = io.readPruned(spark, "t", "id", 120, 180)
      .as[Long].collect().sorted
    assert(got.toSeq == (120L to 180L))
    // stats survive carried-over dirs on append and a restore
    io.restore("t", 2L)
    assert(io.pruneCounts("t", "id", 250, 260)._1 == 0) // range now absent
    assert(io.readPruned(spark, "t", "id", 250, 260).count() == 0)
    // an EMPTY commit (backfill slice with no rows) is prunable for any
    // predicate — "no stats" must not force a conservative scan of it
    io.append(spark.range(0, 0).toDF("id"), "t")
    assert(io.pruneCounts("t", "id", 0, 1000)._1 ==
      io.pruneCounts("t", "id", 0, 1000)._2 - 1)
  }

  test("appendIdempotent: replayed sequences are skipped, watermark " +
    "rides the commit") {
    val (io, _) = freshIo()
    assert(io.appendIdempotent(Seq((1, "a")).toDF("k", "v"), "t", "w1", 0L))
    assert(io.appendIdempotent(Seq((2, "b")).toDF("k", "v"), "t", "w1", 1L))
    // replay of batch 1 (crash between sink write and checkpoint commit)
    assert(!io.appendIdempotent(Seq((2, "b")).toDF("k", "v"), "t", "w1", 1L))
    assert(io.read(spark, "t").count() == 2)
    assert(io.versions("t") == Seq(1L, 2L)) // no empty replay commit
    // an INDEPENDENT writer has its own sequence space
    assert(io.appendIdempotent(Seq((3, "c")).toDF("k", "v"), "t", "w2", 0L))
    assert(io.read(spark, "t").count() == 3)
    assert(io.properties("t") == Map("txn:w1" -> "1", "txn:w2" -> "0"))
  }

  test("versioned streaming sink: re-drain after checkpoint loss does " +
    "not double-count") {
    import org.apache.spark.sql.functions.sum
    val (io, _) = freshIo()
    val src = java.nio.file.Files.createTempDirectory("graft_vsrc").toString
    val ck = java.nio.file.Files.createTempDirectory("graft_vck").toString
    val df = Seq((1, 10.0), (2, 20.0)).toDF("k", "v")
    df.coalesce(1).write.mode("append").parquet(src)
    graft.stream.StreamIngest.ingestVersioned(
      spark, src, ck, io, "t", df.schema)
    assert(io.read(spark, "t").agg(sum($"v")).as[Double].head() == 30.0)
    // same checkpoint, nothing new: no-op
    graft.stream.StreamIngest.ingestVersioned(
      spark, src, ck, io, "t", df.schema)
    assert(io.read(spark, "t").count() == 2)
    // FRESH checkpoint at the same path identity would restart batch ids;
    // simulate the worst case by replaying batch 0 by hand — skipped
    assert(!io.appendIdempotent(df,
      "t", new java.io.File(ck).getAbsolutePath, 0L))
    assert(io.read(spark, "t").count() == 2)
  }

  test("deleteWhere/updateWhere rewrite snapshots; time travel intact") {
    import org.apache.spark.sql.functions.{col, lit}
    val (io, _) = freshIo()
    io.overwrite(Seq((1, 10.0), (2, 20.0), (3, 30.0)).toDF("k", "x"), "t")
    io.deleteWhere(spark, "t", col("k") === 2)
    assert(io.read(spark, "t").as[(Int, Double)].collect().toSet ==
      Set((1, 10.0), (3, 30.0)))
    io.updateWhere(spark, "t", col("k") === 3, Map("x" -> lit(99.0)))
    assert(io.read(spark, "t").as[(Int, Double)].collect().toSet ==
      Set((1, 10.0), (3, 99.0)))
    // both are history-preserving rewrites
    assert(io.readVersion(spark, "t", 1).count() == 3)
    assert(io.history("t").map(_.op) == Seq("update", "delete", "overwrite"))
    // NULL-predicate rows survive deleteWhere (!(NULL) is not TRUE)
    io.overwrite(Seq((Some(1), 1.0), (None, 2.0)).toDF("k", "x"), "t2")
    io.deleteWhere(spark, "t2", col("k") === 1)
    assert(io.read(spark, "t2").as[(Option[Int], Double)].collect().toSet ==
      Set((None, 2.0)))
  }

  test("clustered compaction tightens stats and improves dir pruning") {
    import org.apache.spark.sql.functions.pmod
    val (io, _) = freshIo()
    // ids striped mod-4 across the domain: every commit dir spans the
    // whole range, so stats-based pruning can skip nothing
    io.overwrite(spark.range(0, 400)
      .withColumn("stripe", pmod($"id", org.apache.spark.sql.functions.lit(4)))
      .toDF("id", "stripe"), "t")
    assert(io.pruneCounts("t", "id", 10, 20) == (1, 1)) // must scan all
    io.compactClustered(spark, "t", numFiles = 4, clusterCols = Seq("id"))
    // post-clustering this table still has ONE commit dir (commit-level
    // stats), but parquet files inside are range-disjoint; the manifest
    // stats stay correct and the content is unchanged
    assert(io.read(spark, "t").count() == 400)
    assert(io.read(spark, "t").inputFiles.length == 4)
    val m = io.manifest("t", io.latestVersion("t"))
    assert(m.stats(m.dataDirs.head)("id") == Seq(0.0, 399.0))
  }

  test("z-order compaction: BOTH clustered columns prune dirs; linear " +
      "clustering prunes only its own; content and schema preserved") {
    import org.apache.spark.sql.functions.{col, pmod, lit, sum}
    val (io, _) = freshIo()
    // full 256x256 grid: x and y independent, both spanning 0..255, so
    // bucket membership (top bits x7 y7 x6 y6) is exactly predictable
    val grid = spark.range(0, 65536)
      .select(pmod(col("id"), lit(256)).as("x"), (col("id") / 256).cast("long").as("y"))
    io.overwrite(grid.repartition(8), "zo")
    io.compactZOrder(spark, "zo", clusterCols = Seq("x", "y"), numDirs = 16)
    val m = io.manifest("zo", io.latestVersion("zo"))
    assert(m.dataDirs.size == 16)
    // a quarter-range predicate on EITHER column scans exactly 4/16 dirs
    assert(io.pruneCounts("zo", "x", 0, 63) == (4, 16))
    assert(io.pruneCounts("zo", "y", 0, 63) == (4, 16))
    assert(io.pruneCounts("zo", "x", 192, 255) == (4, 16))
    // pruned read ≡ plain filter; schema clean (no __zb leak)
    assert(io.read(spark, "zo").columns.toSeq == Seq("x", "y"))
    assert(io.readPruned(spark, "zo", "y", 0, 63)
      .agg(sum(col("x") * lit(1000) + col("y"))).first().getLong(0) ==
      grid.filter(col("y") <= 63)
        .agg(sum(col("x") * lit(1000) + col("y"))).first().getLong(0))
    // LINEAR clustering at the same dir granularity: own column prunes,
    // the other column scans everything — the gap z-ordering closes
    io.overwrite(grid.repartition(8), "lin")
    io.compactZOrder(spark, "lin", clusterCols = Seq("x"), numDirs = 16)
    assert(io.pruneCounts("lin", "x", 0, 63) == (4, 16))
    assert(io.pruneCounts("lin", "y", 0, 63) == (16, 16))
    // vacuum must treat the nested __zb=k rels as live under their root
    io.vacuum("zo", retainLast = 1, orphanGraceMs = 0L)
    assert(io.read(spark, "zo").count() == 65536)
    assert(io.pruneCounts("zo", "x", 0, 63) == (4, 16))
  }

  test("clone: hard links share inodes (zero data copy); vacuuming the " +
      "SOURCE cannot break the clone; histories diverge independently; " +
      "rowCount answers from metadata alone") {
    import org.apache.spark.sql.functions.col
    import scala.jdk.CollectionConverters._
    val (io, root) = freshIo()
    io.overwrite(spark.range(0, 100).select(col("id")), "src")
    io.append(spark.range(100, 250).select(col("id")), "src")
    io.cloneTable("src", "dst", version = Some(2L))
    // zero-copy: every data file in the clone is the SAME inode
    def inodes(t: String): Map[String, Object] = {
      val base = java.nio.file.Paths.get(s"$root/$t")
      val s = java.nio.file.Files.walk(base)
      try s.iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .map(p => base.relativize(p).toString ->
          java.nio.file.Files.getAttribute(p, "unix:ino"))
        .toMap
      finally s.close()
    }
    val (srcIno, dstIno) = (inodes("src"), inodes("dst"))
    assert(dstIno.nonEmpty && dstIno == srcIno)
    // diverge: append to the clone, rewrite + vacuum the source so the
    // source drops every dir the clone links — the clone must survive
    io.append(spark.range(250, 300).select(col("id")), "dst")
    io.overwrite(spark.range(0, 7).select(col("id")), "src")
    io.vacuum("src", retainLast = 1, orphanGraceMs = 0L)
    assert(io.read(spark, "dst").count() == 300)
    assert(io.read(spark, "src").count() == 7)
    // metadata-only counts match the scans, for every live version
    assert(io.rowCount("dst", 1L).contains(250L))
    assert(io.rowCount("dst", 2L).contains(300L))
    assert(io.rowCount("src", 3L).contains(7L))
    // a second clone into an existing table must refuse
    intercept[IllegalArgumentException] {
      io.cloneTable("src", "dst")
    }
  }

  test("clone on the conditional-put backend: server-side-copy model " +
      "(no link primitive pretended); vacuuming the source still " +
      "cannot break the clone; stats/properties/divergence identical") {
    import org.apache.spark.sql.functions.col
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Files.createTempDirectory("graft_cpclone").toString
    val io = new VersionedTableIO(root, new graft.ingest.ConditionalPutBackend)
    io.overwrite(spark.range(0, 100).select(col("id")), "src")
    io.append(spark.range(100, 250).select(col("id")), "src")
    io.setProperty("src", "owner", "team-a")
    io.cloneTable("src", "dst")
    // object-store honesty: the clone's files are independent objects
    // (copies), NOT shared inodes — the backend has no link primitive
    def inodes(t: String): Map[String, Object] = {
      val base = java.nio.file.Paths.get(s"$root/$t")
      val s = java.nio.file.Files.walk(base)
      try s.iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .map(p => base.relativize(p).toString ->
          java.nio.file.Files.getAttribute(p, "unix:ino"))
        .toMap
      finally s.close()
    }
    val (srcIno, dstIno) = (inodes("src"), inodes("dst"))
    assert(dstIno.nonEmpty && dstIno.keySet == srcIno.keySet)
    assert(dstIno.forall { case (k, ino) => srcIno(k) != ino })
    // carried metadata: stats prune and properties survive the clone
    assert(io.rowCount("dst", 1L).contains(250L))
    assert(io.properties("dst").get("owner").contains("team-a"))
    // diverge + vacuum the source: independent objects keep the clone
    // whole even after every source dir it referenced is swept
    io.append(spark.range(250, 300).select(col("id")), "dst")
    io.overwrite(spark.range(0, 7).select(col("id")), "src")
    io.vacuum("src", retainLast = 1, orphanGraceMs = 0L)
    assert(io.read(spark, "dst").count() == 300)
    assert(io.read(spark, "src").count() == 7)
  }

  test("CHECK constraints: violating writes abort before commit (append " +
      "AND update); existing violations block ADD; drop re-opens; absent " +
      "columns pass vacuously") {
    import org.apache.spark.sql.functions.col
    val (io, _) = freshIo()
    io.overwrite(Seq((1, 10.0), (2, 20.0)).toDF("k", "price"), "t")
    // ADD validates existing data first
    intercept[IllegalArgumentException] {
      io.addConstraint(spark, "t", "big", "price > 15.0")
    }
    io.addConstraint(spark, "t", "pos", "price > 0")
    io.append(Seq((3, 30.0)).toDF("k", "price"), "t")
    val vBefore = io.latestVersion("t")
    // violating append: rejected, no new version, head intact
    val exA = intercept[IllegalStateException] {
      io.append(Seq((4, -1.0)).toDF("k", "price"), "t")
    }
    assert(exA.getMessage.contains("pos"))
    assert(io.latestVersion("t") == vBefore)
    assert(io.read(spark, "t").count() == 3)
    // violating UPDATE (snapshot rewrite path): also rejected
    intercept[IllegalStateException] {
      io.updateWhere(spark, "t", col("k") === 1,
        Map("price" -> (col("price") * -1.0)))
    }
    assert(io.read(spark, "t").count() == 3)
    // NULL passes (ANSI CHECK: unknown is not a violation)
    io.append(Seq((5, Option.empty[Double])).toDF("k", "price"), "t")
    // a constraint on a column this batch doesn't carry passes
    // vacuously (the merged read surfaces it as null)
    io.addConstraint(spark, "t", "flagged", "flag >= 0")
    io.append(Seq((6, 60.0)).toDF("k", "price"), "t")
    // drop re-opens the gate
    io.dropConstraint("t", "pos")
    assert(io.constraints("t").keySet == Set("flagged"))
    io.append(Seq((7, -7.0)).toDF("k", "price"), "t")
    // an EMPTY batch against live constraints: zero violations (the
    // sum aggregates to null on an empty dir), never a crash
    io.append(Seq.empty[(Int, Double)].toDF("k", "price"), "t")
    assert(io.read(spark, "t").count() == 6)
  }

  test("z-order guards: empty/all-masked snapshots are a no-op (never " +
      "an unreadable head); non-numeric cluster columns are refused") {
    import org.apache.spark.sql.functions.{col, lit}
    val (io, _) = freshIo()
    // every row deleted: the rewrite would materialize ZERO dirs
    io.overwrite(spark.range(0, 100).toDF("id"), "t")
    io.deleteWhere(spark, "t", lit(true))
    assert(io.read(spark, "t").count() == 0)
    val v = io.latestVersion("t")
    io.compactZOrder(spark, "t", Seq("id"), numDirs = 4) // must no-op
    assert(io.latestVersion("t") == v)
    assert(io.read(spark, "t").count() == 0) // head still readable
    // string cluster column: min/max.cast(double) would null out and
    // collapse every z-key to bucket 0 — refused up front instead
    io.overwrite(Seq((1L, "2024-01-01"), (2L, "2024-06-01"))
      .toDF("k", "dt"), "s")
    val ex = intercept[IllegalArgumentException] {
      io.compactZOrder(spark, "s", Seq("dt"), numDirs = 2)
    }
    assert(ex.getMessage.contains("numeric"))
    // all-null numeric column: no z-range — fail fast, not silently one bucket
    io.overwrite(Seq((1L, Option.empty[Double]), (2L, Option.empty[Double]))
      .toDF("k", "x"), "n")
    val ex2 = intercept[IllegalArgumentException] {
      io.compactZOrder(spark, "n", Seq("x"), numDirs = 2)
    }
    assert(ex2.getMessage.contains("null"))
    // both refusals left no commit and no orphan staging dir behind
    assert(io.latestVersion("s") == 1L && io.latestVersion("n") == 1L)
    assert(io.read(spark, "s").count() == 2)
  }

  test("property merge: empty-value unset is scoped to the DELTA's own " +
      "keys — an unset commit can never sweep unrelated properties") {
    val (io, _) = freshIo()
    io.overwrite(Seq((1, "a")).toDF("k", "v"), "t")
    io.setProperty("t", "comment", "hello")
    io.setProperty("t", "owner", "me")
    // empty value in a delta = explicit unset of THAT key only
    io.setProperty("t", "owner", "")
    assert(io.properties("t") ==
      io.properties("t").filter(_._2.nonEmpty)) // nothing stored as ""
    assert(!io.properties("t").contains("owner"))
    assert(io.properties("t").get("comment").contains("hello"))
    // unrelated commits (append, dropConstraint) leave other keys alone
    io.append(Seq((2, "b")).toDF("k", "v"), "t")
    io.addConstraint(spark, "t", "c1", "k > 0")
    io.dropConstraint("t", "c1")
    assert(!io.properties("t").contains("constraint.c1"))
    assert(io.properties("t").get("comment").contains("hello"))
  }

  test("string stats: lexicographic pruning; stats survive clone and " +
      "restore; stat-less dirs scan conservatively, never wrongly") {
    import org.apache.spark.sql.functions.{col, lit}
    val (io, _) = freshIo()
    val mk = (lo: Int, hi: Int) => (lo until hi)
      .map(i => (i.toLong, f"2024-$i%02d-01")).toDF("k", "dt")
    io.overwrite(mk(1, 5), "t")
    io.append(mk(5, 9), "t")
    io.append(mk(9, 13), "t")
    assert(io.pruneCountsStr("t", "dt", "2024-05-00", "2024-08-99") ==
      (1, 3))
    assert(io.readPrunedStr(spark, "t", "dt", "2024-05-00", "2024-08-99")
      .count() == 4)
    // clone and restore both keep the string stats usable
    io.cloneTable("t", "c")
    assert(io.pruneCountsStr("c", "dt", "2024-05-00", "2024-08-99") ==
      (1, 3))
    io.overwrite(mk(1, 13), "t")
    io.restore("t", 3L)
    assert(io.pruneCountsStr("t", "dt", "2024-05-00", "2024-08-99") ==
      (1, 3))
    // a dir without string stats (all-null column) scans conservatively
    io.append(Seq((99L, Option.empty[String])).toDF("k", "dt"), "t")
    assert(io.pruneCountsStr("t", "dt", "2024-05-00", "2024-08-99") ==
      (2, 4))
    assert(io.readPrunedStr(spark, "t", "dt", "2024-05-00", "2024-08-99")
      .count() == 4)
  }

  test("generated columns: auto-computed when absent, validated when " +
      "provided (stale value aborts); an update keeping the invariant " +
      "is fine, breaking it is not") {
    import org.apache.spark.sql.functions.{col, lit}
    val (io, _) = freshIo()
    io.createTable("t", Map("generated.b" -> "k % 10"))
    io.append(Seq((15, "x"), (27, "y")).toDF("k", "v"), "t")
    assert(io.read(spark, "t").orderBy("k")
      .select("k", "b").as[(Int, Int)].collect().toSeq ==
      Seq((15, 5), (27, 7)))
    // a batch PROVIDING the right value passes; a stale value aborts
    io.append(Seq((31, "z", 1)).toDF("k", "v", "b"), "t")
    val ex = intercept[IllegalStateException] {
      io.append(Seq((42, "w", 9)).toDF("k", "v", "b"), "t")
    }
    assert(ex.getMessage.contains("generated:b"))
    assert(io.read(spark, "t").count() == 3)
    // an update that leaves the invariant intact commits; one that
    // breaks it (changing k without regenerating b) aborts whole
    io.updateWhere(spark, "t", col("k") === 15, Map("v" -> lit("x2")))
    assert(io.read(spark, "t").filter(col("v") === "x2").count() == 1)
    val before = io.latestVersion("t")
    intercept[IllegalStateException] {
      io.updateWhere(spark, "t", col("k") === 27, Map("k" -> lit(99)))
    }
    assert(io.latestVersion("t") == before)
  }

  test("model check: random op sequence matches an in-memory reference") {
    import org.apache.spark.sql.functions.{col, lit}
    val (io, _) = freshIo()
    val rnd = new scala.util.Random(20260812L) // seeded: deterministic
    // reference model: committed history as row-bags (append keeps
    // duplicate keys; upsert/delete/update are keyed/predicated)
    var history = Vector.empty[Vector[(Int, Double)]]
    var vacuumedBelow = 1L
    def df(rows: Seq[(Int, Double)]) = rows.toDF("k", "x")
    def freshRows() = Vector.fill(1 + rnd.nextInt(4))(
      (rnd.nextInt(20), math.floor(rnd.nextDouble() * 100)))

    io.overwrite(df(Vector((0, 0.0))), "t")
    history :+= Vector((0, 0.0))
    for (step <- 1 to 36) {
      rnd.nextInt(7) match {
        case 0 =>
          val rows = freshRows()
          io.append(df(rows), "t"); history :+= (history.last ++ rows)
        case 1 =>
          val rows = freshRows()
          io.overwrite(df(rows), "t"); history :+= rows
        case 2 =>
          val rows = freshRows().distinctBy(_._1)
          io.upsert(spark, df(rows), "t", keys = Seq("k"))
          val keys = rows.map(_._1).toSet
          history :+= (history.last.filterNot(r => keys(r._1)) ++ rows)
        case 3 =>
          val r = rnd.nextInt(5)
          io.deleteWhere(spark, "t", col("k") % 5 === r)
          history :+= history.last.filterNot(_._1 % 5 == r)
        case 4 =>
          val r = rnd.nextInt(5)
          io.updateWhere(spark, "t", col("k") % 5 === r,
            Map("x" -> (col("x") + lit(1000.0))))
          history :+= history.last.map { case (k, x) =>
            if (k % 5 == r) (k, x + 1000.0) else (k, x) }
        case 5 =>
          val target = vacuumedBelow + rnd.nextInt(
            (history.size - vacuumedBelow + 1).toInt)
          io.restore("t", target)
          history :+= history(target.toInt - 1)
        case 6 => // OPTIMIZE: a content-preserving rewrite
          io.compact(spark, "t", numFiles = 1)
          history :+= history.last
      }
      // head must equal the model (as bags)
      assert(io.read(spark, "t").as[(Int, Double)].collect().sorted.toSeq ==
        history.last.sorted, s"head diverged at step $step")
      // metadata-only count must agree with the model at EVERY step —
      // catches any op whose count stats disagree with its dirs
      assert(io.rowCount("t", history.size.toLong)
        .contains(history.last.size.toLong),
        s"rowCount diverged at step $step: " +
          s"${io.rowCount("t", history.size.toLong)} vs ${history.last.size}")
      // a random retained version must equal ITS model snapshot
      val v = vacuumedBelow + rnd.nextInt(
        (history.size - vacuumedBelow + 1).toInt)
      assert(io.readVersion(spark, "t", v)
        .as[(Int, Double)].collect().sorted.toSeq ==
        history(v.toInt - 1).sorted, s"version $v diverged at step $step")
      if (step % 8 == 0) { // periodic retention GC
        val retain = 3
        io.vacuum("t", retainLast = retain, orphanGraceMs = 0L)
        vacuumedBelow = math.max(vacuumedBelow, history.size - retain + 1)
      }
    }
    assert(io.versions("t").last == history.size.toLong)
  }

  test("incremental view maintenance equals full re-aggregation; " +
    "emptied groups vanish") {
    import org.apache.spark.sql.functions.col
    val (io, _) = freshIo()
    io.overwrite(Seq((1, 10.0), (2, 20.0), (8, 80.0)).toDF("k", "x"), "t")
    val gold1 = graft.ingest.IncrementalView.aggregate(
      io.readVersion(spark, "t", 1), col("k") % 7, "grp", Seq("x"))
    // delete the ONLY member of group 2 (k=2), update k=8, insert k=10
    io.deleteWhere(spark, "t", col("k") === 2)
    io.upsert(spark, Seq((8, 85.0), (10, 100.0)).toDF("k", "x"), "t",
      keys = Seq("k"))
    val refreshed = graft.ingest.IncrementalView.refresh(
      spark, io, "t", Seq("k"), 1L, 3L, gold1, col("k") % 7, "grp", Seq("x"))
      .as[(Long, Long, Double)].collect().toSet
    val direct = graft.ingest.IncrementalView.aggregate(
      io.read(spark, "t"), col("k") % 7, "grp", Seq("x"))
      .as[(Long, Long, Double)].collect().toSet
    assert(refreshed === direct)
    assert(!refreshed.exists(_._1 == 2L)) // group of deleted k=2 gone
  }

  test("compact rewrites files, preserves content, keeps history") {
    val (io, _) = freshIo()
    io.overwrite(spark.range(1000).toDF("id").repartition(16), "t")
    io.compact(spark, "t", numFiles = 2)
    assert(io.read(spark, "t").inputFiles.length == 2)
    assert(io.read(spark, "t").agg(sum($"id")).as[Long].head() == 499500L)
    assert(io.readVersion(spark, "t", 1).count() == 1000)
  }

  test("z-order tolerates partially-null cluster keys: nulls land in the " +
      "min bucket, no __HIVE_DEFAULT_PARTITION__ dir, content preserved") {
    val (io, _) = freshIo()
    val rows = (0 until 400).map(i =>
      (i.toLong, if (i % 7 == 0) None else Some(i.toDouble)))
    io.overwrite(rows.toDF("k", "x"), "t")
    io.compactZOrder(spark, "t", Seq("x"), numDirs = 4)
    val m = io.manifest("t", 2L)
    assert(m.dataDirs.forall(d =>
      d.split("/").last.stripPrefix("__zb=").forall(_.isDigit)))
    assert(io.read(spark, "t").count() == 400)
    // the null-key rows survived and sit in the lowest z-bucket's dir
    val nullRows = io.read(spark, "t").filter(col("x").isNull)
    assert(nullRows.count() == 58)
    assert(nullRows.select(input_file_name()).distinct().collect()
      .forall(_.getString(0).contains("__zb=0")))
  }

  test("addConstraint vs concurrent restore: a restore that re-exposes " +
      "deleted rows — the constraint must never commit over a violating " +
      "head it skipped re-scanning") {
    // v1: a violating row (v = -5) lives in the data dir
    // v2: a DELETE rewrote the snapshot without it, so the HEAD
    //     satisfies the predicate
    // race: restore(1) — v1's dir back in the head — while
    // addConstraint validates. Contract: whichever way the race lands,
    // the constraint commit's BASE version must satisfy the predicate.
    for (round <- 0 until 3) {
      val (io, _) = freshIo()
      io.overwrite(Seq((1L, 10.0), (2L, -5.0), (3L, 7.0)).toDF("k", "v"), "t")
      io.deleteWhere(spark, "t", col("v") < 0)
      assert(io.read(spark, "t").count() == 2)
      @volatile var constraintErr: Option[Throwable] = None
      val adder = new Thread(() =>
        try io.addConstraint(spark, "t", "vpos", "v >= 0")
        catch { case t: Throwable => constraintErr = Some(t) })
      adder.start()
      Thread.sleep(20L * round) // vary the interleaving across rounds
      io.restore("t", 1L) // re-commits v1's dir, violating row included
      adder.join()
      val committed = io.properties("t").contains("constraint.vpos")
      assert(committed || constraintErr.isDefined)
      if (committed) {
        // find the constraint commit; its base must have been clean
        val cv = io.history("t").filter(_.op == "setProperty")
          .map(_.version).min
        assert(io.readVersion(spark, "t", cv - 1)
          .filter(col("v") < 0).count() == 0L,
          s"round $round: constraint committed over a violating base")
      } else {
        assert(constraintErr.get.getMessage.contains("violate"),
          s"round $round: unexpected failure: ${constraintErr.get}")
      }
    }
  }

  /** Random walk over a SOURCE table (appends / overwrites / deletes
    * / compactions / restore) interleaved with CLONES at random live
    * versions and retention VACUUMs — on the given backend. Every clone
    * must capture exactly its pinned snapshot and stay readable after
    * the source is vacuumed past that version (links keep inodes alive;
    * copies are independent objects). */
  private def cloneVacuumWalk(backend: graft.ingest.CommitBackend): Unit = {
    val root = java.nio.file.Files.createTempDirectory("graft_cvw").toString
    val io = new VersionedTableIO(root, backend)
    val rnd = new scala.util.Random(20260813L)
    var history = Vector.empty[Vector[Long]] // version → model row bag
    var vacuumedBelow = 1L
    var clones = Map.empty[String, Vector[Long]] // clone table → model
    def df(rows: Seq[Long]) = rows.toDF("id")
    io.overwrite(df(0L until 50L), "src")
    history :+= (0L until 50L).toVector
    for (step <- 1 to 24) {
      rnd.nextInt(6) match {
        case 0 =>
          val rows = Vector.fill(1 + rnd.nextInt(5))(rnd.nextLong(1000))
          io.append(df(rows), "src"); history :+= (history.last ++ rows)
        case 1 =>
          val rows = Vector.fill(5 + rnd.nextInt(20))(rnd.nextLong(1000))
          io.overwrite(df(rows), "src"); history :+= rows
        case 2 =>
          val r = rnd.nextInt(5)
          io.deleteWhere(spark, "src", col("id") % 5 === r)
          history :+= history.last.filterNot(_ % 5 == r)
        case 3 =>
          io.compact(spark, "src", numFiles = 1)
          history :+= history.last
        case 4 =>
          val target = vacuumedBelow + rnd.nextInt(
            (history.size - vacuumedBelow + 1).toInt)
          io.restore("src", target)
          history :+= history(target.toInt - 1)
        case 5 => // clone a random LIVE version, then vacuum the source
          val target = vacuumedBelow + rnd.nextInt(
            (history.size - vacuumedBelow + 1).toInt)
          val name = s"clone_$step"
          io.cloneTable("src", name, Some(target))
          clones += name -> history(target.toInt - 1)
          io.vacuum("src", retainLast = 2, orphanGraceMs = 0L)
          vacuumedBelow = math.max(vacuumedBelow, history.size - 1L)
      }
      assert(io.read(spark, "src").as[Long].collect().sorted.toSeq ==
        history.last.sorted, s"src diverged at step $step")
      assert(io.rowCount("src", history.size.toLong)
        .contains(history.last.size.toLong), s"rowCount diverged at $step")
      // every clone ever taken still reads ITS snapshot exactly —
      // source vacuums (including of the cloned version) never dangle it
      clones.foreach { case (name, expect) =>
        assert(io.read(spark, name).as[Long].collect().sorted.toSeq ==
          expect.sorted, s"clone $name diverged at step $step")
      }
    }
    assert(clones.nonEmpty)
  }

  test("clone+vacuum walk, local link backend: clones pin their snapshot " +
      "through source vacuums") {
    cloneVacuumWalk(graft.ingest.LocalLinkBackend)
  }

  test("clone+vacuum walk, conditional-put backend (server-side-copy " +
      "clone model): same guarantees with no link primitive") {
    cloneVacuumWalk(new graft.ingest.ConditionalPutBackend)
  }

  test("two concurrent vacuums: neither crashes on the other's manifest " +
      "deletions and the head stays readable") {
    for (round <- 0 until 4) {
      val (io, _) = freshIo()
      (0 until 6).foreach(i =>
        io.overwrite(spark.range(i * 100L, i * 100L + 50).toDF("id"), "t"))
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val ts = Seq.fill(2)(new Thread(() =>
        try { io.vacuum("t", retainLast = 1, orphanGraceMs = 0L); () }
        catch { case t: Throwable => errs.add(t) }))
      ts.foreach(_.start()); ts.foreach(_.join())
      assert(errs.isEmpty, s"round $round: ${errs}")
      assert(io.read(spark, "t").count() == 50L)
      assert(io.versions("t").contains(6L))
    }
  }

  test("restore racing a concurrent vacuum never commits an unreadable " +
      "head: the restore lands (and its dirs survive) or aborts loudly") {
    for (round <- 0 until 8) {
      val (io, root) = freshIo()
      // v1's dirs are referenced ONLY by v1 — the version vacuum drops
      io.overwrite(spark.range(0, 2000).toDF("id").repartition(8), "t")
      io.overwrite(spark.range(5000, 5100).toDF("id"), "t")
      // age every dir past the vacuum's grace so the sweep is armed —
      // the restore's layer-0 mtime touch is then the ONLY thing that
      // can shield the restored dirs (the realistic contract: grace>0)
      Option(new java.io.File(s"$root/t/data").listFiles())
        .getOrElse(Array.empty)
        .foreach(_.setLastModified(System.currentTimeMillis() - 60000L))
      val restorer = new Thread(() =>
        try io.restore("t", 1L)
        catch { // loud abort or repaired-head loud failure: both allowed
          case _: IllegalArgumentException | _: IllegalStateException => ()
        })
      val vacuumer = new Thread(() => {
        io.vacuum("t", retainLast = 1, orphanGraceMs = 30000L); ()
      })
      // vary start order across rounds to widen interleaving coverage
      val ts = if (round % 2 == 0) Seq(restorer, vacuumer)
               else Seq(vacuumer, restorer)
      ts.foreach(_.start()); ts.foreach(_.join())
      // whichever way the race lands, the head MUST be readable and be
      // exactly one of the two committed contents
      val n = io.read(spark, "t").count()
      assert(n == 2000L || n == 100L,
        s"round $round: head has $n rows — a restore committed over " +
          "vacuumed dirs")
      // and when the vacuum dropped v1 first, the restore must have
      // aborted rather than resurrected a deleted version
      if (!io.versions("t").contains(1L) && io.latestVersion("t") > 2L)
        assert(io.readVersion(spark, "t", io.latestVersion("t"))
          .count() == 2000L)
    }
  }

  test("five-way soak: restore, vacuum, a writer, a cloner, and an " +
      "OPTIMIZE interleave freely (both backends): the head stays " +
      "readable and metadata-consistent, base content is never silently " +
      "mixed or torn by a packing rewrite, every landed clone is " +
      "complete, every aborted clone invisible, and a restore-rollback " +
      "only ever lands directly on its own tombstone") {
    for (backend <- Seq[graft.ingest.CommitBackend](
        graft.ingest.LocalLinkBackend,
        new graft.ingest.ConditionalPutBackend)) {
      for (round <- 0 until 3) {
        val root =
          java.nio.file.Files.createTempDirectory("graft_3way").toString
        val io = new VersionedTableIO(root, backend)
        // v1 = 2000 rows across 8 dirs (restore target), v2 = 100 rows
        io.overwrite(spark.range(0, 2000).toDF("id").repartition(8), "t")
        io.overwrite(spark.range(5000, 5100).toDF("id"), "t")
        // age every dir so the vacuum sweep is armed; under the
        // supported nonzero-grace contract, restore's layer-0 mtime
        // touch is then the only shield for re-referenced dirs
        Option(new File(s"$root/t/data").listFiles())
          .getOrElse(Array.empty)
          .foreach(_.setLastModified(System.currentTimeMillis() - 60000L))
        val writerErrs =
          new java.util.concurrent.atomic.AtomicReference[Throwable](null)
        val writerSession = spark.newSession()
        val writer = new Thread(() => {
          // appends in a distinct id range so the final head count
          // DECOMPOSES: base content + whole appended batches, never a
          // torn mix. A writer must NEVER crash: a vacuumed base
          // manifest mid-commit is a stale listing to retry, and a
          // doomed restore's tombstone is a valid (if short-lived) base.
          for (i <- 0 until 6) {
            try io.append(
              writerSession.range(1000000L + i * 10, 1000000L + i * 10 + 10)
                .toDF("id"), "t")
            catch {
              case scala.util.control.NonFatal(e) =>
                writerErrs.compareAndSet(null, e); ()
            }
          }
        })
        val restorer = new Thread(() => {
          for (_ <- 0 until 3)
            try io.restore("t", 1L)
            catch { // loud abort / repaired-or-superseded loud failure;
              // a vacuumed target manifest mid-read may also surface as
              // an IO error — any of these is an allowed LOUD outcome
              case scala.util.control.NonFatal(_) => ()
            }
        })
        val vacuumer = new Thread(() => {
          for (_ <- 0 until 3) {
            io.vacuum("t", retainLast = 1, orphanGraceMs = 30000L); ()
          }
        })
        // fourth party: clones fork the table mid-churn — a committed
        // clone must be complete and internally consistent, an aborted
        // one must leave no visible commit (the full concurrency
        // surface: clone ∥ restore ∥ vacuum ∥ writer)
        val cloneOutcomes =
          new java.util.concurrent.ConcurrentLinkedQueue[String]()
        val cloner = new Thread(() => {
          for (i <- 0 until 3) {
            val name = s"c${round}_$i"
            try {
              io.cloneTable("t", name)
              cloneOutcomes.add(s"landed:$name"); ()
            } catch {
              case scala.util.control.NonFatal(_) =>
                cloneOutcomes.add(s"aborted:$name"); ()
            }
          }
        })
        // fifth party: OPTIMIZE packs the snapshot into one dir mid-churn.
        // A landed compaction rewrites files but must never change
        // CONTENT — the decomposition invariant below (one whole base +
        // whole appended batches) is exactly the torn-compaction
        // detector. Racing restore/vacuum may legitimately abort it
        // loudly (stale base manifest mid-build); that is an allowed
        // outcome, a crash of any OTHER kind is not.
        val compactorErrs =
          new java.util.concurrent.atomic.AtomicReference[Throwable](null)
        val compactorSession = spark.newSession()
        val compactor = new Thread(() => {
          for (_ <- 0 until 3)
            try io.compact(compactorSession, "t", numFiles = 1)
            catch {
              case _: IllegalArgumentException | _: IllegalStateException |
                  _: java.io.UncheckedIOException | _: java.io.IOException =>
                () // loud abort on a moved/vacuumed base: allowed
              case scala.util.control.NonFatal(e) =>
                compactorErrs.compareAndSet(null, e); ()
            }
        })
        // vary start order across rounds to widen interleaving coverage
        val ts = round % 3 match {
          case 0 => Seq(writer, restorer, vacuumer, cloner, compactor)
          case 1 => Seq(cloner, compactor, vacuumer, writer, restorer)
          case _ => Seq(compactor, restorer, cloner, vacuumer, writer)
        }
        ts.foreach(_.start()); ts.foreach(_.join())
        cloneOutcomes.forEach { o =>
          val Array(outcome, name) = o.split(":")
          if (outcome == "landed") {
            val n = io.read(spark, name).count()
            assert(io.rowCount(name, 1L).contains(n),
              s"round $round: clone $name committed incomplete: read $n " +
                s"vs manifest ${io.rowCount(name, 1L)}")
          } else assert(io.versions(name).isEmpty,
            s"round $round: aborted clone $name left a visible commit")
        }
        assert(writerErrs.get() == null,
          s"round $round: a concurrent append crashed: ${writerErrs.get()}")
        assert(compactorErrs.get() == null,
          s"round $round: a concurrent OPTIMIZE crashed non-loudly: " +
            s"${compactorErrs.get()}")
        // head must be readable, and its count must agree with the
        // metadata-only rowCount AND decompose into exactly one base
        // content plus whole appended batches
        val head = io.latestVersion("t")
        val df = io.read(spark, "t")
        val n = df.count()
        assert(io.rowCount("t", head).contains(n),
          s"round $round: head count $n disagrees with metadata " +
            s"${io.rowCount("t", head)}")
        val base = df.filter(col("id") < 1000000L).count()
        val appended = n - base
        assert(base == 2000L || base == 100L,
          s"round $round: head base content is $base rows — snapshots " +
            "were silently mixed")
        assert(appended % 10 == 0 && appended >= 0 && appended <= 60,
          s"round $round: appended rows torn: $appended")
        // rollback-targeting invariant: layer-3 repair commits ONLY on
        // top of its own tombstone — never over a newer writer commit
        // (the guard aborts instead). Retained manifests prove it.
        val log = io.versions("t").map(v => v -> io.manifest("t", v)).toMap
        log.foreach { case (v, m) =>
          if (m.op == "restore-rollback")
            log.get(v - 1).foreach(p => assert(p.op == "restore",
              s"round $round: rollback v$v landed on '${p.op}' v${v - 1}"))
        }
      }
    }
  }

  test("clone racing a concurrent vacuum never silently loses rows: it " +
      "either lands complete or aborts whole (both backends)") {
    for (backend <- Seq[graft.ingest.CommitBackend](
        graft.ingest.LocalLinkBackend,
        new graft.ingest.ConditionalPutBackend)) {
      val root = java.nio.file.Files.createTempDirectory("graft_cvr").toString
      val io = new VersionedTableIO(root, backend)
      // many files per dir → a copy window wide enough to race into
      io.overwrite(spark.range(0, 20000).toDF("id").repartition(48), "src")
      @volatile var stop = false
      val churner = new Thread(() => {
        val s = spark.newSession()
        var i = 0
        while (!stop && i < 200) {
          // overwrite drops v1's dirs from the head; vacuum then sweeps
          io.overwrite(s.range(0, 10).toDF("id"), "src")
          io.vacuum("src", retainLast = 1, orphanGraceMs = 0L)
          i += 1
        }
      })
      churner.start()
      var landed = 0
      var aborted = 0
      try {
        for (i <- 0 until 8) {
          val name = s"c$i"
          try {
            io.cloneTable("src", name, Some(io.latestVersion("src")))
            landed += 1
            // a committed clone must be complete and internally readable
            val n = io.read(spark, name).count()
            val expect = io.rowCount(name, 1L)
            assert(expect.contains(n),
              s"clone $name silently lost rows: read $n, manifest $expect")
          } catch {
            case _: IllegalArgumentException | _: IllegalStateException |
                _: java.io.UncheckedIOException | _: java.io.IOException =>
              aborted += 1 // loud abort is an allowed outcome
              assert(io.versions(name).isEmpty,
                s"aborted clone $name left a visible commit")
          }
        }
      } finally { stop = true; churner.join() }
      assert(landed + aborted == 8)
    }
  }
}
