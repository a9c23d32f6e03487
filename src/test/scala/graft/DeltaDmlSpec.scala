package graft

import graft.ingest.{DeltaLakeDml, DeltaLakeRead, DeltaLakeWrite}
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** [[DeltaLakeDml]] — DELETE/UPDATE/upsert on real Delta tables via
  * deletion-vector emission, round-tripped through [[DeltaLakeRead]]
  * and the checkpoint path (no delta-spark on the classpath; the
  * on-disk shape is pinned to PROTOCOL.md instead). */
class DeltaDmlSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def newTable(): String = {
    val d = Files.createTempDirectory("delta_dml").toFile
    d.deleteOnExit(); d.getPath
  }

  private def ids(t: String): Seq[Long] =
    DeltaLakeRead.snapshot(spark, t)
      .select("id").as[Long].collect().sorted.toSeq

  test("DELETE masks matching rows with a DV, upgrades the protocol " +
      "to (3,7)+deletionVectors with legacy-implied features, and " +
      "pins delta.enableDeletionVectors") {
    val t = newTable()
    DeltaLakeWrite.append((0L until 10L).map(i => (i, s"v$i"))
      .toDF("id", "v"), t)
    val paths = DeltaLakeRead.state(spark, t).files.map(_.path).toSet
    val r = DeltaLakeDml.delete(spark, t, "id % 3 = 0")
    assert(r.version === 1L)
    assert(r.rowsDeleted === 4L) // 0,3,6,9
    assert(r.rowsInserted === 0L)
    assert(ids(t) === Seq(1L, 2L, 4L, 5L, 7L, 8L))
    val st = DeltaLakeRead.state(spark, t)
    assert(st.minReader === 3 && st.minWriter === 7)
    assert(st.readerFeatures.contains("deletionVectors"))
    assert(st.writerFeatures.contains("deletionVectors"))
    // legacy minWriter=2 implied features carried forward
    assert(st.writerFeatures.contains("appendOnly"))
    assert(st.writerFeatures.contains("invariants"))
    assert(st.config.get("delta.enableDeletionVectors") === Some("true"))
    assert(st.files.exists(_.dv.isDefined))
    // no data file was rewritten: the same files, some now masked
    assert(st.files.map(_.path).toSet.subsetOf(paths))
    assert(st.tombstones.nonEmpty, "the pre-DV add must be tombstoned")
    // no-match delete is a no-op, no empty commit
    val r2 = DeltaLakeDml.delete(spark, t, "id > 100")
    assert(r2.version === 1L && r2.rowsDeleted === 0L)
    assert(DeltaLakeRead.latestVersion(t) === 1L)
  }

  test("a second DELETE on the same file UNIONS its DV (descriptors " +
      "are absolute); checkCardinality read stays green") {
    val t = newTable()
    DeltaLakeWrite.append((0L until 8L).map(i => (i, "x"))
      .toDF("id", "v").repartition(1), t)
    DeltaLakeDml.delete(spark, t, "id = 1")
    DeltaLakeDml.delete(spark, t, "id = 5")
    val st = DeltaLakeRead.state(spark, t)
    assert(st.files.map(_.dv.get.cardinality).sum === 2L)
    spark.conf.set("spark.graft.dv.checkCardinality", "true")
    try assert(ids(t) === Seq(0L, 2L, 3L, 4L, 6L, 7L))
    finally spark.conf.unset("spark.graft.dv.checkCardinality")
  }

  test("a fully-emptied file gets a bare remove, not an all-rows DV") {
    val t = newTable()
    DeltaLakeWrite.append(Seq((1L, "en"), (2L, "en")).toDF("id", "lang")
      .repartition(1), t, partitionBy = Seq("lang"))
    DeltaLakeWrite.append(Seq((3L, "de")).toDF("id", "lang"), t,
      partitionBy = Seq("lang"))
    DeltaLakeDml.delete(spark, t, "lang = 'de'")
    val st = DeltaLakeRead.state(spark, t)
    assert(st.files.size === 1, "the de file must be gone entirely")
    assert(st.files.head.dv.isEmpty)
    assert(st.tombstones.exists(_.path.contains("lang=de")))
    // tombstone carries partition values for checkpoint re-emission
    assert(st.tombstones.find(_.path.contains("lang=de")).get
      .partitionValues.get("lang").flatten === Some("de"))
    assert(ids(t) === Seq(1L, 2L))
  }

  test("UPDATE rewrites matched rows into new files and DV-deletes " +
      "the originals; expressions see the OLD row") {
    val t = newTable()
    DeltaLakeWrite.append((0L until 6L).map(i => (i, i * 10L))
      .toDF("id", "amt"), t)
    val r = DeltaLakeDml.update(spark, t, "id >= 4",
      Map("amt" -> "amt + id"))
    assert(r.rowsDeleted === 2L && r.rowsInserted === 2L)
    val got = DeltaLakeRead.snapshot(spark, t)
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(got === Seq((0L, 0L), (1L, 10L), (2L, 20L), (3L, 30L),
      (4L, 44L), (5L, 55L)))
    // a second UPDATE re-masks rows the first one wrote: the file the
    // first landed keeps a live row and gains a DV of its own
    val t2 = newTable()
    DeltaLakeWrite.append((0L until 6L).map(i => (i, i * 10L))
      .toDF("id", "amt").repartition(1), t2)
    DeltaLakeDml.update(spark, t2, "id >= 3", Map("amt" -> "amt + 1000"))
    val landed = DeltaLakeRead.state(spark, t2).files.filter(_.dv.isEmpty)
      .map(_.path).toSet
    val r2 = DeltaLakeDml.update(spark, t2, "id >= 4",
      Map("amt" -> "amt - 1000"))
    assert(r2.rowsDeleted === 2L && r2.rowsInserted === 2L)
    assert(DeltaLakeRead.state(spark, t2).files.filter(f => landed(f.path))
      .flatMap(_.dv).map(_.cardinality).sum === 2L)
    assert(DeltaLakeRead.snapshot(spark, t2).as[(Long, Long)].collect()
      .sortBy(_._1).toSeq === Seq((0L, 0L), (1L, 10L), (2L, 20L),
        (3L, 1030L), (4L, 40L), (5L, 50L)))
  }

  test("upsert: WHEN MATCHED UPDATE ALL / WHEN NOT MATCHED INSERT " +
      "ALL on keys; duplicate source keys reject") {
    val t = newTable()
    val base = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
      .toDF("id", "v", "amt")
    DeltaLakeWrite.append(base, t)
    val src = Seq((2L, "B2", 200L), (9L, "NEW", 900L))
      .toDF("id", "v", "amt")
    val r = DeltaLakeDml.upsert(spark, t, src, Seq("id"))
    assert(r.rowsDeleted === 1L && r.rowsInserted === 2L)
    val got = DeltaLakeRead.snapshot(spark, t)
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(got === Seq((1L, "a", 10L), (2L, "B2", 200L), (3L, "c", 30L),
      (9L, "NEW", 900L)))
    // row for row the copy-on-write TableIO.upsert answer
    val cow = new graft.ingest.ParquetTableIO(newTable())
    cow.overwrite(base, "t")
    cow.upsert(spark, src, "t", Seq("id"))
    assert(cow.read(spark, "t").select("id", "v", "amt")
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq === got)
    // an insert-only upsert masks nothing
    val r3 = DeltaLakeDml.upsert(spark, t,
      Seq((10L, "I", 1L)).toDF("id", "v", "amt"), Seq("id"))
    assert(r3.rowsDeleted === 0L && r3.filesChanged === 0 &&
      r3.rowsInserted === 1L)
    val dup = Seq((1L, "x", 1L), (1L, "y", 2L)).toDF("id", "v", "amt")
    val e = intercept[IllegalArgumentException] {
      DeltaLakeDml.upsert(spark, t, dup, Seq("id"))
    }
    assert(e.getMessage.contains("duplicate keys"))
    // missing columns reject too (update-all needs the full set)
    val e2 = intercept[IllegalArgumentException] {
      DeltaLakeDml.upsert(spark, t, Seq(Tuple1(1L)).toDF("id"), Seq("id"))
    }
    assert(e2.getMessage.contains("full column set"))
  }

  test("DML on a column-mapped (name mode) table: condition runs on " +
      "LOGICAL columns, rewrites stage physical") {
    import org.apache.spark.sql.types._
    val t = newTable()
    val log = new java.io.File(t, "_delta_log"); log.mkdirs()
    def f(logical: String, dt: DataType, phys: String,
        id: Long): StructField =
      StructField(logical, dt, nullable = true,
        new MetadataBuilder()
          .putString("delta.columnMapping.physicalName", phys)
          .putLong("delta.columnMapping.id", id).build())
    val schema = StructType(Seq(
      f("id", LongType, "col-m1", 1L),
      f("v", StringType, "col-m2", 2L)))
    val schemaStr = new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValueAsString(schema.json)
    Files.write(new java.io.File(log, "00000000000000000000.json").toPath,
      (Seq("""{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
        s"""{"metaData":{"id":"cmdml","format":{"provider":"parquet","options":{}},"schemaString":$schemaStr,"partitionColumns":[],"configuration":{"delta.columnMapping.mode":"name"}}}""")
        .mkString("\n")).getBytes("UTF-8"))
    DeltaLakeWrite.append((0L until 6L).map(i => (i, s"v$i"))
      .toDF("id", "v"), t)
    DeltaLakeDml.delete(spark, t, "id IN (0, 2)")
    DeltaLakeDml.upsert(spark, t,
      Seq((4L, "UP"), (9L, "INS")).toDF("id", "v"), Seq("id"))
    val got = DeltaLakeRead.snapshot(spark, t)
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(got === Seq((1L, "v1"), (3L, "v3"), (4L, "UP"), (5L, "v5"),
      (9L, "INS")))
    // protocol upgrade preserved the columnMapping capability
    val st = DeltaLakeRead.state(spark, t)
    assert(st.readerFeatures.contains("columnMapping"))
    assert(st.writerFeatures.contains("columnMapping"))
  }

  test("DML + CDF on a column-mapped ID-MODE table: conditions on " +
      "logical columns, rewrites and change files stage with parquet " +
      "field ids, the diff reads back logically") {
    import org.apache.spark.sql.types._
    val t = newTable()
    val log = new java.io.File(t, "_delta_log"); log.mkdirs()
    def f(logical: String, dt: DataType, phys: String,
        id: Long): StructField =
      StructField(logical, dt, nullable = true,
        new MetadataBuilder()
          .putString("delta.columnMapping.physicalName", phys)
          .putLong("delta.columnMapping.id", id).build())
    val schema = StructType(Seq(
      f("id", LongType, "col-i1", 1L),
      f("v", StringType, "col-i2", 2L)))
    val schemaStr = new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValueAsString(schema.json)
    Files.write(new java.io.File(log, "00000000000000000000.json").toPath,
      (Seq("""{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
        s"""{"metaData":{"id":"cmid","format":{"provider":"parquet","options":{}},"schemaString":$schemaStr,"partitionColumns":[],"configuration":{"delta.columnMapping.mode":"id","delta.enableChangeDataFeed":"true"}}}""")
        .mkString("\n")).getBytes("UTF-8"))
    DeltaLakeWrite.append((0L until 6L).map(i => (i, s"v$i"))
      .toDF("id", "v").repartition(1), t)
    DeltaLakeDml.delete(spark, t, "id IN (0, 2)")
    DeltaLakeDml.upsert(spark, t,
      Seq((4L, "UP"), (9L, "INS")).toDF("id", "v"), Seq("id"))
    val got = DeltaLakeRead.snapshot(spark, t)
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(got === Seq((1L, "v1"), (3L, "v3"), (4L, "UP"), (5L, "v5"),
      (9L, "INS")))
    // the staged change files carry PHYSICAL names + field ids
    val cd = new java.io.File(t, "_change_data")
    assert(cd.isDirectory, "CDF-enabled DML must stage change files")
    val cdPart = cd.listFiles().find(_.getName.endsWith(".parquet")).get
    val cdSchema = spark.read.parquet(cdPart.getPath).schema
    assert(cdSchema.fieldNames.toSet ===
      Set("col-i1", "col-i2", graft.ingest.DeltaLakeCdf.ChangeTypeCol))
    assert(cdSchema("col-i1").metadata.contains("parquet.field.id"))
    // and the CDF reader restores logical names + change typing
    // (from version 2: the append at v1 is its own 6-row insert set)
    val changes = graft.ingest.DeltaLakeCdf.changes(spark, t, 2L)
    val byType = changes.groupBy(graft.ingest.DeltaLakeCdf.ChangeTypeCol)
      .count().as[(String, Long)].collect().toMap
    assert(byType === Map("delete" -> 2L, "update_preimage" -> 1L,
      "update_postimage" -> 1L, "insert" -> 1L))
    assert(changes.filter(org.apache.spark.sql.functions.col(
        graft.ingest.DeltaLakeCdf.ChangeTypeCol) === "insert")
      .select("id", "v").as[(Long, String)]
      .collect().toSeq === Seq((9L, "INS")))
  }

  test("checkpoint AFTER DML: DV descriptors and tombstones survive " +
      "the checkpoint; snapshot correct after vacuuming all commits") {
    val t = newTable()
    DeltaLakeWrite.append((0L until 10L).map(i => (i, s"v$i"))
      .toDF("id", "v"), t)
    DeltaLakeDml.delete(spark, t, "id % 2 = 1")
    val v = DeltaLakeDml.upsert(spark, t,
      Seq((4L, "UP"), (20L, "INS")).toDF("id", "v"), Seq("id")).version
    DeltaLakeWrite.checkpoint(spark, t, v)
    val log = new java.io.File(t, "_delta_log")
    (0L to v).foreach { i =>
      Files.delete(new java.io.File(log, f"$i%020d.json").toPath)
    }
    assert(ids(t) === Seq(0L, 2L, 4L, 6L, 8L, 20L))
    val got = DeltaLakeRead.snapshot(spark, t).filter("id = 4")
      .select("v").as[String].collect().toSeq
    assert(got === Seq("UP"))
    assert(DeltaLakeRead.state(spark, t).tombstones.nonEmpty)
  }

  test("DML on a partitioned table keeps partitionValues on the " +
      "remove/add pair and appends respect partitioning") {
    val t = newTable()
    DeltaLakeWrite.append(
      Seq((1L, "en"), (2L, "en"), (3L, "de"), (4L, "de"))
        .toDF("id", "lang").repartition(1), t, partitionBy = Seq("lang"))
    DeltaLakeDml.update(spark, t, "id = 3", Map("id" -> "id + 100"))
    val st = DeltaLakeRead.state(spark, t)
    val dvFile = st.files.find(_.dv.isDefined).get
    assert(dvFile.partitionValues.get("lang").flatten === Some("de"))
    assert(ids(t) === Seq(1L, 2L, 4L, 103L))
    // the rewritten row landed under its hive dir
    assert(DeltaLakeRead.snapshot(spark, t)
      .filter("lang = 'de'").select("id").as[Long].collect().sorted
      .toSeq === Seq(4L, 103L))
  }

  test("upsert on duplicate TARGET keys follows MERGE UPDATE ALL: " +
      "every matched target row lands a postimage copy, count kept") {
    val t = newTable()
    DeltaLakeWrite.append(Seq((1L, "a", 10L), (2L, "b", 20L),
      (2L, "b2", 21L), (3L, "c", 30L)).toDF("id", "v", "amt"), t)
    val src = Seq((2L, "U", 200L), (9L, "N", 900L))
      .toDF("id", "v", "amt")
    val r = DeltaLakeDml.upsert(spark, t, src, Seq("id"))
    // both id=2 target rows DV-deleted, BOTH replaced (not collapsed)
    assert(r.rowsDeleted === 2L)
    assert(r.rowsInserted === 3L) // 2 postimages for id=2 + 1 insert
    val got = DeltaLakeRead.snapshot(spark, t)
      .as[(Long, String, Long)].collect().sortBy(x => (x._1, x._2)).toSeq
    assert(got === Seq((1L, "a", 10L), (2L, "U", 200L), (2L, "U", 200L),
      (3L, "c", 30L), (9L, "N", 900L)))
  }

  test("protocol upgrade on a table ALREADY at table-features does " +
      "not re-imply legacy feature sets, only adds deletionVectors") {
    val t = newTable()
    DeltaLakeWrite.append((0L until 4L).map(i => (i, s"v$i"))
      .toDF("id", "v").repartition(1), t)
    // hand-commit v1: the table moves to minWriter=7 declaring ONLY
    // invariants — the features it actually uses
    val log = new java.io.File(t, "_delta_log")
    Files.write(new java.io.File(log, f"${1L}%020d.json").toPath,
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["invariants"]}}"""
        .getBytes("UTF-8"))
    DeltaLakeDml.delete(spark, t, "id = 0")
    val st = DeltaLakeRead.state(spark, t)
    assert(st.minReader === 3 && st.minWriter === 7)
    assert(st.writerFeatures.toSet ===
      Set("invariants", "deletionVectors"),
      "legacy-implied features (checkConstraints, columnMapping, ...) " +
      "must NOT appear — the table never declared them")
    assert(st.readerFeatures.toSet === Set("deletionVectors"))
    assert(ids(t) === Seq(1L, 2L, 3L))
  }

  test("DML runs the replacement-row plan ONCE: rowsInserted comes " +
      "from staged parquet footers, not a second source scan") {
    val t = newTable()
    DeltaLakeWrite.append((0L until 100L).map(i => (i, i * 10L))
      .toDF("id", "amt").repartition(1), t)
    def countJobs(body: => Unit): Int = JobLog.during(spark)(body).size
    // an UPDATE is exactly three Spark jobs: the pin of the matched
    // rows, the executor-side DV-write collect, and the staging write
    // of the rewritten rows. The old
    // `inserting.get.count()` re-ran the rewrite plan (snapshot scan
    // + filter) as a FOURTH job per DML call — pin it gone.
    val r = new java.util.concurrent.atomic.AtomicReference[
      DeltaLakeDml.DmlResult]()
    val jobs = countJobs {
      r.set(DeltaLakeDml.update(spark, t, "id >= 90",
        Map("amt" -> "amt + 1")))
    }
    assert(r.get().rowsDeleted === 10L && r.get().rowsInserted === 10L)
    assert(jobs <= 3, s"UPDATE launched $jobs jobs — the rewrite plan " +
      "must not run a second time for the insert count")
  }

  test("CONCURRENT DML serializes by recompute: racing disjoint " +
      "DELETEs on the same file both land, none lost") {
    val t = newTable()
    DeltaLakeWrite.append((0L until 100L).map(i => (i, s"v$i"))
      .toDF("id", "v").repartition(1), t)
    import java.util.concurrent.{CountDownLatch, Executors}
    val pool = Executors.newFixedThreadPool(2)
    val go = new CountDownLatch(1)
    def race(cond: String) = pool.submit(
      new java.util.concurrent.Callable[DeltaLakeDml.DmlResult] {
        def call() = { go.await(); DeltaLakeDml.delete(spark, t, cond) }
      })
    val a = race("id < 10")
    val b = race("id >= 90")
    go.countDown()
    val (ra, rb) = (a.get(), b.get())
    pool.shutdown()
    assert(ra.rowsDeleted === 10L && rb.rowsDeleted === 10L)
    assert(Set(ra.version, rb.version) === Set(1L, 2L),
      "the loser must recompute and land at the next version")
    assert(ids(t) === (10L until 90L).toSeq,
      "BOTH deletes must be applied — a lost update would resurrect " +
      "one side's rows")
    // the surviving DV carries the union of both deletes
    val st = DeltaLakeRead.state(spark, t)
    assert(st.files.map(_.dv.get.cardinality).sum === 20L)
  }

  test("an APPEND landing in the commit window is benign: the DML " +
      "slides to the next slot without recomputing (WriteSerializable)") {
    val t = newTable()
    DeltaLakeWrite.append((0L until 10L).map(i => (i, s"v$i"))
      .toDF("id", "v").repartition(1), t)
    // one-shot hook: an append lands AFTER the delete computed its
    // DVs against version 0 but BEFORE it claims a slot
    DeltaLakeDml.testBeforeCommit = () => {
      DeltaLakeDml.testBeforeCommit = () => ()
      DeltaLakeWrite.append(Seq((100L, "x")).toDF("id", "v"), t); ()
    }
    try {
      val r = DeltaLakeDml.delete(spark, t, "id = 0")
      assert(r.version === 2L,
        "slot 1 was the append's; the DML must slide to 2, not fail")
      assert(r.rowsDeleted === 1L)
    } finally DeltaLakeDml.testBeforeCommit = () => ()
    assert(ids(t) === ((1L until 10L) :+ 100L))
  }

  test("a conflicting mutation in the commit window forces recompute " +
      "(both apply); with maxRetries=0 the loser aborts loudly and " +
      "leaks nothing") {
    val t = newTable()
    DeltaLakeWrite.append((0L until 10L).map(i => (i, s"v$i"))
      .toDF("id", "v").repartition(1), t)
    // recompute path: a delete of id=2 lands in id=1's commit window
    DeltaLakeDml.testBeforeCommit = () => {
      DeltaLakeDml.testBeforeCommit = () => ()
      DeltaLakeDml.delete(spark, t, "id = 2"); ()
    }
    try {
      val r = DeltaLakeDml.delete(spark, t, "id = 1")
      assert(r.version === 2L && r.rowsDeleted === 1L)
    } finally DeltaLakeDml.testBeforeCommit = () => ()
    assert(ids(t) === Seq(0L, 3L, 4L, 5L, 6L, 7L, 8L, 9L),
      "both the window mutation and the recomputed one must apply")
    assert(DeltaLakeRead.state(spark, t).files
      .map(_.dv.get.cardinality).sum === 2L)
    // loud abort: the same race in every commit window until the 5
    // recomputes are spent — a delete of id=4 first, then updates that
    // rewrite id=5 to the value it already holds (each a DV re-add)
    var windows = 0
    def arm(): Unit = DeltaLakeDml.testBeforeCommit = () => {
      DeltaLakeDml.testBeforeCommit = () => ()
      windows += 1
      if (windows == 1) DeltaLakeDml.delete(spark, t, "id = 4")
      else DeltaLakeDml.update(spark, t, "id = 5", Map("v" -> "'v5'"))
      arm()
    }
    arm()
    try {
      val e = intercept[IllegalStateException] {
        DeltaLakeDml.delete(spark, t, "id = 3")
      }
      assert(e.getMessage.contains("giving up after 5 recomputes"))
      assert(windows === 6)
    } finally DeltaLakeDml.testBeforeCommit = () => ()
    // the window's delete DID land; the aborted one did not
    assert(ids(t) === Seq(0L, 3L, 5L, 6L, 7L, 8L, 9L))
    // the aborted attempt left no stray DV bin: every .bin on disk is
    // referenced by the current snapshot or a tombstone
    def walk(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).getOrElse(Array.empty).toSeq.flatMap {
        case x if x.isDirectory && x.getName == "_delta_log" => Nil
        case x if x.isDirectory => walk(x)
        case f if f.getName.endsWith(".bin") => Seq(f)
        case _ => Nil
      }
    val st = DeltaLakeRead.state(spark, t)
    val referenced = (st.files.flatMap(_.dv) ++
      st.tombstones.flatMap(_.dv)).map(d =>
      graft.ingest.DeletionVectors.resolvePath(new java.io.File(t), d)
        .getCanonicalPath).toSet
    val stray = walk(new java.io.File(t))
      .filterNot(f => referenced.contains(f.getCanonicalPath))
    assert(stray.isEmpty, s"aborted attempt leaked DV bins: $stray")
  }

  test("appendOnly tables refuse DML") {
    val t = newTable()
    DeltaLakeWrite.append(Seq((1L, "a")).toDF("id", "v"), t)
    val log = new java.io.File(t, "_delta_log")
    val st0 = DeltaLakeRead.state(spark, t)
    Files.write(new java.io.File(log, f"${1L}%020d.json").toPath,
      DeltaLakeWrite.metaDataJson(st0.metaId, st0.schema.json, Nil,
        Map("delta.appendOnly" -> "true"), None).getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException] {
      DeltaLakeDml.delete(spark, t, "id = 1")
    }
    assert(e.getMessage.contains("appendOnly"))
  }

  test("DML scans the version it replayed: an append landing between " +
      "the replay and the scan is slid past, never matched") {
    val t = newTable()
    DeltaLakeWrite.append((0L until 10L).map(i => (i, s"v$i"))
      .toDF("id", "v").repartition(1), t)
    // one-shot hook: the appended rows MATCH the condition, so a scan
    // of the head (a second replay) would find a file the replayed
    // state does not hold
    DeltaLakeDml.testAfterReplay = () => {
      DeltaLakeDml.testAfterReplay = () => ()
      DeltaLakeWrite.append(Seq((100L, "x"), (101L, "y"))
        .toDF("id", "v").repartition(1), t); ()
    }
    try {
      val r = DeltaLakeDml.delete(spark, t, "id = 0 OR id >= 100")
      assert(r.version === 2L,
        "slot 1 was the append's; the DELETE must take the next slot")
      assert(r.rowsDeleted === 1L, "only the pre-append row is deleted")
      assert(r.filesChanged === 1)
    } finally DeltaLakeDml.testAfterReplay = () => ()
    assert(ids(t) === ((1L until 10L) ++ Seq(100L, 101L)))
  }

  test("DV masking and DML stay exact under a table root that is " +
      "percent-encoded in the file URI (space, literal %, +), with " +
      "checkCardinality off and on") {
    Seq(false, true).foreach { check =>
      val d = Files.createTempDirectory("dv root %41 a+b").toFile
      d.deleteOnExit()
      val t = d.getPath
      if (check) spark.conf.set("spark.graft.dv.checkCardinality", "true")
      try {
        DeltaLakeWrite.append((0L until 20L).map(i => (i, s"v$i"))
          .toDF("id", "v").repartition(2), t)
        val uris = DeltaLakeRead.snapshotMeta(spark, t,
          DeltaLakeRead.state(spark, t))
          .select("__file").distinct().as[String].collect()
        assert(uris.nonEmpty && uris.forall(u =>
          u.contains("%20") && u.contains("%2541") && u.contains("+")),
          s"the URI must carry the encoded root: ${uris.toSeq}")
        assert(DeltaLakeDml.delete(spark, t, "id % 4 = 0")
          .rowsDeleted === 5L)
        assert(ids(t) === (0L until 20L).filterNot(_ % 4 == 0))
        // the second DELETE reads DV-bearing files: a missed mask
        // would re-match the masked rows or resurrect them
        assert(DeltaLakeDml.delete(spark, t, "id % 4 = 1")
          .rowsDeleted === 5L)
        assert(ids(t) === (0L until 20L).filter(_ % 4 >= 2))
        val u = DeltaLakeDml.upsert(spark, t,
          Seq((2L, "new"), (4L, "back"), (100L, "ins")).toDF("id", "v"),
          Seq("id"))
        assert(u.rowsDeleted === 1L && u.rowsInserted === 3L)
        val got = DeltaLakeRead.snapshot(spark, t).as[(Long, String)]
          .collect().sorted.toSeq
        val want = ((0L until 20L).filter(_ % 4 >= 2).map(i =>
          i -> (if (i == 2L) "new" else s"v$i")) ++
          Seq(4L -> "back", 100L -> "ins")).sorted
        assert(got === want, s"checkCardinality=$check")
      } finally spark.conf.unset("spark.graft.dv.checkCardinality")
    }
  }

  test("no per-row path decoding: the optimized plans of a DV-bearing " +
      "snapshot and of snapshotMeta carry no url_decode/regexp_replace") {
    val t = newTable()
    DeltaLakeWrite.append((0L until 10L).map(i => (i, s"v$i"))
      .toDF("id", "v").repartition(1), t)
    DeltaLakeWrite.append((10L until 20L).map(i => (i, s"v$i"))
      .toDF("id", "v").repartition(1), t)
    DeltaLakeDml.delete(spark, t, "id = 3")
    val st = DeltaLakeRead.state(spark, t)
    assert(st.files.count(_.dv.isDefined) === 1 &&
      st.files.count(_.dv.isEmpty) === 1)
    Seq("snapshot" -> DeltaLakeRead.snapshot(spark, t),
      "snapshotMeta" -> DeltaLakeRead.snapshotMeta(spark, t, st))
      .foreach { case (name, df) =>
        val plan = df.queryExecution.optimizedPlan.toString
        assert(plan.contains("dv_live"), s"$name: no DV filter\n$plan")
        Seq("url_decode", "regexp_replace").foreach(f =>
          assert(!plan.contains(f), s"$name decodes per row: $f\n$plan"))
      }
    assert(ids(t) === (0L until 20L).filterNot(_ == 3L))
  }

  /** The parquet scans of `root`'s data files (change files excluded)
    * in the physical plans of the queries `body` runs, adaptive stages
    * and cached relations included. */
  private def dataScans(root: String)(body: => Unit): Int = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        plans.add(qe.executedPlan); ()
      }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = (p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case m: InMemoryTableScanExec => scans(m.relation.cachedPlan)
      case s: FileSourceScanExec => Seq(s)
      case _ => Nil
    }) ++ p.children.flatMap(scans) ++ p.subqueries.flatMap(scans)
    spark.listenerManager.register(l)
    try {
      body
      var prev = -1; var spins = 0
      while (prev != plans.size && spins < 20) {
        prev = plans.size; Thread.sleep(100); spins += 1
      }
    } finally spark.listenerManager.unregister(l)
    val dir = new java.io.File(root).getCanonicalPath
    import scala.jdk.CollectionConverters._
    plans.asScala.toSeq.flatMap(scans).count(s =>
      s.relation.location.inputFiles.exists(f =>
        f.contains(dir) && !f.contains("_change_data")))
  }

  test("an upsert computes from one pinned pass: at most 12 jobs and one " +
      "scan of the target's data files (CDF on, half the keys hit)") {
    val t = newTable()
    DeltaLakeWrite.append((0L until 4000L).map(i => (i, i % 7, s"v$i"))
      .toDF("id", "g", "v").repartition(2), t,
      tableConfig = Map("delta.enableChangeDataFeed" -> "true"))
    // 400 source keys: the even ones hit, the odd ones insert
    val src = (0L until 400L).map(i =>
      (if (i % 2 == 0) i * 9 else 10000L + i, -1L, s"u$i"))
      .toDF("id", "g", "v")
    val r = new java.util.concurrent.atomic.AtomicReference[
      DeltaLakeDml.DmlResult]()
    var jobs = Seq.empty[JobLog.Job]
    val scans = dataScans(t) {
      jobs = JobLog.during(spark) {
        r.set(DeltaLakeDml.upsert(spark, t, src, Seq("id")))
      }
    }
    assert(r.get().rowsDeleted === 200L && r.get().rowsInserted === 400L)
    assert(jobs.size <= 12, jobs.map(_.site).mkString("\n"))
    assert(scans === 1, "the target's data files must be scanned once")
    val byType = graft.ingest.DeltaLakeCdf.changes(spark, t, 1L)
      .groupBy(graft.ingest.DeltaLakeCdf.ChangeTypeCol).count()
      .as[(String, Long)].collect().toMap
    assert(byType === Map("update_preimage" -> 200L,
      "update_postimage" -> 200L, "insert" -> 200L))
    assert(DeltaLakeRead.snapshot(spark, t).count() === 4200L)
  }

  test("a CDF upsert hitting a duplicated target key and emptying a " +
      "file, through one forced recompute, matches the hand model") {
    val t = newTable()
    val cdf = Map("delta.enableChangeDataFeed" -> "true")
    // v0: file A = ids 1, 2, 2, 3; v1: file B = ids 4, 5, 6
    DeltaLakeWrite.append(Seq((1L, "a"), (2L, "b"), (2L, "b2"), (3L, "c"))
      .toDF("id", "v").repartition(1), t, tableConfig = cdf)
    DeltaLakeWrite.append(Seq((4L, "d"), (5L, "e"), (6L, "f"))
      .toDF("id", "v").repartition(1), t, tableConfig = cdf)
    val fileB = DeltaLakeRead.state(spark, t, Some(1L)).files
      .map(_.path).filterNot(DeltaLakeRead.state(spark, t, Some(0L))
        .files.map(_.path).contains).head
    // the first attempt masks ids 4, 5 in B with a DV; the delete of
    // id 6 landing in its commit window leaves B with one live row
    // per match, so the recompute must retire B with a bare remove
    var windows = 0
    DeltaLakeDml.testBeforeCommit = () => {
      DeltaLakeDml.testBeforeCommit = () => ()
      windows += 1
      DeltaLakeDml.delete(spark, t, "id = 6"); ()
    }
    val pinned = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val r = try DeltaLakeDml.upsert(spark, t,
      Seq((2L, "U"), (4L, "D"), (5L, "E"), (9L, "N")).toDF("id", "v"),
      Seq("id"))
    finally DeltaLakeDml.testBeforeCommit = () => ()
    assert(windows === 1)
    val left = spark.sparkContext.getPersistentRDDs.keySet.toSet -- pinned
    assert(left.isEmpty, s"both attempts must release their pins: $left")
    // model: A loses both id-2 rows (DV of 2), B loses 4, 5 and is
    // empty (6 went in the window); 2 postimages of id 2, one each
    // for 4 and 5, one insert of 9
    assert(r.version === 3L && r.rowsDeleted === 4L &&
      r.rowsInserted === 5L && r.filesChanged === 2)
    val st = DeltaLakeRead.state(spark, t)
    assert(!st.files.exists(_.path == fileB), "B must be retired")
    assert(st.files.flatMap(_.dv).map(_.cardinality) === Seq(2L))
    val log = new java.io.File(t, "_delta_log")
    val commit = new String(Files.readAllBytes(
      new java.io.File(log, f"${3L}%020d.json").toPath), "UTF-8")
      .split("\n").toSeq
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val removes = commit.map(om.readTree).filter(_.has("remove"))
      .map(_.get("remove"))
    val removedB = removes.filter(_.get("path").asText == fileB)
    assert(removedB.size === 1 &&
      removedB.head.get("deletionVector").get("cardinality").asLong === 1L,
      "B leaves with its window DV, not with a new one")
    assert(!commit.exists(l => l.contains("\"add\"") && l.contains(fileB)),
      "a bare remove: no all-rows DV re-add of B")
    def byType(v: Long) = graft.ingest.DeltaLakeCdf.changes(spark, t, v,
      Some(v)).groupBy(graft.ingest.DeltaLakeCdf.ChangeTypeCol).count()
      .as[(String, Long)].collect().toMap
    assert(byType(2L) === Map("delete" -> 1L))
    assert(byType(3L) === Map("update_preimage" -> 4L,
      "update_postimage" -> 4L, "insert" -> 1L))
    val pre = graft.ingest.DeltaLakeCdf.changes(spark, t, 3L, Some(3L))
      .filter(org.apache.spark.sql.functions.col(
        graft.ingest.DeltaLakeCdf.ChangeTypeCol) === "update_preimage")
      .select("id", "v").as[(Long, String)].collect().sorted.toSeq
    assert(pre === Seq((2L, "b"), (2L, "b2"), (4L, "d"), (5L, "e")))
    val got = DeltaLakeRead.snapshot(spark, t).as[(Long, String)]
      .collect().sorted.toSeq
    assert(got === Seq((1L, "a"), (2L, "U"), (2L, "U"), (3L, "c"),
      (4L, "D"), (5L, "E"), (9L, "N")))
  }

  test("a data file whose footer holds fewer rows than its old DV masks " +
      "fails the mutation instead of being retired") {
    val t = newTable()
    val root = new java.io.File(t)
    val tmp = new java.io.File(root, ".tmp")
    Seq((0L, "a"), (1L, "b"), (2L, "c"), (3L, "d")).toDF("id", "v")
      .coalesce(1).write.parquet(tmp.getPath)
    val data = new java.io.File(root, "part-0.parquet")
    Files.move(tmp.listFiles().find(_.getName.endsWith(".parquet")).get
      .toPath, data.toPath)
    // a 4-row file whose DV masks 8 positions: the log is corrupt
    val dv = graft.ingest.DeletionVectors.writeFile(root,
      (1L to 8L).toArray)
    val schema = new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValueAsString(Seq((0L, "")).toDF("id", "v").schema.json)
    val log = new java.io.File(root, "_delta_log"); log.mkdirs()
    Files.write(new java.io.File(log, f"${0L}%020d.json").toPath, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}""",
      s"""{"metaData":{"id":"short","format":{"provider":"parquet","options":{}},"schemaString":$schema,"partitionColumns":[],"configuration":{"delta.enableDeletionVectors":"true"}}}""",
      s"""{"add":{"path":"part-0.parquet","partitionValues":{},"size":${data.length},"modificationTime":0,"dataChange":true,"deletionVector":{"storageType":"u","pathOrInlineDv":"${dv.pathOrInlineDv}","offset":${dv.offset.get},"sizeInBytes":${dv.sizeInBytes},"cardinality":${dv.cardinality}}}}""")
      .mkString("\n").getBytes("UTF-8"))
    assert(ids(t) === Seq(0L))
    val pinned = persisted
    val e = intercept[Exception](DeltaLakeDml.delete(spark, t, "id = 0"))
    assert(e.getMessage.contains("fewer than the 8 its deletion vector"),
      e.getMessage)
    assert(persisted -- pinned === Set.empty, "the refusal left pins")
    assert(DeltaLakeRead.latestVersion(t) === 0L)
    assert(ids(t) === Seq(0L))
  }

  private def persisted: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Every DV `.bin` under the table, prefix directories included. */
  private def dvBins(t: String): Set[String] = {
    def walk(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).getOrElse(Array.empty).toSeq.flatMap(f =>
        if (f.isDirectory) walk(f) else Seq(f))
    walk(new java.io.File(t)).map(_.getPath).filter(_.endsWith(".bin")).toSet
  }

  test("UPDATE on a CDF table evaluates SET once: the table's new " +
      "values are the change feed's postimages") {
    import graft.ingest.DeltaLakeCdf
    import org.apache.spark.sql.functions.col
    val t = newTable()
    DeltaLakeWrite.append((0L until 20L).map(i => (i, s"v$i"))
      .toDF("id", "v").repartition(2), t,
      tableConfig = Map("delta.enableChangeDataFeed" -> "true"))
    val pinned = persisted
    // uuid() draws from a seed fixed at analysis, so two evaluations of
    // one plan agree; the timestamp is fixed per query, so the two
    // stagings of an unpinned rewrite would not
    val r = DeltaLakeDml.update(spark, t, "id % 2 = 0",
      Map("v" -> "concat(uuid(), ' ', cast(current_timestamp() as string))"))
    assert(persisted -- pinned === Set.empty)
    assert(r.rowsDeleted === 10L && r.rowsInserted === 10L)
    val table = DeltaLakeRead.snapshot(spark, t).filter("id % 2 = 0")
      .as[(Long, String)].collect().toMap
    val post = DeltaLakeCdf.changes(spark, t, r.version)
      .filter(col(DeltaLakeCdf.ChangeTypeCol) === "update_postimage")
      .select("id", "v").as[(Long, String)].collect().toMap
    assert(table.size === 10 && table.values.forall(_.length > 36))
    assert(post === table)
  }

  test("staging that fails after the DV step takes back the attempt's " +
      "DV files, leaves the snapshot as it was and releases its pins") {
    val t = newTable()
    DeltaLakeWrite.append((0L until 10L).map(i => (i, s"v$i"))
      .toDF("id", "v").repartition(1), t)
    val bins = dvBins(t)
    val (version, before) = (DeltaLakeRead.latestVersion(t), ids(t))
    val pinned = persisted
    // ids 0-2 of the one 10-row file: a DV is written, then the
    // replacement rows fail to stage
    val e = intercept[Exception](DeltaLakeDml.update(spark, t, "id < 3",
      Map("v" -> "raise_error('boom')")))
    assert(e.getMessage.contains("boom"), e.getMessage)
    assert(dvBins(t) === bins, "the attempt's DV files must be deleted")
    assert(DeltaLakeRead.latestVersion(t) === version)
    assert(ids(t) === before)
    assert(persisted -- pinned === Set.empty, "the failure left pins")
  }

  test("a DV job that fails partway takes back the bins its other tasks " +
      "wrote: no new .bin, the snapshot as it was, no pins left") {
    import org.apache.spark.sql.functions.col
    val t = newTable()
    val root = new java.io.File(t)
    // eight healthy 10-row files, then one whose 4-row footer sits
    // under an 8-row DV: its task refuses while the others write DVs
    val stage = new java.io.File(root, ".stage")
    (100L until 180L).toDF("id").withColumn("v", col("id").cast("string"))
      .repartition(8).write.parquet(stage.getPath)
    Seq((0L, "a"), (1L, "b"), (2L, "c"), (3L, "d")).toDF("id", "v")
      .coalesce(1).write.parquet(new java.io.File(stage, "bad").getPath)
    val parts = (stage.listFiles() ++ new java.io.File(stage, "bad")
      .listFiles()).filter(_.getName.endsWith(".parquet")).toSeq
    val data = parts.zipWithIndex.map { case (p, i) =>
      val f = new java.io.File(root, s"part-$i.parquet")
      Files.move(p.toPath, f.toPath); f
    }
    val dv = graft.ingest.DeletionVectors.writeFile(root,
      (1L to 8L).toArray)
    val schema = new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValueAsString(Seq((0L, "")).toDF("id", "v").schema.json)
    def add(f: java.io.File, dvJson: String) =
      s"""{"add":{"path":"${f.getName}","partitionValues":{},"size":${f.length},"modificationTime":0,"dataChange":true$dvJson}}"""
    val log = new java.io.File(root, "_delta_log"); log.mkdirs()
    Files.write(new java.io.File(log, f"${0L}%020d.json").toPath, (Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}""",
      s"""{"metaData":{"id":"partial","format":{"provider":"parquet","options":{}},"schemaString":$schema,"partitionColumns":[],"configuration":{"delta.enableDeletionVectors":"true"}}}""") ++
      data.init.map(add(_, "")) :+
      add(data.last, s""","deletionVector":{"storageType":"u","pathOrInlineDv":"${dv.pathOrInlineDv}","offset":${dv.offset.get},"sizeInBytes":${dv.sizeInBytes},"cardinality":${dv.cardinality}}"""))
      .mkString("\n").getBytes("UTF-8"))
    val (bins, before) = (dvBins(t), ids(t))
    assert(before.size === 81)
    val pinned = persisted
    val e = intercept[Exception](
      DeltaLakeDml.delete(spark, t, "id % 10 = 0"))
    assert(e.getMessage.contains("fewer than the 8 its deletion vector"),
      e.getMessage)
    // a task still running when the job failed drops its own bin
    // once it sees the attempt marked aborted
    val deadline = System.currentTimeMillis() + 10000L
    while (dvBins(t) != bins && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    assert(dvBins(t) === bins, "the failed attempt's DV bins must be deleted")
    assert(DeltaLakeRead.latestVersion(t) === 0L)
    assert(ids(t) === before)
    assert(persisted -- pinned === Set.empty, "the failure left pins")
  }
}
