package graft

import graft.ingest.{DeltaLakeCdf, DeltaLakeDml, DeltaLakeRead, DeltaLakeWrite}
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Change Data Feed: [[DeltaLakeDml]] writes `_change_data` files +
  * cdc actions when `delta.enableChangeDataFeed=true`;
  * [[DeltaLakeCdf.changes]] reads row-level diffs back — both pinned
  * to PROTOCOL.md § Add CDC File. */
class DeltaCdfSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val Cdf = Map("delta.enableChangeDataFeed" -> "true")

  private def newTable(): String = {
    val d = Files.createTempDirectory("delta_cdf").toFile
    d.deleteOnExit(); d.getPath
  }

  private def changeSet(t: String, from: Long,
      to: Option[Long] = None): Set[(Long, String, String, Long)] =
    DeltaLakeCdf.changes(spark, t, from, to)
      .select("id", "v", DeltaLakeCdf.ChangeTypeCol,
        DeltaLakeCdf.CommitVersionCol)
      .as[(Long, String, String, Long)].collect().toSet

  test("DML on a CDF table lands _change_data files + cdc actions; " +
      "changes() returns typed per-verb rows; appends derive inserts") {
    val t = newTable()
    DeltaLakeWrite.append(Seq((1L, "a"), (2L, "b"), (3L, "c"))
      .toDF("id", "v"), t, tableConfig = Cdf) // v0
    DeltaLakeDml.delete(spark, t, "id = 2")   // v1
    DeltaLakeDml.update(spark, t, "id = 3", Map("v" -> "'C'")) // v2
    DeltaLakeDml.upsert(spark, t,
      Seq((1L, "A2"), (9L, "new")).toDF("id", "v"), Seq("id")) // v3
    DeltaLakeWrite.append(Seq((4L, "d")).toDF("id", "v"), t,
      tableConfig = Cdf) // v4 — pure append, insert derived from adds
    // on-disk shape: cdc files under _change_data, cdc actions in logs
    assert(new java.io.File(t, "_change_data").isDirectory)
    val v1 = new String(Files.readAllBytes(new java.io.File(t,
      f"_delta_log/${1L}%020d.json").toPath))
    assert(v1.contains("\"cdc\"") && v1.contains("_change_data/"))
    assert(changeSet(t, 1L, Some(1L)) === Set((2L, "b", "delete", 1L)))
    assert(changeSet(t, 2L, Some(2L)) === Set(
      (3L, "c", "update_preimage", 2L),
      (3L, "C", "update_postimage", 2L)))
    assert(changeSet(t, 3L, Some(3L)) === Set(
      (1L, "a", "update_preimage", 3L),
      (1L, "A2", "update_postimage", 3L),
      (9L, "new", "insert", 3L)))
    assert(changeSet(t, 4L) === Set((4L, "d", "insert", 4L)))
    // the whole range at once, including the v0 insert derivation
    assert(changeSet(t, 0L).count(_._3 == "insert") === 5)
    // snapshot is unaffected by the cdc files (they are NOT data)
    assert(DeltaLakeRead.snapshot(spark, t).select("id").as[Long]
      .collect().sorted.toSeq === Seq(1L, 3L, 4L, 9L))
  }

  test("a pre-CDF DML commit in the range rejects loudly — its " +
      "deletes cannot be derived from the log") {
    val t = newTable()
    DeltaLakeWrite.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), t)
    DeltaLakeDml.delete(spark, t, "id = 1") // v1, NO cdc (CDF off)
    // enable CDF afterwards (metaData-only commit v2)
    val st = DeltaLakeRead.state(spark, t)
    val log = new java.io.File(t, "_delta_log")
    Files.write(new java.io.File(log, f"${2L}%020d.json").toPath,
      DeltaLakeWrite.metaDataJson(st.metaId, st.schema.json, Nil,
        st.config + ("delta.enableChangeDataFeed" -> "true"), None)
        .getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException] {
      DeltaLakeCdf.changes(spark, t, 1L)
    }
    assert(e.getMessage.contains("without change-data"))
    // but the post-enablement slice reads fine (v2 is metadata-only)
    assert(DeltaLakeCdf.changes(spark, t, 2L).count() === 0L)
    // and a table that never enabled CDF refuses up front
    val t2 = newTable()
    DeltaLakeWrite.append(Seq((1L, "a")).toDF("id", "v"), t2)
    val e2 = intercept[IllegalArgumentException] {
      DeltaLakeCdf.changes(spark, t2, 0L)
    }
    assert(e2.getMessage.contains("enableChangeDataFeed"))
  }

  test("CDF on a PARTITIONED table: change files land under hive " +
      "dirs, partition columns come back from partitionValues") {
    val t = newTable()
    DeltaLakeWrite.append(
      Seq((1L, "en"), (2L, "en"), (3L, "de"), (4L, "de"))
        .toDF("id", "lang").repartition(1), t,
      partitionBy = Seq("lang"), tableConfig = Cdf)
    DeltaLakeDml.delete(spark, t, "id = 3")
    val ch = DeltaLakeCdf.changes(spark, t, 1L)
      .select("id", "lang", DeltaLakeCdf.ChangeTypeCol)
      .as[(Long, String, String)].collect().toSet
    assert(ch === Set((3L, "de", "delete")))
    assert(new java.io.File(t, "_change_data/lang=de").isDirectory,
      "cdc files must respect the table's partitioning")
  }

  test("CDF on a column-mapped (name mode) table: change files carry " +
      "PHYSICAL column names + a literal _change_type; reader " +
      "restores logical names") {
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
      f("id", LongType, "col-c1", 1L),
      f("v", StringType, "col-c2", 2L)))
    val schemaStr = new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValueAsString(schema.json)
    Files.write(new java.io.File(log, "00000000000000000000.json").toPath,
      (Seq("""{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
        s"""{"metaData":{"id":"cdfcm","format":{"provider":"parquet","options":{}},"schemaString":$schemaStr,"partitionColumns":[],"configuration":{"delta.columnMapping.mode":"name","delta.enableChangeDataFeed":"true"}}}""")
        .mkString("\n")).getBytes("UTF-8"))
    DeltaLakeWrite.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), t)
    DeltaLakeDml.update(spark, t, "id = 2", Map("v" -> "upper(v)"))
    val ch = DeltaLakeCdf.changes(spark, t, 2L)
      .select("id", "v", DeltaLakeCdf.ChangeTypeCol)
      .as[(Long, String, String)].collect().toSet
    assert(ch === Set((2L, "b", "update_preimage"),
      (2L, "B", "update_postimage")))
    // the cdc parquet itself is physical-named + _change_type
    val cdcPart = new java.io.File(t, "_change_data").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    assert(spark.read.parquet(cdcPart.getPath).columns.toSet ===
      Set("col-c1", "col-c2", "_change_type"))
  }

  test("changes() across a CHECKPOINT-SEEDED replay: pre-range " +
      "commits may be vacuumed (state seeds from the checkpoint); a " +
      "vacuumed commit INSIDE the range is loud") {
    val t = newTable()
    DeltaLakeWrite.append((0L until 6L).map(i => (i, s"v$i"))
      .toDF("id", "v").repartition(1), t,
      tableConfig = Map("delta.enableChangeDataFeed" -> "true")) // v0
    DeltaLakeDml.delete(spark, t, "id = 1")                      // v1
    DeltaLakeWrite.append(Seq((10L, "x")).toDF("id", "v"), t)    // v2
    DeltaLakeDml.update(spark, t, "id = 10",
      Map("v" -> "upper(v)"))                                    // v3
    DeltaLakeWrite.checkpoint(spark, t, 2L)
    val log = new java.io.File(t, "_delta_log")
    Seq(0L, 1L, 2L).foreach { v =>
      Files.delete(new java.io.File(log, f"$v%020d.json").toPath)
    }
    // range [3,3]: its commit exists, state comes from the checkpoint
    val ch = DeltaLakeCdf.changes(spark, t, 3L)
      .select("id", "v", DeltaLakeCdf.ChangeTypeCol)
      .as[(Long, String, String)].collect().toSet
    assert(ch === Set((10L, "x", "update_preimage"),
      (10L, "X", "update_postimage")))
    // a range reaching into the vacuumed prefix cannot be served
    val e = intercept[IllegalArgumentException] {
      DeltaLakeCdf.changes(spark, t, 1L)
    }
    assert(e.getMessage.contains("missing"))
  }
  /** Write `df` as ONE parquet file at `table`/`rel`; its length. */
  private def writeOne(df: org.apache.spark.sql.DataFrame, table: String,
      rel: String): Long = {
    val tmp = Files.createTempDirectory("cdf_stage").toFile
    df.coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
    val part = tmp.listFiles().find(f => f.getName.startsWith("part-") &&
      f.getName.endsWith(".parquet")).get
    val dest = new java.io.File(table, rel)
    dest.getParentFile.mkdirs()
    Files.move(part.toPath, dest.toPath)
    dest.length()
  }

  private def commit(table: String, v: Long, lines: Seq[String]): Unit = {
    val log = new java.io.File(table, "_delta_log"); log.mkdirs()
    Files.write(new java.io.File(log, f"$v%020d.json").toPath,
      lines.mkString("\n").getBytes("UTF-8"))
    ()
  }

  private def metaData(schema: org.apache.spark.sql.types.StructType,
      partCols: Seq[String], conf: Map[String, String]): String = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    s"""{"metaData":{"id":"cdf","format":{"provider":"parquet","options":{}},"schemaString":${om.writeValueAsString(schema.json)},"partitionColumns":${om.writeValueAsString(partCols.toArray)},"configuration":${om.writeValueAsString(conf.asJava)}}}"""
  }

  test("CDF on a NON-HIVE partitioned table: partition values come " +
      "from each action's partitionValues, null included") {
    import org.apache.spark.sql.types._
    val t = newTable()
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", StringType), StructField("lang", StringType)))
    val a = writeOne(Seq((1L, "a")).toDF("id", "v"), t, "f-a.parquet")
    val b = writeOne(Seq((2L, "b")).toDF("id", "v"), t, "f-b.parquet")
    val c = writeOne(Seq((1L, "a", "delete")).toDF("id", "v",
      DeltaLakeCdf.ChangeTypeCol), t, "_change_data/c-1.parquet")
    commit(t, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":4}}""",
      metaData(schema, Seq("lang"), Cdf),
      s"""{"add":{"path":"f-a.parquet","partitionValues":{"lang":"en"},"size":$a,"modificationTime":0,"dataChange":true}}""",
      s"""{"add":{"path":"f-b.parquet","partitionValues":{"lang":null},"size":$b,"modificationTime":0,"dataChange":true}}"""))
    commit(t, 1, Seq(
      """{"remove":{"path":"f-a.parquet","deletionTimestamp":0,"dataChange":true}}""",
      s"""{"cdc":{"path":"_change_data/c-1.parquet","partitionValues":{"lang":"en"},"size":$c,"dataChange":false}}"""))
    val ch = DeltaLakeCdf.changes(spark, t, 0L)
      .select("id", "lang", DeltaLakeCdf.ChangeTypeCol,
        DeltaLakeCdf.CommitVersionCol)
      .as[(Long, Option[String], String, Long)].collect().toSet
    assert(ch === Set((1L, Some("en"), "insert", 0L),
      (2L, None, "insert", 0L), (1L, Some("en"), "delete", 1L)))
    assert(DeltaLakeRead.snapshot(spark, t).as[(Long, String, String)]
      .collect().toSeq === Seq((2L, "b", null)))
  }

  test("CDF on an id-mode table whose nested field carries no field " +
      "id refuses with the reader's message") {
    import org.apache.spark.sql.types._
    val t = newTable()
    def meta(phys: String, id: Option[Long]) = {
      val m = new MetadataBuilder()
        .putString("delta.columnMapping.physicalName", phys)
      id.foreach(m.putLong("delta.columnMapping.id", _))
      m.build()
    }
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = true, meta("col-1", Some(1L))),
      StructField("s", StructType(Seq(
        StructField("x", LongType, nullable = true, meta("col-3", None)))),
        nullable = true, meta("col-2", Some(2L)))))
    val size = writeOne(Seq(Tuple1(1L)).toDF("col-1"), t, "f.parquet")
    commit(t, 0, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      metaData(schema, Nil, Cdf + ("delta.columnMapping.mode" -> "id")),
      s"""{"add":{"path":"f.parquet","partitionValues":{},"size":$size,"modificationTime":0,"dataChange":true}}"""))
    val e = intercept[IllegalArgumentException] {
      DeltaLakeCdf.changes(spark, t, 0L)
    }
    assert(e.getMessage.contains("field x carries no " +
      "delta.columnMapping.id metadata — refusing to guess"), e.getMessage)
  }
}
