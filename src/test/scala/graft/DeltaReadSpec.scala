package graft

import com.fasterxml.jackson.databind.ObjectMapper
import graft.ingest.DeltaLakeRead
import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, struct}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** [[DeltaLakeRead]] against hand-built `_delta_log` trees — the
  * public Delta protocol (PROTOCOL.md) crafted action by action, no
  * delta-spark involved on either side. */
class DeltaReadSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val om = new ObjectMapper()

  private def newTable(): File = {
    val d = Files.createTempDirectory("delta_read").toFile
    d.deleteOnExit(); d
  }

  /** Write df as ONE parquet file at exactly `dest` (table-relative). */
  private def writeOne(df: DataFrame, table: File, rel: String): Unit = {
    val tmp = Files.createTempDirectory("dlr_stage").toFile
    df.coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
    val part = tmp.listFiles().find(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    val dest = new File(table, rel)
    dest.getParentFile.mkdirs()
    Files.move(part.toPath, dest.toPath, StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  private def commit(table: File, v: Long, lines: Seq[String]): Unit = {
    val log = new File(table, "_delta_log"); log.mkdirs()
    Files.write(new File(log, f"$v%020d.json").toPath,
      lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    ()
  }

  private def metaDataJson(schema: StructType, partCols: Seq[String],
      conf: Map[String, String] = Map.empty): String = {
    val n = om.createObjectNode(); val m = n.putObject("metaData")
    m.put("id", "spec-table")
    val fmt = m.putObject("format")
    fmt.put("provider", "parquet"); fmt.putObject("options")
    m.put("schemaString", schema.json)
    val pc = m.putArray("partitionColumns"); partCols.foreach(pc.add)
    val cf = m.putObject("configuration")
    conf.foreach { case (k, v) => cf.put(k, v) }
    om.writeValueAsString(n)
  }

  private def protocolJson(r: Int, w: Int,
      feats: Seq[String] = Nil): String = {
    val n = om.createObjectNode(); val p = n.putObject("protocol")
    p.put("minReaderVersion", r); p.put("minWriterVersion", w)
    if (feats.nonEmpty) {
      val a = p.putArray("readerFeatures"); feats.foreach(a.add)
    }
    om.writeValueAsString(n)
  }

  /** The logged size of `table`'s file at log path `path`. */
  private def size(table: File, path: String): Long =
    new File(table, DeltaLakeRead.decode(path)).length()

  private def addJson(table: File, path: String,
      pv: Map[String, Option[String]] = Map.empty,
      dv: Boolean = false): String = {
    val n = om.createObjectNode(); val a = n.putObject("add")
    a.put("path", path)
    val p = a.putObject("partitionValues")
    pv.foreach { case (k, v) =>
      v.fold { p.putNull(k); () } { s => p.put(k, s); () } }
    a.put("size", size(table, path)); a.put("modificationTime", 0L)
    a.put("dataChange", true)
    if (dv) {
      val d = a.putObject("deletionVector")
      d.put("storageType", "u"); d.put("pathOrInlineDv", "x")
      d.put("offset", 0); d.put("sizeInBytes", 1); d.put("cardinality", 1L)
    }
    om.writeValueAsString(n)
  }

  private def removeJson(path: String): String = {
    val n = om.createObjectNode(); val r = n.putObject("remove")
    r.put("path", path); r.put("deletionTimestamp", 0L)
    r.put("dataChange", true)
    om.writeValueAsString(n)
  }

  private val flatSchema = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType)))

  /** Distributed state reconstruction must be indistinguishable from
    * driver replay on ANY fixture — same files, tombstones, and
    * metadata (file/tombstone ORDER is insertion- vs sort-based, so
    * compare order-normalized). */
  private def assertStateParity(tablePath: String): Unit = {
    def stateWith(minBytes: Long) =
      DeltaLakeRead.stateImpl(spark, tablePath, None, None, minBytes)
    val a = stateWith(Long.MaxValue)
    val b = stateWith(0L)
    def norm(s: DeltaLakeRead.Snapshot) = s.copy(
      files = s.files.sortBy(f => (f.path, f.dv.toString)),
      tombstones = s.tombstones.sortBy(t => (t.path, t.dv.toString)))
    assert(norm(b) === norm(a),
      "distributed state diverged from driver replay")
  }

  test("unpartitioned snapshot: add/add/remove replay + versionAsOf " +
      "time travel") {
    val t = newTable()
    writeOne(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), t, "part-a.parquet")
    writeOne(Seq((3L, "c")).toDF("id", "v"), t, "part-b.parquet")
    commit(t, 0, Seq(protocolJson(1, 2), metaDataJson(flatSchema, Nil),
      addJson(t, "part-a.parquet")))
    commit(t, 1, Seq(addJson(t, "part-b.parquet")))
    commit(t, 2, Seq(removeJson("part-a.parquet")))

    assert(DeltaLakeRead.latestVersion(t.getPath) === 2L)
    def ids(v: Option[Long]) =
      DeltaLakeRead.snapshot(spark, t.getPath, v)
        .select("id").as[Long].collect().sorted.toSeq
    assert(ids(None) === Seq(3L))
    assert(ids(Some(0L)) === Seq(1L, 2L))
    assert(ids(Some(1L)) === Seq(1L, 2L, 3L))
    intercept[IllegalArgumentException] { ids(Some(9L)) }
  }

  test("partitioned hive-style layout reads as one relation with " +
      "partition columns restored from paths") {
    val t = newTable()
    val schema = StructType(flatSchema :+ StructField("lang", StringType))
    writeOne(Seq((1L, "a")).toDF("id", "v"), t, "lang=en/part-a.parquet")
    writeOne(Seq((2L, "b")).toDF("id", "v"), t, "lang=de/part-b.parquet")
    commit(t, 0, Seq(protocolJson(1, 2),
      metaDataJson(schema, Seq("lang")),
      addJson(t, "lang=en/part-a.parquet", Map("lang" -> Some("en"))),
      addJson(t, "lang=de/part-b.parquet", Map("lang" -> Some("de")))))
    val got = DeltaLakeRead.snapshot(spark, t.getPath)
      .select("id", "lang").as[(Long, String)].collect().sorted.toSeq
    assert(got === Seq((1L, "en"), (2L, "de")).sorted)
    // schema order follows the log's metaData, not the path layout
    assert(DeltaLakeRead.snapshot(spark, t.getPath).columns.toSeq ===
      Seq("id", "v", "lang"))
  }

  test("non-hive layout takes partition values from the log; null " +
      "partition value surfaces as SQL NULL") {
    val t = newTable()
    val schema = StructType(flatSchema :+ StructField("lang", StringType))
    writeOne(Seq((1L, "a")).toDF("id", "v"), t, "pa.parquet")
    writeOne(Seq((2L, "b")).toDF("id", "v"), t, "pb.parquet")
    commit(t, 0, Seq(protocolJson(1, 2),
      metaDataJson(schema, Seq("lang")),
      addJson(t, "pa.parquet", Map("lang" -> Some("en"))),
      addJson(t, "pb.parquet", Map("lang" -> None))))
    val got = DeltaLakeRead.snapshot(spark, t.getPath)
      .select("id", "lang").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).sorted.toSeq
    assert(got === Seq((1L, Some("en")), (2L, None)))
  }

  test("classic checkpoint seeds the replay; pre-checkpoint commits " +
      "may be vacuumed away") {
    val t = newTable()
    writeOne(Seq((1L, "a")).toDF("id", "v"), t, "part-a.parquet")
    writeOne(Seq((2L, "b")).toDF("id", "v"), t, "part-b.parquet")
    // checkpoint at v1 carrying state {metaData, protocol, add(part-a)}
    val cpSchema = StructType(Seq(
      StructField("add", StructType(Seq(
        StructField("path", StringType),
        StructField("partitionValues", MapType(StringType, StringType)),
        StructField("size", LongType),
        StructField("modificationTime", LongType),
        StructField("dataChange", BooleanType)))),
      StructField("metaData", StructType(Seq(
        StructField("schemaString", StringType),
        StructField("partitionColumns", ArrayType(StringType)),
        StructField("configuration", MapType(StringType, StringType))))),
      StructField("protocol", StructType(Seq(
        StructField("minReaderVersion", IntegerType),
        StructField("minWriterVersion", IntegerType))))))
    val cpRows = Seq(
      Row(Row("part-a.parquet", Map.empty[String, String],
        size(t, "part-a.parquet"), 0L, true),
        null, null),
      Row(null, Row(flatSchema.json, Seq.empty[String],
        Map.empty[String, String]), null),
      Row(null, null, Row(1, 2)))
    val cpDf = spark.createDataFrame(
      spark.sparkContext.parallelize(cpRows, 1), cpSchema)
    writeOne(cpDf, t,
      "_delta_log/00000000000000000001.checkpoint.parquet")
    // only the post-checkpoint commit exists (0/1 vacuumed)
    commit(t, 2, Seq(addJson(t, "part-b.parquet")))
    val ids = DeltaLakeRead.snapshot(spark, t.getPath)
      .select("id").as[Long].collect().sorted.toSeq
    assert(ids === Seq(1L, 2L))
  }

  test("MULTI-PART classic checkpoint: all parts contribute adds, " +
      "replay seeds from the union") {
    val t = newTable()
    writeOne(Seq((1L, "a")).toDF("id", "v"), t, "part-a.parquet")
    writeOne(Seq((2L, "b")).toDF("id", "v"), t, "part-b.parquet")
    val addSchema = StructType(Seq(
      StructField("add", StructType(Seq(
        StructField("path", StringType),
        StructField("partitionValues", MapType(StringType, StringType)),
        StructField("size", LongType),
        StructField("modificationTime", LongType),
        StructField("dataChange", BooleanType)))),
      StructField("metaData", StructType(Seq(
        StructField("schemaString", StringType),
        StructField("partitionColumns", ArrayType(StringType)),
        StructField("configuration", MapType(StringType, StringType))))),
      StructField("protocol", StructType(Seq(
        StructField("minReaderVersion", IntegerType),
        StructField("minWriterVersion", IntegerType))))))
    def cpDf(rows: Seq[Row]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), addSchema)
    // part 1 of 2: metaData + protocol + add(part-a)
    writeOne(cpDf(Seq(
      Row(Row("part-a.parquet", Map.empty[String, String],
        size(t, "part-a.parquet"), 0L, true),
        null, null),
      Row(null, Row(flatSchema.json, Seq.empty[String],
        Map.empty[String, String]), null),
      Row(null, null, Row(1, 2)))), t,
      "_delta_log/00000000000000000003.checkpoint.0000000001.0000000002.parquet")
    // part 2 of 2: add(part-b) only
    writeOne(cpDf(Seq(
      Row(Row("part-b.parquet", Map.empty[String, String],
        size(t, "part-b.parquet"), 0L, true),
        null, null))), t,
      "_delta_log/00000000000000000003.checkpoint.0000000002.0000000002.parquet")
    // no JSON commits at all — state comes entirely from the parts
    val ids = DeltaLakeRead.snapshot(spark, t.getPath)
      .select("id").as[Long].collect().sorted.toSeq
    assert(ids === Seq(1L, 2L))
    assert(DeltaLakeRead.state(spark, t.getPath).version === 3L)
    assertStateParity(t.getPath)
  }

  test("INCOMPLETE multi-part checkpoint is never replayed: missing " +
      "part falls back to commit replay, and is loud when commits " +
      "were vacuumed — silent row loss is not an option") {
    val t = newTable()
    (0 until 3).foreach { i =>
      graft.ingest.DeltaLakeWrite.append(
        Seq((i.toLong, s"v$i")).toDF("id", "v"), t.getPath)
    }
    graft.ingest.DeltaLakeWrite.checkpoint(spark, t.getPath, 2L,
      parts = Some(2))
    val log = new File(t, "_delta_log")
    val partRx = ".*\\.checkpoint\\.\\d+\\.\\d+\\.parquet".r
    val parts = log.listFiles()
      .filter(f => partRx.matches(f.getName)).sortBy(_.getName)
    assert(parts.length === 2)
    // complete set seeds replay (sanity)
    assert(DeltaLakeRead.snapshot(spark, t.getPath)
      .select("id").as[Long].collect().sorted.toSeq === Seq(0L, 1L, 2L))
    // a crashed writer's partial set: part 2 of 2 missing — the
    // checkpoint must be ignored, commit replay still yields all rows
    Files.delete(parts.last.toPath)
    assert(DeltaLakeRead.snapshot(spark, t.getPath)
      .select("id").as[Long].collect().sorted.toSeq === Seq(0L, 1L, 2L))
    assert(DeltaLakeRead.latestVersion(t.getPath) === 2L)
    // commits vacuumed too → no complete seed exists; must throw,
    // never replay the partial part as the full state
    Files.delete(new File(log, f"${0L}%020d.json").toPath)
    val e = intercept[IllegalArgumentException] {
      DeltaLakeRead.snapshot(spark, t.getPath).collect()
    }
    assert(e.getMessage.contains("missing"))
  }

  test("unsupported protocol/table features are rejected loudly, " +
      "never misread") {
    def tableWith(lines: File => Seq[String]): String = {
      val t = newTable()
      writeOne(Seq((1L, "a")).toDF("id", "v"), t, "part-a.parquet")
      commit(t, 0, lines(t)); t.getPath
    }
    // unknown reader feature
    val e2 = intercept[IllegalArgumentException] {
      DeltaLakeRead.state(spark, tableWith(t => Seq(protocolJson(3, 7,
        Seq("someFutureFeature")), metaDataJson(flatSchema, Nil),
        addJson(t, "part-a.parquet"))))
    }
    assert(e2.getMessage.contains("unsupported Delta reader features"))
    // id mode without field-id metadata must refuse, not guess
    val e3 = intercept[IllegalArgumentException] {
      DeltaLakeRead.state(spark, tableWith(t => Seq(protocolJson(2, 5),
        metaDataJson(flatSchema, Nil,
          Map("delta.columnMapping.mode" -> "id")),
        addJson(t, "part-a.parquet"))))
    }
    assert(e3.getMessage.contains("delta.columnMapping.id"))
    // name mode without physicalName metadata must refuse, not guess
    val e5 = intercept[IllegalArgumentException] {
      DeltaLakeRead.state(spark, tableWith(t => Seq(protocolJson(2, 5),
        metaDataJson(flatSchema, Nil,
          Map("delta.columnMapping.mode" -> "name")),
        addJson(t, "part-a.parquet"))))
    }
    assert(e5.getMessage.contains("physicalName"))
    // supported reader-3 feature set passes (v2Checkpoint included)
    val ok = DeltaLakeRead.state(spark, tableWith(t => Seq(
      protocolJson(3, 7, Seq("timestampNtz", "v2Checkpoint")),
      metaDataJson(flatSchema, Nil), addJson(t, "part-a.parquet"))))
    assert(ok.files.map(_.path) === Seq("part-a.parquet"))
  }

  test("file actions reconcile by (path, dvId): a DV-update commit " +
      "whose add line PRECEDES its remove line must not lose the file") {
    val t = newTable()
    writeOne(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
      .repartition(1).sortWithinPartitions("id"), t, "part-a.parquet")
    val dv1 = graft.ingest.DeletionVectors.writeFile(t, Array(0L))
    val dv2 = graft.ingest.DeletionVectors.writeFile(t, Array(0L, 2L))
    def dvJson(d: graft.ingest.DeletionVectors.Descriptor): String = {
      val n = om.createObjectNode()
      n.put("storageType", d.storageType)
      n.put("pathOrInlineDv", d.pathOrInlineDv)
      d.offset.foreach(o => n.put("offset", o))
      n.put("sizeInBytes", d.sizeInBytes)
      n.put("cardinality", d.cardinality)
      om.writeValueAsString(n)
    }
    def addDv(d: graft.ingest.DeletionVectors.Descriptor): String =
      s"""{"add":{"path":"part-a.parquet","partitionValues":{},"size":${size(t, "part-a.parquet")},"modificationTime":0,"dataChange":true,"deletionVector":${dvJson(d)}}}"""
    def removeDv(d: graft.ingest.DeletionVectors.Descriptor): String =
      s"""{"remove":{"path":"part-a.parquet","deletionTimestamp":0,"dataChange":true,"deletionVector":${dvJson(d)}}}"""
    commit(t, 0, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}""",
      metaDataJson(flatSchema, Nil), addDv(dv1)))
    // the protocol does not fix intra-commit order: add(newDv) FIRST
    commit(t, 1, Seq(addDv(dv2), removeDv(dv1)))
    val st = DeltaLakeRead.state(spark, t.getPath)
    assert(st.files.size === 1, "path-only keying would drop the file")
    assert(st.files.head.dv.map(_.cardinality) === Some(2L))
    assert(st.tombstones.size === 1)
    assert(st.tombstones.head.dv.map(_.cardinality) === Some(1L))
    val ids = DeltaLakeRead.snapshot(spark, t.getPath)
      .select("id").as[Long].collect().sorted.toSeq
    assert(ids === Seq(2L))
    assertStateParity(t.getPath)
  }

  test("replay carries remove tombstones, txn app versions, and " +
      "domainMetadata; a later re-add of the same (path, dvId) clears " +
      "its tombstone") {
    val t = newTable()
    writeOne(Seq((1L, "a")).toDF("id", "v"), t, "part-a.parquet")
    commit(t, 0, Seq(protocolJson(1, 2), metaDataJson(flatSchema, Nil),
      addJson(t, "part-a.parquet"),
      """{"txn":{"appId":"stream-1","version":7}}""",
      """{"domainMetadata":{"domain":"d1","configuration":"{\"k\":1}","removed":false}}"""))
    commit(t, 1, Seq(removeJson("part-a.parquet"),
      """{"txn":{"appId":"stream-1","version":8}}"""))
    val st1 = DeltaLakeRead.state(spark, t.getPath)
    assert(st1.files.isEmpty)
    assert(st1.tombstones.map(_.path) === Seq("part-a.parquet"))
    assert(st1.txns === Map("stream-1" -> 8L))
    assert(st1.domains ===
      Seq(DeltaLakeRead.DomainMetadata("d1", "{\"k\":1}", false)))
    commit(t, 2, Seq(addJson(t, "part-a.parquet")))
    val st2 = DeltaLakeRead.state(spark, t.getPath)
    assert(st2.files.map(_.path) === Seq("part-a.parquet"))
    assert(st2.tombstones.isEmpty,
      "re-adding the same (path, dvId) must clear the tombstone")
    assertStateParity(t.getPath)
  }

  // ---- v2 (UUID-named) checkpoints ----------------------------------------

  private def v2AddRowsParquet(t: File, dest: File,
      paths: Seq[String]): Unit = {
    val addSchema = StructType(Seq(
      StructField("add", StructType(Seq(
        StructField("path", StringType),
        StructField("partitionValues", MapType(StringType, StringType)),
        StructField("size", LongType),
        StructField("modificationTime", LongType),
        StructField("dataChange", BooleanType))))))
    val rows = paths.map(p =>
      Row(Row(p, Map.empty[String, String], size(t, p), 0L, true)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), addSchema)
    val tmp = Files.createTempDirectory("v2sc").toFile
    df.coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
    val part = tmp.listFiles().find(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    dest.getParentFile.mkdirs()
    Files.move(part.toPath, dest.toPath, StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  test("v2 (UUID-named) JSON checkpoint with sidecar file actions " +
      "seeds the replay; pre-checkpoint commits may be vacuumed") {
    val t = newTable()
    writeOne(Seq((1L, "a")).toDF("id", "v"), t, "part-a.parquet")
    writeOne(Seq((2L, "b")).toDF("id", "v"), t, "part-b.parquet")
    writeOne(Seq((3L, "c")).toDF("id", "v"), t, "part-c.parquet")
    // sidecars carry the file actions (PROTOCOL.md § V2 spec files)
    v2AddRowsParquet(t, new File(t, "_delta_log/_sidecars/sc-1.parquet"),
      Seq("part-a.parquet"))
    v2AddRowsParquet(t, new File(t, "_delta_log/_sidecars/sc-2.parquet"),
      Seq("part-b.parquet"))
    val cpLines = Seq(
      protocolJson(3, 7, Seq("v2Checkpoint")),
      metaDataJson(flatSchema, Nil),
      """{"checkpointMetadata":{"version":1}}""",
      """{"sidecar":{"path":"sc-1.parquet","sizeInBytes":1,"modificationTime":0}}""",
      """{"sidecar":{"path":"sc-2.parquet","sizeInBytes":1,"modificationTime":0}}""")
    Files.write(new File(t,
      "_delta_log/00000000000000000001.checkpoint.80a083e8-7026-4e79-" +
      "81be-64bd76c43a11.json").toPath,
      cpLines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    // only the post-checkpoint commit survives
    commit(t, 2, Seq(addJson(t, "part-c.parquet")))
    val ids = DeltaLakeRead.snapshot(spark, t.getPath)
      .select("id").as[Long].collect().sorted.toSeq
    assert(ids === Seq(1L, 2L, 3L))
    assert(DeltaLakeRead.state(spark, t.getPath).version === 2L)
    assertStateParity(t.getPath)
  }

  test("v2 PARQUET checkpoint carrying file actions inline (no " +
      "sidecars) seeds the replay") {
    val t = newTable()
    writeOne(Seq((1L, "a")).toDF("id", "v"), t, "part-a.parquet")
    val cpSchema = StructType(Seq(
      StructField("add", StructType(Seq(
        StructField("path", StringType),
        StructField("partitionValues", MapType(StringType, StringType)),
        StructField("size", LongType),
        StructField("modificationTime", LongType),
        StructField("dataChange", BooleanType)))),
      StructField("metaData", StructType(Seq(
        StructField("schemaString", StringType),
        StructField("partitionColumns", ArrayType(StringType)),
        StructField("configuration", MapType(StringType, StringType))))),
      StructField("protocol", StructType(Seq(
        StructField("minReaderVersion", IntegerType),
        StructField("minWriterVersion", IntegerType),
        StructField("readerFeatures", ArrayType(StringType)),
        StructField("writerFeatures", ArrayType(StringType)))))))
    val rows = Seq(
      Row(Row("part-a.parquet", Map.empty[String, String],
        size(t, "part-a.parquet"), 0L, true),
        null, null),
      Row(null, Row(flatSchema.json, Seq.empty[String],
        Map.empty[String, String]), null),
      Row(null, null, Row(3, 7, Seq("v2Checkpoint"), Seq("v2Checkpoint"))))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), cpSchema)
    writeOne(df, t,
      "_delta_log/00000000000000000000.checkpoint.11a083e8-7026-4e79-" +
      "81be-64bd76c43a11.parquet")
    // no JSON commits at all
    val ids = DeltaLakeRead.snapshot(spark, t.getPath)
      .select("id").as[Long].collect().toSeq
    assert(ids === Seq(1L))
  }

  // ---- column mapping (id mode) -------------------------------------------

  test("column mapping id mode resolves by parquet FIELD ID, not by " +
      "name: file column names differ from both logical and physical") {
    val t = newTable()
    // parquet file columns named a/b, tagged with field ids 1/2
    val fileSchema = StructType(Seq(
      StructField("a", LongType, nullable = true,
        new MetadataBuilder().putLong("parquet.field.id", 1L).build()),
      StructField("b", StringType, nullable = true,
        new MetadataBuilder().putLong("parquet.field.id", 2L).build())))
    val fileDf = spark.createDataFrame(
      spark.sparkContext.parallelize(
        Seq(Row(1L, "x"), Row(2L, "y")), 1), fileSchema)
    writeOne(fileDf, t, "part-a.parquet")
    // log schema: logical id/v, physicalName col-zz1/col-zz2, ids 1/2
    def idField(logical: String, dt: DataType, phys: String,
        id: Long): StructField =
      StructField(logical, dt, nullable = true,
        new MetadataBuilder()
          .putString("delta.columnMapping.physicalName", phys)
          .putLong("delta.columnMapping.id", id).build())
    val logical = StructType(Seq(
      idField("id", LongType, "col-zz1", 1L),
      idField("v", StringType, "col-zz2", 2L)))
    commit(t, 0, Seq(protocolJson(2, 5),
      metaDataJson(logical, Nil,
        Map("delta.columnMapping.mode" -> "id",
            "delta.columnMapping.maxColumnId" -> "2")),
      addJson(t, "part-a.parquet")))
    val df = DeltaLakeRead.snapshot(spark, t.getPath)
    assert(df.columns.toSeq === Seq("id", "v"))
    val got = df.as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(got === Seq((1L, "x"), (2L, "y")))
  }

  test("deletion-vector subtraction survives a literal '+' in the " +
      "data-file name (form-decode would fail OPEN and resurrect " +
      "deleted rows); checkCardinality turns mismatches loud") {
    val t = newTable()
    writeOne(Seq((0L, "a"), (1L, "b"), (2L, "c")).toDF("id", "v")
      .repartition(1).sortWithinPartitions("id"), t, "part+x.parquet")
    val dv = graft.ingest.DeletionVectors.writeFile(t, Array(1L))
    val addLine = {
      val n = om.createObjectNode(); val a = n.putObject("add")
      a.put("path", "part+x.parquet"); a.putObject("partitionValues")
      a.put("size", size(t, "part+x.parquet")); a.put("modificationTime", 0L)
      a.put("dataChange", true)
      val d = a.putObject("deletionVector")
      d.put("storageType", dv.storageType)
      d.put("pathOrInlineDv", dv.pathOrInlineDv)
      dv.offset.foreach(o => d.put("offset", o))
      d.put("sizeInBytes", dv.sizeInBytes)
      d.put("cardinality", dv.cardinality)
      om.writeValueAsString(n)
    }
    commit(t, 0, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}""",
      metaDataJson(flatSchema, Nil), addLine))
    spark.conf.set("spark.graft.dv.checkCardinality", "true")
    try {
      val ids = DeltaLakeRead.snapshot(spark, t.getPath)
        .select("id").as[Long].collect().sorted.toSeq
      assert(ids === Seq(0L, 2L))
    } finally spark.conf.unset("spark.graft.dv.checkCardinality")
    assertStateParity(t.getPath)
  }

  test("empty table (every add removed) yields an empty frame with " +
      "the log schema") {
    val t = newTable()
    writeOne(Seq((1L, "a")).toDF("id", "v"), t, "part-a.parquet")
    commit(t, 0, Seq(protocolJson(1, 2), metaDataJson(flatSchema, Nil),
      addJson(t, "part-a.parquet")))
    commit(t, 1, Seq(removeJson("part-a.parquet")))
    val df = DeltaLakeRead.snapshot(spark, t.getPath)
    assert(df.columns.toSeq === Seq("id", "v"))
    assert(df.count() === 0L)
  }

  test("percent-encoded add paths are decoded before reading") {
    val t = newTable()
    writeOne(Seq((7L, "x")).toDF("id", "v"), t, "part a.parquet")
    commit(t, 0, Seq(protocolJson(1, 2), metaDataJson(flatSchema, Nil),
      addJson(t, "part%20a.parquet")))
    val ids = DeltaLakeRead.snapshot(spark, t.getPath)
      .select("id").as[Long].collect().toSeq
    assert(ids === Seq(7L))
    assertStateParity(t.getPath)
  }

  test("a literal '+' in an add path stays a '+' (URI percent " +
      "decoding, not form decoding)") {
    val t = newTable()
    writeOne(Seq((9L, "p")).toDF("id", "v"), t, "part+a.parquet")
    commit(t, 0, Seq(protocolJson(1, 2), metaDataJson(flatSchema, Nil),
      addJson(t, "part+a.parquet")))
    val ids = DeltaLakeRead.snapshot(spark, t.getPath)
      .select("id").as[Long].collect().toSeq
    assert(ids === Seq(9L))
  }

  test("normFile agrees with decode on names a file URI percent-" +
      "encodes (space, literal %, +)") {
    val root = "/tmp/dv root %41 a+b"
    Seq("plain.parquet", "a b.parquet", "100%41.parquet", "x+y.parquet",
        "sp ace%25+plus.parquet").foreach { name =>
      // the log's form: URI percent escaping, `+` left literal
      val logPath = new java.net.URI(null, null, name, null).getRawPath
      assert(DeltaLakeRead.decode(logPath) === name)
      // the scan's form: Hadoop's qualified-path URI string
      val uri = new org.apache.hadoop.fs.Path(s"file://$root/$name")
        .toUri.toString
      assert(uri.startsWith("file:") && uri.contains("%2541"), uri)
      assert(DeltaLakeRead.normFile(uri) ===
        s"$root/${DeltaLakeRead.decode(logPath)}", uri)
    }
  }

  // ---- column mapping (name mode) ----------------------------------------

  /** Logical schema whose fields map to UUID-ish physical parquet
    * names, nested struct fields included — the shape delta-spark
    * writes once `delta.columnMapping.mode=name` is set. */
  private def cmField(logical: String, dt: DataType,
      physical: String): StructField =
    StructField(logical, dt, nullable = true,
      new MetadataBuilder()
        .putString("delta.columnMapping.physicalName", physical)
        .putLong("delta.columnMapping.id", 1L).build())

  test("column mapping name mode: physical parquet names read back " +
      "under logical names, nested struct fields included") {
    val t = newTable()
    val nestedPhys = StructType(Seq(
      cmField("lat", DoubleType, "col-p3"),
      cmField("lon", DoubleType, "col-p4")))
    val logical = StructType(Seq(
      cmField("id", LongType, "col-p1"),
      cmField("name", StringType, "col-p2"),
      StructField("loc", nestedPhys, nullable = true,
        new MetadataBuilder()
          .putString("delta.columnMapping.physicalName", "col-p5")
          .putLong("delta.columnMapping.id", 5L).build())))
    // the parquet file carries ONLY physical names
    val phys = Seq((1L, "a", 1.5, 2.5), (2L, "b", 3.5, 4.5))
      .toDF("col-p1", "col-p2", "lat0", "lon0")
      .select(col("`col-p1`"), col("`col-p2`"),
        struct(col("lat0").as("col-p3"), col("lon0").as("col-p4"))
          .as("col-p5"))
    writeOne(phys, t, "part-a.parquet")
    commit(t, 0, Seq(protocolJson(2, 5),
      metaDataJson(logical, Nil,
        Map("delta.columnMapping.mode" -> "name",
            "delta.columnMapping.maxColumnId" -> "5")),
      addJson(t, "part-a.parquet")))
    val df = DeltaLakeRead.snapshot(spark, t.getPath)
    assert(df.columns.toSeq === Seq("id", "name", "loc"))
    assert(df.select("loc.lat").as[Double].collect().sorted.toSeq ===
      Seq(1.5, 3.5))
    val rows = df.selectExpr("id", "name", "loc.lon")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    assert(rows === Seq((1L, "a", 2.5), (2L, "b", 4.5)))
  }

  test("column mapping name mode: hive-style partition dirs and " +
      "partitionValues use PHYSICAL names; reader restores logical") {
    val t = newTable()
    val logical = StructType(Seq(
      cmField("id", LongType, "col-x1"),
      cmField("day", StringType, "col-x2")))
    writeOne(Seq(Tuple1(1L)).toDF("col-x1"), t,
      "col-x2=2024-01-01/part-a.parquet")
    writeOne(Seq(Tuple1(2L)).toDF("col-x1"), t,
      "col-x2=2024-01-02/part-b.parquet")
    commit(t, 0, Seq(protocolJson(2, 5),
      metaDataJson(logical, Seq("day"),
        Map("delta.columnMapping.mode" -> "name")),
      addJson(t, "col-x2=2024-01-01/part-a.parquet",
        Map("col-x2" -> Some("2024-01-01"))),
      addJson(t, "col-x2=2024-01-02/part-b.parquet",
        Map("col-x2" -> Some("2024-01-02")))))
    val df = DeltaLakeRead.snapshot(spark, t.getPath)
    assert(df.columns.toSeq === Seq("id", "day"))
    val got = df.as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(got === Seq((1L, "2024-01-01"), (2L, "2024-01-02")))
    // logical-name filters prune to the physical partition dir
    assert(df.filter(col("day") === "2024-01-02")
      .select("id").as[Long].collect().toSeq === Seq(2L))
  }

  test("column mapping name mode: non-hive layout reads " +
      "physical-keyed partitionValues (null included)") {
    val t = newTable()
    val logical = StructType(Seq(
      cmField("id", LongType, "col-y1"),
      cmField("src", StringType, "col-y2")))
    writeOne(Seq(Tuple1(1L)).toDF("col-y1"), t, "blob1.parquet")
    writeOne(Seq(Tuple1(2L)).toDF("col-y1"), t, "blob2.parquet")
    commit(t, 0, Seq(protocolJson(2, 5),
      metaDataJson(logical, Seq("src"),
        Map("delta.columnMapping.mode" -> "name")),
      addJson(t, "blob1.parquet", Map("col-y2" -> Some("api"))),
      addJson(t, "blob2.parquet", Map("col-y2" -> None))))
    val got = DeltaLakeRead.snapshot(spark, t.getPath)
      .as[(Long, Option[String])].collect().sortBy(_._1).toSeq
    assert(got === Seq((1L, Some("api")), (2L, None)))
    assertStateParity(t.getPath)
  }

  test("DISTRIBUTED state at scale: a 20k-add checkpoint + post-" +
      "checkpoint DML commits reconstructs identically to driver " +
      "replay; auto mode engages on the size threshold") {
    val t = newTable()
    val n = 20000
    // checkpoint rows built distributed (range → struct), never a
    // driver-side Seq — the fixture itself must not cheat the scale
    import org.apache.spark.sql.functions.{concat, concat_ws, lit, map}
    val cpAdds = spark.range(n).select(struct(
      concat_ws("", lit("lang=l"), (col("id") % 4).cast("string"),
        lit("/f"), col("id").cast("string"), lit(".parquet")).as("path"),
      map(lit("lang"),
        concat(lit("l"), (col("id") % 4).cast("string")))
        .as("partitionValues"),
      (col("id") + 100).as("size"),
      col("id").as("modificationTime"),
      lit(true).as("dataChange")).as("add"))
    val metaRow = spark.sql(
      s"""SELECT named_struct(
        'id', 'bigtable', 'format',
          named_struct('provider', 'parquet'),
        'schemaString', '${StructType(flatSchema :+
          StructField("lang", StringType)).json.replace("'", "\\'")}',
        'partitionColumns', array('lang'),
        'configuration', map('k', 'v')) AS metaData,
        named_struct('minReaderVersion', 1, 'minWriterVersion', 2)
          AS protocol""")
    val tmp = Files.createTempDirectory("bigcp").toFile
    cpAdds.unionByName(metaRow
        .withColumn("add", org.apache.spark.sql.functions.lit(null)
          .cast(cpAdds.schema("add").dataType))
        .select("add", "metaData", "protocol"),
      allowMissingColumns = true)
      .coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
    val part = tmp.listFiles().find(f => f.getName.startsWith("part-")
      && f.getName.endsWith(".parquet")).get
    val log = new File(t, "_delta_log"); log.mkdirs()
    Files.move(part.toPath, new File(log,
      "00000000000000000000.checkpoint.parquet").toPath,
      StandardCopyOption.REPLACE_EXISTING)
    // post-checkpoint commits: an append and a DML-shaped DV update
    commit(t, 1, Seq(addJson(t, "lang=l0/fresh.parquet",
      Map("lang" -> Some("l0")))))
    commit(t, 2, Seq(
      removeJson("lang=l1/f1.parquet"),
      addJson(t, "lang=l1/f1.parquet", Map("lang" -> Some("l1")),
        dv = true)))
    def stateWith(minBytes: Long) =
      DeltaLakeRead.stateImpl(spark, t.getPath, None, None, minBytes)
    val dist = stateWith(0L)
    assert(dist.files.size === n + 1,
      "20k checkpoint adds + 1 fresh - the DV re-add replaces in place")
    assert(dist.tombstones.size === 1)
    val dvFile = dist.files.find(_.path == "lang=l1/f1.parquet").get
    assert(dvFile.dv.isDefined, "the DV re-add must win over the " +
      "checkpoint's plain add for the same path")
    assert(dist.files.count(_.path == "lang=l1/f1.parquet") === 1)
    assert(dist.schema.fieldNames.toSeq === Seq("id", "v", "lang"))
    assert(dist.partitionColumns === Seq("lang"))
    assert(dist.config === Map("k" -> "v"))
    val spot = dist.files.find(_.path == "lang=l3/f7.parquet").get
    assert(spot.size === 107L && spot.modificationTime === 7L)
    assert(spot.partitionValues === Map("lang" -> Some("l3")))
    // full parity against driver replay
    assertStateParity(t.getPath)
    // the automatic choice engages purely on checkpoint bytes
    assert(stateWith(1L).files.size === n + 1)
  }
  // ---- scans planned from the log -----------------------------------------

  test("a logged size that disagrees with the data file fails the " +
      "read, never returns fewer rows") {
    val t = newTable()
    writeOne((0L until 100L).map(i => (i, s"v$i")).toDF("id", "v"), t,
      "part-a.parquet")
    val real = size(t, "part-a.parquet")
    Seq(0L, real / 2, real - 1, real + 1, 2 * real).foreach { logged =>
      val line = addJson(t, "part-a.parquet")
        .replace(s""""size":$real""", s""""size":$logged""")
      commit(t, 0, Seq(protocolJson(1, 2), metaDataJson(flatSchema, Nil),
        line))
      val got = scala.util.Try(
        DeltaLakeRead.snapshot(spark, t.getPath).count())
      assert(got.isFailure, s"size $logged of $real read $got rows")
    }
  }

  test("a partition filter scans only the matching files on hive, " +
      "non-hive and column-mapped (name) layouts") {
    def scanned(df: DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numFiles").value
      }.sum
    }
    // three files, two of them lang=en; `cm` maps id/lang to col-i/col-l
    def layout(hive: Boolean, cm: Boolean): File = {
      val t = newTable()
      def phys(c: String) = if (cm) s"col-${c.head}" else c
      val schema =
        if (cm) StructType(Seq(cmField("id", LongType, phys("id")),
          cmField("lang", StringType, phys("lang"))))
        else StructType(Seq(StructField("id", LongType),
          StructField("lang", StringType)))
      val files = Seq(("a", 1L, "en"), ("b", 2L, "en"), ("c", 3L, "de"))
        .map { case (n, id, lang) =>
          val rel = (if (hive) s"${phys("lang")}=$lang/" else "") +
            s"$n.parquet"
          writeOne(Seq(Tuple1(id)).toDF(phys("id")), t, rel)
          addJson(t, rel, Map(phys("lang") -> Some(lang)))
        }
      commit(t, 0, Seq(protocolJson(2, 5), metaDataJson(schema,
        Seq("lang"), if (cm) Map("delta.columnMapping.mode" -> "name")
        else Map.empty)) ++ files)
      t
    }
    Seq("hive" -> layout(hive = true, cm = false),
        "non-hive" -> layout(hive = false, cm = false),
        "column-mapped" -> layout(hive = true, cm = true))
      .foreach { case (name, t) =>
        val df = DeltaLakeRead.snapshot(spark, t.getPath)
        val en = df.filter(col("lang") === "en")
        assert(en.select("id").as[Long].collect().sorted.toSeq ===
          Seq(1L, 2L), name)
        assert(scanned(en) === 2L, name)
        assert(scanned(df.filter(col("lang") === "fr")) === 0L, name)
        assert(scanned(df) === 3L, name)
      }
  }

  test("Delta data reads plan from the log: no spark.read in " +
      "ingest/DeltaLake*.scala but the two log-parquet readers") {
    import scala.jdk.CollectionConverters._
    val dir = new File("src/main/scala/graft/ingest")
    val reads = dir.listFiles().toSeq
      .filter(f => f.getName.matches("DeltaLake.*\\.scala"))
      .sortBy(_.getName).flatMap { f =>
        Files.readAllLines(f.toPath).asScala.map(_.trim)
          .filterNot(l => l.startsWith("*") || l.startsWith("//"))
          .filter(_.contains("spark.read")).map(f.getName -> _)
      }
    assert(reads === Seq(
      // checkpoint and sidecar parquet
      "DeltaLakeRead.scala" ->
        "val df = spark.read.parquet(files.map(_.getPath): _*)",
      // the prior v2 checkpoint manifest
      "DeltaLakeWrite.scala" -> "spark.read.parquet(mf.getPath)"))
  }
}
