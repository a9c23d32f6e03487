package graft

import com.fasterxml.jackson.databind.ObjectMapper
import graft.ingest.{DeletionVectors, DeltaLakeRead}
import java.io.File
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** [[DeletionVectors]] codec round-trips plus [[DeltaLakeRead]]
  * against hand-built DV-bearing `_delta_log` trees — the public
  * protocol (PROTOCOL.md "Deletion Vectors") and the Roaring portable
  * spec, no delta jar on either side. */
class DeletionVectorSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val om = new ObjectMapper()

  // ---- Z85 ----------------------------------------------------------------

  test("Z85 round-trips arbitrary byte strings at every pad length") {
    val rnd = new scala.util.Random(42)
    for (len <- 1 to 33) {
      val bytes = Array.fill[Byte](len)(rnd.nextInt().toByte)
      val enc = DeletionVectors.z85Encode(bytes)
      assert(enc.length === (len + 3) / 4 * 5)
      assert(DeletionVectors.z85Decode(enc, len).toSeq === bytes.toSeq)
    }
  }

  test("Z85 rejects characters outside the alphabet") {
    intercept[IllegalArgumentException] {
      DeletionVectors.z85Decode("abcd\"", 4)
    }
  }

  // ---- Roaring portable ---------------------------------------------------

  test("roaring32 round-trips array containers, a bitmap container " +
      "(cardinality > 4096), and multiple keys") {
    val small = Array[Long](0L, 1L, 100L, 65535L)
    val dense = (0L until 5000L).map(_ * 2).toArray // one key, >4096
    val multi = Array[Long](5L, 70000L, 70001L, 1000000L, 0xffffffffL)
    for (vs <- Seq(small, dense, multi)) {
      val got = DeletionVectors.deserialize(DeletionVectors.serialize(vs))
      assert(got.toSeq === vs.sorted.toSeq)
    }
  }

  test("roaring32 parses RUN containers (hand-crafted run cookie)") {
    // one 32-bit bitmap in a one-entry bitmap array: one run container,
    // key 0, values 10..14 and 20..21
    val buf = ByteBuffer.allocate(64).order(ByteOrder.LITTLE_ENDIAN)
    buf.putInt(1681511377)        // RoaringBitmapArray magic
    buf.putLong(1L)               // one bitmap (high word 0)
    // SERIAL_COOKIE is 12347 (12346 is the no-run cookie, followed by
    // a 4-byte container count); the high 16 bits: containerCount-1 = 0
    buf.putInt(12347 | (0 << 16))
    buf.put(1.toByte)             // run flag bitset: container 0 is run
    buf.putShort(0)               // key
    buf.putShort((7 - 1).toShort) // cardinality-1
    // < 4 containers with run cookie → NO offset header
    buf.putShort(2)               // nRuns
    buf.putShort(10); buf.putShort(4) // 10..14
    buf.putShort(20); buf.putShort(1) // 20..21
    val got = DeletionVectors.deserialize(
      java.util.Arrays.copyOf(buf.array(), buf.position()))
    assert(got.toSeq === Seq(10L, 11L, 12L, 13L, 14L, 20L, 21L))
  }

  test("64-bit serialize/deserialize round-trips, including a GAP in " +
      "high words (empty bitmap emitted positionally)") {
    val pos = Array[Long](0L, 7L, (2L << 32) | 5L, (2L << 32) | 9L)
    val got = DeletionVectors.deserialize(DeletionVectors.serialize(pos))
    assert(got.toSeq === pos.sorted.toSeq)
  }

  test("bad magic is rejected") {
    val e = intercept[IllegalArgumentException] {
      DeletionVectors.deserialize(Array.fill[Byte](12)(0))
    }
    assert(e.getMessage.contains("magic"))
  }

  // ---- DV file + descriptor ----------------------------------------------

  test("writeFile → positions round-trips through the on-disk " +
      "version/size/CRC framing and the Z85 UUID file name") {
    val t = Files.createTempDirectory("dv_rt").toFile
    val pos = Array[Long](1L, 3L, 4L, 1000L)
    val d = DeletionVectors.writeFile(t, pos)
    assert(d.storageType === "u" && d.cardinality === 4L)
    assert(DeletionVectors.resolvePath(t, d).isFile)
    assert(DeletionVectors.positions(t, d).toSeq === pos.toSeq)
  }

  test("corrupted DV bytes fail the CRC check loudly") {
    val t = Files.createTempDirectory("dv_crc").toFile
    val d = DeletionVectors.writeFile(t, Array(1L, 2L))
    val f = DeletionVectors.resolvePath(t, d)
    val bytes = Files.readAllBytes(f.toPath)
    bytes(7) = (bytes(7) ^ 0xff).toByte
    Files.write(f.toPath, bytes)
    val e = intercept[IllegalArgumentException] {
      DeletionVectors.positions(t, d)
    }
    assert(e.getMessage.contains("checksum"))
  }

  test("inline ('i') descriptors decode without any file") {
    val pos = Array[Long](0L, 2L, 5L)
    val data = DeletionVectors.serialize(pos)
    val d = DeletionVectors.Descriptor("i",
      DeletionVectors.z85Encode(data), None, data.length, 3L)
    assert(DeletionVectors.positions(
      new File("/nonexistent"), d).toSeq === pos.toSeq)
  }

  test("cardinality mismatch between descriptor and bitmap is an error") {
    val data = DeletionVectors.serialize(Array(0L, 2L))
    val d = DeletionVectors.Descriptor("i",
      DeletionVectors.z85Encode(data), None, data.length, 5L)
    val e = intercept[IllegalArgumentException] {
      DeletionVectors.positions(new File("/nonexistent"), d)
    }
    assert(e.getMessage.contains("cardinality"))
  }

  // ---- table-level reads ---------------------------------------------------

  private def newTable(): File = {
    val d = Files.createTempDirectory("delta_dv").toFile
    d.deleteOnExit(); d
  }

  private def writeOne(df: DataFrame, table: File, rel: String): Unit = {
    val tmp = Files.createTempDirectory("dv_stage").toFile
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

  private def metaDataJson(schema: StructType): String = {
    val n = om.createObjectNode(); val m = n.putObject("metaData")
    m.put("id", "dv-spec-table")
    val fmt = m.putObject("format")
    fmt.put("provider", "parquet"); fmt.putObject("options")
    m.put("schemaString", schema.json)
    m.putArray("partitionColumns"); m.putObject("configuration")
    om.writeValueAsString(n)
  }

  private val dvProtocol =
    """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
    """"readerFeatures":["deletionVectors"],""" +
    """"writerFeatures":["deletionVectors"]}}"""

  private def addJson(table: File, path: String,
      dv: Option[DeletionVectors.Descriptor]): String = {
    val n = om.createObjectNode(); val a = n.putObject("add")
    a.put("path", path); a.putObject("partitionValues")
    a.put("size", new File(table, path).length())
    a.put("modificationTime", 0L)
    a.put("dataChange", true)
    dv.foreach { d =>
      val j = a.putObject("deletionVector")
      j.put("storageType", d.storageType)
      j.put("pathOrInlineDv", d.pathOrInlineDv)
      d.offset.foreach(o => j.put("offset", o))
      j.put("sizeInBytes", d.sizeInBytes)
      j.put("cardinality", d.cardinality)
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

  test("the delta DELETE pattern — v1 re-adds the same file with a " +
      "DV — subtracts exactly the deleted row positions") {
    val t = newTable()
    val rows = (0L until 10L).map(i => (i, s"r$i"))
    writeOne(rows.toDF("id", "v")
      .repartition(1).sortWithinPartitions("id"), t, "part-a.parquet")
    commit(t, 0, Seq(dvProtocol, metaDataJson(flatSchema),
      addJson(t, "part-a.parquet", None)))
    // positions 1, 3, 8 deleted (file row order == id order)
    val d = DeletionVectors.writeFile(t, Array(1L, 3L, 8L))
    commit(t, 1, Seq(removeJson("part-a.parquet"),
      addJson(t, "part-a.parquet", Some(d))))
    val got = DeltaLakeRead.snapshot(spark, t.getPath)
      .select("id").as[Long].collect().sorted.toSeq
    assert(got === Seq(0L, 2L, 4L, 5L, 6L, 7L, 9L))
    // time travel to v0 still sees every row
    assert(DeltaLakeRead.snapshot(spark, t.getPath, Some(0L)).count() === 10L)
  }

  test("mixed snapshot: clean files and DV-bearing files (file + " +
      "inline) union correctly; only the DV'd file loses rows") {
    val t = newTable()
    writeOne((0L until 5L).map(i => (i, "a")).toDF("id", "v")
      .repartition(1).sortWithinPartitions("id"), t, "part-a.parquet")
    writeOne((10L until 15L).map(i => (i, "b")).toDF("id", "v")
      .repartition(1).sortWithinPartitions("id"), t, "part-b.parquet")
    writeOne((20L until 25L).map(i => (i, "c")).toDF("id", "v")
      .repartition(1).sortWithinPartitions("id"), t, "part-c.parquet")
    val dFile = DeletionVectors.writeFile(t, Array(0L, 4L)) // drops 10, 14
    val inlineData = DeletionVectors.serialize(Array(2L))   // drops 22
    val dInline = DeletionVectors.Descriptor("i",
      DeletionVectors.z85Encode(inlineData), None, inlineData.length, 1L)
    commit(t, 0, Seq(dvProtocol, metaDataJson(flatSchema),
      addJson(t, "part-a.parquet", None),
      addJson(t, "part-b.parquet", Some(dFile)),
      addJson(t, "part-c.parquet", Some(dInline))))
    val got = DeltaLakeRead.snapshot(spark, t.getPath)
      .select("id").as[Long].collect().sorted.toSeq
    assert(got === Seq(0L, 1L, 2L, 3L, 4L, 11L, 12L, 13L,
      20L, 21L, 23L, 24L))
  }

  test("checkpoint emission over a DV-bearing table reproduces the " +
      "descriptors: snapshots stay DV-masked after the pre-checkpoint " +
      "log is vacuumed") {
    val t = newTable()
    val rows = (0L until 10L).map(i => (i, s"r$i"))
    writeOne(rows.toDF("id", "v")
      .repartition(1).sortWithinPartitions("id"), t, "part-a.parquet")
    val d = DeletionVectors.writeFile(t, Array(2L, 5L))
    commit(t, 0, Seq(dvProtocol, metaDataJson(flatSchema),
      addJson(t, "part-a.parquet", Some(d))))
    // ten engine appends → checkpoint lands at version 10
    (100L until 110L).foreach { i =>
      graft.ingest.DeltaLakeWrite.append(
        Seq((i, s"x$i")).toDF("id", "v"), t.getPath)
    }
    val log = new File(t, "_delta_log")
    assert(new File(log,
      "00000000000000000010.checkpoint.parquet").isFile)
    (0 until 10).foreach { v =>
      Files.delete(new File(log, f"$v%020d.json").toPath)
    }
    val got = DeltaLakeRead.snapshot(spark, t.getPath)
      .select("id").as[Long].collect().sorted.toSeq
    // rows 2 and 5 stay deleted THROUGH the checkpoint replay
    assert(got === (Seq(0L, 1L, 3L, 4L, 6L, 7L, 8L, 9L) ++
      (100L until 110L)).sorted)
    val st = DeltaLakeRead.state(spark, t.getPath)
    val dvs = st.files.flatMap(_.dv)
    assert(dvs.size === 1 && dvs.head.cardinality === 2L,
      "the checkpoint must carry the DV descriptor verbatim")
  }

  test("a DV covering every row of a file empties it without " +
      "touching its siblings") {
    val t = newTable()
    writeOne(Seq((1L, "x")).toDF("id", "v"), t, "part-a.parquet")
    writeOne(Seq((2L, "y")).toDF("id", "v"), t, "part-b.parquet")
    val d = DeletionVectors.writeFile(t, Array(0L))
    commit(t, 0, Seq(dvProtocol, metaDataJson(flatSchema),
      addJson(t, "part-a.parquet", Some(d)),
      addJson(t, "part-b.parquet", None)))
    assert(DeltaLakeRead.snapshot(spark, t.getPath)
      .select("id").as[Long].collect().toSeq === Seq(2L))
  }
}
