package graft.queries

import graft.QueryDef
import graft.core.Tables
import graft.ingest.{Cdc, IncrementalSource, Readers, Scd2}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Source-format and incremental-ingest queries (SURVEY §2.1 S1-S4,
  * S16; J1/J2/P5). Format round-trips write the parquet table out in
  * the source format to a temp dir, read it back through the engine's
  * reader, and oracle-check against the original table. */
object IngestQueries {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** S1: header CSV with recursive lookup + schema inference. */
  val qCsvRoundtrip: QueryDef = QueryDef(
    "q31_csv_roundtrip",
    "SELECT r_regionkey, r_name FROM region") { (s, dir) =>
    val out = tmp("graft_csv")
    Tables.load(s, dir, "region")
      .write.mode("overwrite").option("header", "true").csv(out)
    Readers.csv(s, out).select("r_regionkey", "r_name")
  }

  /** S2: JSON-lines with schema inference. */
  val qJsonRoundtrip: QueryDef = QueryDef(
    "q32_json_roundtrip",
    "SELECT n_nationkey, n_name, n_regionkey FROM nation") { (s, dir) =>
    val out = tmp("graft_json")
    Tables.load(s, dir, "nation").write.mode("overwrite").json(out)
    Readers.jsonLines(s, out).select("n_nationkey", "n_name", "n_regionkey")
  }

  /** S3: whole-file JSON array read with multiLine. */
  val qJsonMultiline: QueryDef = QueryDef(
    "q33_json_multiline",
    "SELECT n_nationkey, n_name, n_regionkey FROM nation") { (s, dir) =>
    val out = tmp("graft_mljson")
    val rows = Tables.load(s, dir, "nation").toJSON.collect()
    Files.writeString(java.nio.file.Paths.get(s"$out/nation.json"),
      rows.mkString("[\n", ",\n", "\n]"))
    Readers.jsonMultiLine(s, out)
      .select("n_nationkey", "n_name", "n_regionkey")
  }

  /** S4 + S16: binaryFile listing source cross-checked against the raw
    * Hadoop FS listing — counts and total bytes must agree. No SQL
    * oracle (DuckDB can't list files) → rows-only. */
  val qBinaryFiles: QueryDef = QueryDef.rowsOnly("q34_binary_files") { (s, dir) =>
    val listed = IncrementalSource.listFiles(s, dir, suffix = ".parquet")
    val viaSource = Readers.binaryFiles(s, dir, glob = "*.parquet")
      .select(col("path"), col("length"))
    import s.implicits._
    val viaFs = listed.map { case (p, len, _) => (p, len) }
      .toDF("path", "length")
    // inner join on both columns: row count == both counts iff identical
    viaSource.join(viaFs, Seq("path", "length"), "inner")
      .select(regexp_extract(col("path"), "([^/]+)$", 1).as("file"),
        col("length"))
  }

  /** J2/P5 via the library: per-key watermark incremental slice. */
  val qIncremental: QueryDef = QueryDef(
    "q35_incremental",
    """WITH processed AS (
      |  SELECT o_custkey, max(o_orderdate) AS max_ts FROM orders
      |  WHERE o_orderdate < TIMESTAMP '1996-01-01' GROUP BY 1)
      |SELECT o.o_orderkey, o.o_custkey, o.o_orderdate FROM orders o
      |LEFT JOIN processed p ON o.o_custkey = p.o_custkey
      |WHERE p.max_ts IS NULL OR o.o_orderdate > p.max_ts""".stripMargin) { (s, dir) =>
    val orders = Tables.load(s, dir, "orders")
    val processed = orders
      .filter(col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
    IncrementalSource.pastKeyedWatermark(
      orders, processed, "o_custkey", "o_orderdate")
      .select("o_orderkey", "o_custkey", "o_orderdate")
  }

  /** SCD2 dimension build: order-status history per customer collapsed
    * to [valid_from, valid_to) intervals (ingest.Scd2). */
  val qScd2: QueryDef = QueryDef(
    "q85_scd2",
    """WITH ch AS (
      |  SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
      |    lag(o_orderstatus) OVER
      |      (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev
      |  FROM orders),
      |chg AS (SELECT * FROM ch WHERE prev IS NULL OR prev <> o_orderstatus)
      |SELECT o_custkey, o_orderstatus, o_orderdate AS valid_from,
      |  lead(o_orderdate) OVER
      |    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS valid_to,
      |  lead(o_orderdate) OVER
      |    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) IS NULL
      |    AS is_current
      |FROM chg""".stripMargin) { (s, dir) =>
    Scd2.build(Tables.load(s, dir, "orders"),
      "o_custkey", "o_orderstatus", "o_orderdate", "o_orderkey")
  }

  /** ORC source/sink roundtrip (the second columnar format Spark ships
    * natively) — content proved identical via the table oracle. */
  val qOrcRoundtrip: QueryDef = QueryDef(
    "q95_orc_roundtrip",
    "SELECT n_nationkey, n_name, n_regionkey FROM nation") { (s, dir) =>
    val out = tmp("graft_orc")
    Tables.load(s, dir, "nation").write.mode("overwrite").orc(out)
    s.read.orc(out).select("n_nationkey", "n_name", "n_regionkey")
  }

  /** Line-oriented text source: write "key|name" lines, read back with
    * spark.read.text + split — the raw-log ingestion shape. */
  val qTextSource: QueryDef = QueryDef(
    "q96_text_source",
    "SELECT r_regionkey, r_name FROM region") { (s, dir) =>
    val out = tmp("graft_txt")
    Tables.load(s, dir, "region")
      .select(concat_ws("|", col("r_regionkey"), col("r_name")))
      .write.mode("overwrite").text(out)
    s.read.text(out)
      .select(
        split(col("value"), "\\|").getItem(0).cast("bigint").as("r_regionkey"),
        split(col("value"), "\\|").getItem(1).as("r_name"))
  }

  /** CDC apply: I/U/D change stream reconciled into the base snapshot;
    * latest change per key wins (%10==1 keys get two updates — seq 2
    * must override seq 1), deletes drop keys, inserts add new ones. */
  val qCdcApply: QueryDef = QueryDef(
    "q99_cdc_apply",
    """WITH ch AS (
      |  SELECT o_orderkey, o_custkey, o_totalprice, 'D' AS op, 1 AS seq
      |  FROM orders WHERE o_orderkey % 5 = 0
      |  UNION ALL
      |  SELECT o_orderkey, o_custkey, round(o_totalprice + 1000, 2), 'U', 1
      |  FROM orders WHERE o_orderkey % 5 = 1
      |  UNION ALL
      |  SELECT o_orderkey, o_custkey, round(o_totalprice + 2000, 2), 'U', 2
      |  FROM orders WHERE o_orderkey % 10 = 1
      |  UNION ALL
      |  SELECT o_orderkey + 10000000, o_custkey, o_totalprice, 'I', 1
      |  FROM orders WHERE o_orderkey % 5 = 2),
      |latest AS (
      |  SELECT * FROM (
      |    SELECT *, row_number() OVER (PARTITION BY o_orderkey
      |                                 ORDER BY seq DESC, op ASC) AS rn
      |    FROM ch) WHERE rn = 1)
      |SELECT o.o_orderkey, o.o_custkey, round(o.o_totalprice, 2) AS price
      |FROM orders o
      |WHERE NOT EXISTS (SELECT 1 FROM latest l WHERE l.o_orderkey = o.o_orderkey)
      |UNION ALL
      |SELECT o_orderkey, o_custkey, round(o_totalprice, 2)
      |FROM latest WHERE op <> 'D'""".stripMargin) { (s, dir) =>
    val base = Tables.load(s, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    def slice(m: Int, r: Int) = base.filter(col("o_orderkey") % m === r)
    val changes =
      slice(5, 0).withColumn("op", lit("D")).withColumn("seq", lit(1))
        .unionByName(slice(5, 1)
          .withColumn("o_totalprice", round(col("o_totalprice") + 1000, 2))
          .withColumn("op", lit("U")).withColumn("seq", lit(1)))
        .unionByName(slice(10, 1)
          .withColumn("o_totalprice", round(col("o_totalprice") + 2000, 2))
          .withColumn("op", lit("U")).withColumn("seq", lit(2)))
        .unionByName(slice(5, 2)
          .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
          .withColumn("op", lit("I")).withColumn("seq", lit(1)))
    Cdc.apply(base, changes, Seq("o_orderkey"), "op", "seq")
      .select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice"), 2).as("price"))
  }

  /** Corrupt-record quarantine: every 10th props envelope is truncated
    * into invalid JSON; Quarantine.parseJson routes rows by
    * parse-success in one projection. Output is the per-status audit
    * (counts + sum of the parsed field over good rows). */
  val qQuarantine: QueryDef = QueryDef(
    "q113_quarantine",
    """WITH raw AS (
      |  SELECT CASE WHEN event_id % 10 = 7
      |    THEN substring(props, 1, length(props) - 1)
      |    ELSE props END AS s
      |  FROM events)
      |SELECT CASE WHEN json_valid(s) THEN 'ok' ELSE 'quarantined' END AS status,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(coalesce(sum(CASE WHEN json_valid(s)
      |    THEN CAST(json_extract(s, '$.k') AS INT) END), 0) AS BIGINT) AS sum_k
      |FROM raw GROUP BY 1""".stripMargin) { (s, dir) =>
    val raw = Tables.load(s, dir, "events")
      .withColumn("s", when(col("event_id") % 10 === 7,
        expr("substring(props, 1, length(props) - 1)"))
        .otherwise(col("props")))
    graft.ingest.Quarantine.parseJson(raw, col("s"),
      org.apache.spark.sql.types.StructType.fromDDL("k INT"))
      .groupBy("status")
      .agg(count(lit(1)).as("n"),
        coalesce(sum(col("parsed.k")), lit(0L)).as("sum_k"))
  }

  /** Dynamic partition overwrite — the backfill primitive: rewrite
    * ONE partition's rows (status 'F', prices bumped) while the other
    * partitions' files are left physically untouched. The oracle is
    * the logical equivalent over the source table. */
  val qPartitionOverwrite: QueryDef = QueryDef(
    "q114_partition_overwrite",
    """SELECT o_orderkey, o_orderstatus AS status,
      |  round(CASE WHEN o_orderstatus = 'F'
      |        THEN o_totalprice + 1000 ELSE o_totalprice END, 2) AS price
      |FROM orders""".stripMargin) { (s, dir) =>
    val io = new graft.ingest.ParquetTableIO(
      java.nio.file.Files.createTempDirectory("graft_dyn").toString)
    val orders = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"),
        col("o_orderstatus").as("status"))
    io.overwrite(orders, "t", partitionBy = Seq("status"))
    io.overwritePartitions(
      orders.filter(col("status") === "F")
        .withColumn("o_totalprice", col("o_totalprice") + 1000),
      "t", partitionBy = Seq("status"))
    io.read(s, "t").select(col("o_orderkey"), col("status"),
      round(col("o_totalprice"), 2).as("price"))
  }

  /** Delta Lake interop (read side): stage the documents table as a
    * genuine `_delta_log` tree — v0 adds an en-partition file and a
    * rest-partition file, v1 REMOVES the rest file — then snapshot it
    * through [[graft.ingest.DeltaLakeRead]] (pure protocol replay, no
    * delta jars). The oracle sees only the surviving file's rows, so
    * the add/remove replay, path decoding, and file-list handoff are
    * all hash-gated; time travel, checkpoints, partition
    * reconstruction, column-mapping `name`-mode reads, deletion-vector
    * subtraction (DeletionVectorSpec), and the rejection matrix (cm
    * `id` mode, v2 checkpoints, unknown reader features) are specced
    * (DeltaReadSpec). */
  val qDeltaSnapshot: QueryDef = QueryDef(
    "q176_delta_snapshot",
    "SELECT doc_id, lang, text FROM documents WHERE lang = 'en'") {
    (s, dir) =>
    val t = tmp("graft_delta")
    val docs = Tables.load(s, dir, "documents")
      .select("doc_id", "lang", "text")
    def writeOne(df: org.apache.spark.sql.DataFrame, rel: String): Unit = {
      val stage = tmp("graft_delta_stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles().find(f =>
        f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        new java.io.File(t, rel).toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      ()
    }
    writeOne(docs.filter(col("lang") === "en"), "part-en.parquet")
    writeOne(docs.filter(col("lang") =!= "en"), "part-rest.parquet")
    // schemaString is a JSON document carried INSIDE a JSON string —
    // Jackson does the escaping
    val schemaStr = new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValueAsString(docs.schema.json)
    val meta = s"""{"metaData":{"id":"q176","format":{"provider":"parquet","options":{}},"schemaString":$schemaStr,"partitionColumns":[],"configuration":{}}}"""
    val log = new java.io.File(t, "_delta_log"); log.mkdirs()
    def size(rel: String) = new java.io.File(t, rel).length()
    java.nio.file.Files.write(
      new java.io.File(log, "00000000000000000000.json").toPath,
      Seq("""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
        meta,
        s"""{"add":{"path":"part-en.parquet","partitionValues":{},"size":${size("part-en.parquet")},"modificationTime":0,"dataChange":true}}""",
        s"""{"add":{"path":"part-rest.parquet","partitionValues":{},"size":${size("part-rest.parquet")},"modificationTime":0,"dataChange":true}}""")
        .mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.write(
      new java.io.File(log, "00000000000000000001.json").toPath,
      """{"remove":{"path":"part-rest.parquet","deletionTimestamp":0,"dataChange":true}}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    graft.ingest.DeltaLakeRead.snapshot(s, t)
  }

  /** Delta Lake interop (write→read loop): land the documents table
    * as a PARTITIONED Delta table via [[graft.ingest.DeltaLakeWrite]]
    * in two appends (en/de at v0, the rest at v1), then time-travel
    * back to v0 through [[graft.ingest.DeltaLakeRead]]. The oracle
    * sees only the first append's strata, so the hive-dir layout, the
    * add actions' partitionValues, version-slot assignment, AND the
    * reader's versionAsOf replay are all hash-gated in one loop. */
  val qDeltaWriteRead: QueryDef = QueryDef(
    "q177_delta_write_read",
    """SELECT doc_id, lang, text FROM documents
      |WHERE lang IN ('en', 'de')""".stripMargin) { (s, dir) =>
    val t = tmp("graft_delta_w")
    val docs = Tables.load(s, dir, "documents")
      .select("doc_id", "lang", "text")
    graft.ingest.DeltaLakeWrite.append(
      docs.filter(col("lang").isin("en", "de")), t,
      partitionBy = Seq("lang"))
    graft.ingest.DeltaLakeWrite.append(
      docs.filter(!col("lang").isin("en", "de")), t,
      partitionBy = Seq("lang"))
    graft.ingest.DeltaLakeRead.snapshot(s, t, versionAsOf = Some(0L))
      .select("doc_id", "lang", "text")
  }

  /** Write `df` as ONE parquet file at `root/rel`, rows in
    * within-partition order (interop FIXTURE staging — a single file
    * is the point here, so that row position is knowable; production
    * appends go through [[graft.ingest.DeltaLakeWrite]]). */
  private def stageOne(df: org.apache.spark.sql.DataFrame, root: String,
      rel: String): Unit = {
    val stage = tmp("graft_delta_stage")
    df.write.mode("overwrite").parquet(stage)
    val part = new java.io.File(stage).listFiles().find(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    val dest = new java.io.File(root, rel)
    dest.getParentFile.mkdirs()
    java.nio.file.Files.move(part.toPath, dest.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  private def deltaCommit(root: String, v: Long,
      lines: Seq[String]): Unit = {
    val log = new java.io.File(root, "_delta_log"); log.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(log, f"$v%020d.json").toPath,
      lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ()
  }

  private def deltaMeta(schema: org.apache.spark.sql.types.StructType,
      conf: String = "{}"): String = {
    val schemaStr = new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValueAsString(schema.json)
    s"""{"metaData":{"id":"graft-interop","format":{"provider":"parquet","options":{}},"schemaString":$schemaStr,"partitionColumns":[],"configuration":$conf}}"""
  }

  /** Delta Lake interop (deletion vectors): land the documents table
    * as one row-position-ordered Delta file, attach a deletion vector
    * marking every 7th POSITION deleted (the protocol's Roaring
    * bitmap in a CRC-framed `.bin`, built by
    * [[graft.ingest.DeletionVectors]]), and snapshot through
    * [[graft.ingest.DeltaLakeRead]]. doc_id is contiguous 0..N-1 and
    * the file is written in doc_id order, so position k IS doc_id k —
    * which lets DuckDB express the position predicate as `doc_id % 7`
    * and hash-gate the whole path: Z85 decode, bitmap deserialize,
    * `_metadata.row_index` anti-join. */
  val qDeltaDv: QueryDef = QueryDef(
    "q201_delta_dv",
    """SELECT doc_id, lang, text FROM documents
      |WHERE doc_id % 7 <> 0""".stripMargin) { (s, dir) =>
    val t = tmp("graft_delta_dv")
    val docs = Tables.load(s, dir, "documents")
      .select("doc_id", "lang", "text")
    stageOne(docs.repartition(1).sortWithinPartitions("doc_id"), t,
      "part-all.parquet")
    val n = docs.count()
    val d = graft.ingest.DeletionVectors.writeFile(
      new java.io.File(t), (0L until n by 7L).toArray)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val add = {
      val node = om.createObjectNode(); val a = node.putObject("add")
      a.put("path", "part-all.parquet"); a.putObject("partitionValues")
      a.put("size", new java.io.File(t, "part-all.parquet").length())
      a.put("modificationTime", 0L)
      a.put("dataChange", true)
      val j = a.putObject("deletionVector")
      j.put("storageType", d.storageType)
      j.put("pathOrInlineDv", d.pathOrInlineDv)
      d.offset.foreach(o => j.put("offset", o))
      j.put("sizeInBytes", d.sizeInBytes)
      j.put("cardinality", d.cardinality)
      om.writeValueAsString(node)
    }
    deltaCommit(t, 0, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}""",
      deltaMeta(docs.schema), add))
    graft.ingest.DeltaLakeRead.snapshot(s, t)
  }

  /** Delta Lake interop (checkpoint emission): 12 engine appends land
    * the documents table slice by slice; the 10th commit also lands a
    * CLASSIC checkpoint + `_last_checkpoint`
    * ([[graft.ingest.DeltaLakeWrite.checkpoint]]), and the query then
    * DELETES every pre-checkpoint commit before snapshotting — so the
    * hash gate proves the checkpoint alone reconstructs versions
    * 0-10's state (delta-spark replays the same way). */
  val qDeltaCheckpoint: QueryDef = QueryDef(
    "q202_delta_checkpoint",
    "SELECT doc_id, lang, text FROM documents") { (s, dir) =>
    val t = tmp("graft_delta_cp")
    val docs = Tables.load(s, dir, "documents")
      .select("doc_id", "lang", "text")
    // r15: 12 appends from ONE staging job (same log history —
    // per-slice commits, checkpoint at v10 — at 1 scan instead of 12)
    graft.ingest.DeltaLakeWrite.appendSliced(
      docs, col("doc_id") % 12, 12, t)
    val log = new java.io.File(t, "_delta_log")
    require(new java.io.File(log,
      "00000000000000000010.checkpoint.parquet").isFile,
      "checkpoint must have landed at version 10")
    (0 until 10).foreach { v =>
      java.nio.file.Files.delete(
        new java.io.File(log, f"$v%020d.json").toPath)
    }
    graft.ingest.DeltaLakeRead.snapshot(s, t)
  }

  /** Delta Lake interop (column mapping, `name` mode), BOTH
    * directions: the fixture file carries UUID-ish PHYSICAL column
    * names mapped to logical ones via
    * `delta.columnMapping.physicalName` field metadata (non-'en'
    * rows), then the ENGINE appends the 'en' slice through
    * [[graft.ingest.DeltaLakeWrite]] — which must stage its parquet
    * under the same physical names for the table to stay readable.
    * The oracle sees the whole documents table, so a rename-map slip
    * on either the read or the write path flips the hash. */
  val qDeltaColumnMapping: QueryDef = QueryDef(
    "q203_delta_cm",
    "SELECT doc_id, lang, text FROM documents") { (s, dir) =>
    import org.apache.spark.sql.types.{MetadataBuilder, StructField, StructType}
    val t = tmp("graft_delta_cm")
    val docs = Tables.load(s, dir, "documents")
      .select("doc_id", "lang", "text")
    // coalesce(1): stageOne moves exactly ONE part file — without it
    // a big-SF slice writes several parts and the fixture silently
    // truncates (caught by the sf10 gate)
    stageOne(docs.filter(col("lang") =!= "en").coalesce(1)
      .toDF("col-9f1", "col-9f2", "col-9f3"), t, "part-rest.parquet")
    def cm(f: StructField, phys: String, id: Long): StructField =
      f.copy(metadata = new MetadataBuilder()
        .putString("delta.columnMapping.physicalName", phys)
        .putLong("delta.columnMapping.id", id).build())
    val logical = StructType(Seq(
      cm(docs.schema("doc_id"), "col-9f1", 1L),
      cm(docs.schema("lang"), "col-9f2", 2L),
      cm(docs.schema("text"), "col-9f3", 3L)))
    deltaCommit(t, 0, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      deltaMeta(logical,
        """{"delta.columnMapping.mode":"name","delta.columnMapping.maxColumnId":"3"}"""),
      s"""{"add":{"path":"part-rest.parquet","partitionValues":{},"size":${new java.io.File(t, "part-rest.parquet").length()},"modificationTime":0,"dataChange":true}}"""))
    graft.ingest.DeltaLakeWrite.append(docs.filter(col("lang") === "en"), t)
    graft.ingest.DeltaLakeRead.snapshot(s, t)
  }

  /** Delta Lake interop (row-level DML): the orders table lands as a
    * real Delta table, a DELETE masks every `%10=3` key behind an
    * engine-emitted deletion vector (protocol upgrade to (3,7) +
    * `deletionVectors` included), and a MERGE-style upsert
    * ([[graft.ingest.DeltaLakeDml.upsert]]) update-alls the `%10=4`
    * keys while inserting fresh `+1e9` keys — the reference's own
    * bronze→silver MERGE shape
    * (alphavantage/bronze2_to_silver.py:142-152). The final snapshot
    * is read back through the engine's own DV-subtracting reader and
    * hash-gated against the set algebra in DuckDB, so DV encoding,
    * the (path, dvId) remove/add pair, the upsert join, and new-file
    * staging are all on the hook at once. */
  val qDeltaDml: QueryDef = QueryDef(
    "q205_delta_dml",
    """WITH src AS (
      |  SELECT o_orderkey, o_custkey, o_totalprice + 1000 AS o_totalprice
      |  FROM orders WHERE o_orderkey % 10 = 4
      |  UNION ALL
      |  SELECT o_orderkey + 1000000000, o_custkey, o_totalprice
      |  FROM orders WHERE o_orderkey % 10 = 5),
      |base AS (
      |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |  WHERE o_orderkey % 10 <> 3)
      |SELECT b.o_orderkey, b.o_custkey, round(b.o_totalprice, 2) AS price
      |FROM base b
      |WHERE NOT EXISTS (SELECT 1 FROM src s
      |                  WHERE s.o_orderkey = b.o_orderkey)
      |UNION ALL
      |SELECT o_orderkey, o_custkey, round(o_totalprice, 2) FROM src""".stripMargin) {
    (s, dir) =>
    val t = tmp("graft_delta_dml")
    val orders = Tables.load(s, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    // NOT widened (r15, measured): staging the base as 32 files
    // parallelizes the append write and the DML scans (max job 0.75 s
    // → 0.27 s) but adds MORE driver-side cost than it removes at this
    // SF — per-DML 34-path listings + 32-entry log parsing grew q205's
    // non-job wall 0.7 → 1.5 s (q209's 0.9 → 2.8 s). Reverted.
    graft.ingest.DeltaLakeWrite.append(orders, t)
    graft.ingest.DeltaLakeDml.delete(s, t, "o_orderkey % 10 = 3")
    val src = orders.filter(col("o_orderkey") % 10 === 4)
      .withColumn("o_totalprice", col("o_totalprice") + 1000)
      .unionByName(orders.filter(col("o_orderkey") % 10 === 5)
        .withColumn("o_orderkey", col("o_orderkey") + 1000000000L))
    graft.ingest.DeltaLakeDml.upsert(s, t, src, Seq("o_orderkey"))
    graft.ingest.DeltaLakeRead.snapshot(s, t)
      .select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice"), 2).as("price"))
  }

  /** Delta Lake interop (OPTIMIZE + VACUUM): the orders table lands
    * as 8 small appends, a DELETE masks every `%7=0` key behind a DV,
    * then [[graft.ingest.DeltaLakeMaintain.compact]] bin-packs the
    * fragments and MATERIALIZES the DV away (dataChange=false per the
    * protocol's OPTIMIZE convention) and vacuum(0) physically drops
    * the retired originals. The final snapshot must be bit-identical
    * to the logical content — compaction that changes a hash is
    * corruption — and in-query requires pin the physical claims
    * (fewer files, no DVs, originals gone). */
  val qDeltaCompact: QueryDef = QueryDef(
    "q207_delta_compact",
    """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price
      |FROM orders WHERE o_orderkey % 7 <> 0""".stripMargin) { (s, dir) =>
    val t = tmp("graft_delta_opt")
    val orders = Tables.load(s, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    // r15: 8 appends from ONE staging job (appendSliced)
    graft.ingest.DeltaLakeWrite.appendSliced(
      orders, col("o_orderkey") % 8, 8, t)
    graft.ingest.DeltaLakeDml.delete(s, t, "o_orderkey % 7 = 0")
    val before = graft.ingest.DeltaLakeRead.state(s, t).files.size
    val r = graft.ingest.DeltaLakeMaintain.compact(s, t)
    val st = graft.ingest.DeltaLakeRead.state(s, t)
    require(st.files.size < before, "compaction must shrink the file count")
    require(st.files.forall(_.dv.isEmpty), "DVs must be materialized away")
    Thread.sleep(10)
    val swept = graft.ingest.DeltaLakeMaintain.vacuum(s, t,
      retentionMs = Some(0L))
    require(swept.nonEmpty, "vacuum must collect the retired fragments")
    graft.ingest.DeltaLakeRead.snapshot(s, t)
      .select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice"), 2).as("price"))
  }

  /** Delta Lake interop (incremental consumption): the nation table
    * lands in 4 version-stamped appends;
    * [[graft.ingest.DeltaLakeRead.appendsSince]] reads exactly the
    * rows that arrived after version 1 — the reference's checkpointed
    * ingest shape (coin_to_delta_w_cp.py) with the TABLE VERSION as
    * the watermark instead of a control-table timestamp. Cost is
    * O(files added in range); the oracle is the slice algebra. */
  val qDeltaAppendsSince: QueryDef = QueryDef(
    "q208_delta_appends_since",
    """SELECT n_nationkey, n_name, n_regionkey FROM nation
      |WHERE n_nationkey % 4 IN (2, 3)""".stripMargin) { (s, dir) =>
    val t = tmp("graft_delta_inc")
    val nation = Tables.load(s, dir, "nation")
      .select("n_nationkey", "n_name", "n_regionkey")
    // r15: 4 appends from ONE staging job (appendSliced)
    graft.ingest.DeltaLakeWrite.appendSliced(
      nation, col("n_nationkey") % 4, 4, t)
    graft.ingest.DeltaLakeRead.appendsSince(s, t, 1L)
  }

  /** Delta Lake interop (change data feed): q205's DML cycle on a
    * table created with `delta.enableChangeDataFeed=true` — the DML
    * commits now ALSO land `_change_data/` parquet + cdc actions, and
    * [[graft.ingest.DeltaLakeCdf.changes]] reads the row-level diff
    * back: the DELETE's victims, the upsert's pre/postimage pairs,
    * and its inserts, each stamped with its commit version. The
    * oracle reconstructs the exact change set from the source table,
    * so the cdc staging, the authoritative-cdc reconciliation rule,
    * and the typed change rows are all hash-gated. */
  val qDeltaCdf: QueryDef = QueryDef(
    "q209_delta_cdf",
    """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price,
      |  'delete' AS change_type, CAST(1 AS BIGINT) AS commit_version
      |FROM orders WHERE o_orderkey % 10 = 3
      |UNION ALL
      |SELECT o_orderkey, o_custkey, round(o_totalprice, 2),
      |  'update_preimage', CAST(2 AS BIGINT)
      |FROM orders WHERE o_orderkey % 10 = 4
      |UNION ALL
      |SELECT o_orderkey, o_custkey, round(o_totalprice + 1000, 2),
      |  'update_postimage', CAST(2 AS BIGINT)
      |FROM orders WHERE o_orderkey % 10 = 4
      |UNION ALL
      |SELECT o_orderkey + 1000000000, o_custkey, round(o_totalprice, 2),
      |  'insert', CAST(2 AS BIGINT)
      |FROM orders WHERE o_orderkey % 10 = 5""".stripMargin) { (s, dir) =>
    val t = tmp("graft_delta_cdf")
    val orders = Tables.load(s, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    // NOT widened — same measured revert as q205
    graft.ingest.DeltaLakeWrite.append(orders, t,
      tableConfig = Map("delta.enableChangeDataFeed" -> "true"))
    graft.ingest.DeltaLakeDml.delete(s, t, "o_orderkey % 10 = 3")
    val src = orders.filter(col("o_orderkey") % 10 === 4)
      .withColumn("o_totalprice", col("o_totalprice") + 1000)
      .unionByName(orders.filter(col("o_orderkey") % 10 === 5)
        .withColumn("o_orderkey", col("o_orderkey") + 1000000000L))
    graft.ingest.DeltaLakeDml.upsert(s, t, src, Seq("o_orderkey"))
    graft.ingest.DeltaLakeCdf.changes(s, t, 1L)
      .select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice"), 2).as("price"),
        col(graft.ingest.DeltaLakeCdf.ChangeTypeCol).as("change_type"),
        col(graft.ingest.DeltaLakeCdf.CommitVersionCol)
          .as("commit_version"))
  }

  /** Delta Lake interop (STREAMING source): the nation table lands in
    * a real Delta table across staggered appends, and
    * [[graft.stream.StreamIngest.ingestDeltaAppends]] streams the
    * commit log into a versioned sink in TWO separate drains with an
    * OPTIMIZE between them — the file-source checkpoint over the
    * commit files is the version watermark (the reference's
    * coin_to_delta_w_cp.py contract as Structured Streaming). The
    * oracle is the plain table: any lost batch, double-applied
    * replay, or compaction mis-skip changes the hash. */
  val qDeltaStream: QueryDef = QueryDef(
    "q210_delta_stream",
    "SELECT n_nationkey, n_name, n_regionkey FROM nation") { (s, dir) =>
    val t = tmp("graft_delta_strm")
    val ck = tmp("graft_delta_strm_ck")
    val io = new graft.ingest.VersionedTableIO(tmp("graft_delta_strm_t"))
    val nation = Tables.load(s, dir, "nation")
      .select("n_nationkey", "n_name", "n_regionkey")
    // r15: each 2-append wave from ONE staging job (appendSliced;
    // out-of-range slice values drop, matching the %4===i filters)
    graft.ingest.DeltaLakeWrite.appendSliced(
      nation, col("n_nationkey") % 4, 2, t)
    graft.stream.StreamIngest.ingestDeltaAppends(s, t, ck, io, "sink")
    // second wave: compaction (benign for the stream) + two more slices
    graft.ingest.DeltaLakeMaintain.compact(s, t)
    graft.ingest.DeltaLakeWrite.appendSliced(
      nation, col("n_nationkey") % 4 - 2, 2, t)
    graft.stream.StreamIngest.ingestDeltaAppends(s, t, ck, io, "sink")
    io.read(s, "sink")
  }

  /** Delta Lake interop (column mapping ID MODE, write side): a
    * foreign id-mode table (hand-committed metadata: physical names +
    * field ids, `delta.columnMapping.mode=id` — what delta-spark 4.0
    * creates) receives ENGINE appends, whose staged parquet must
    * carry `parquet.field.id` footers, then a row-level UPDATE whose
    * rewrite stages id-resolved too. The snapshot reads everything
    * back by FIELD-ID resolution (names in the files are physical and
    * never consulted), hash-gated against the update algebra. */
  val qDeltaCmId: QueryDef = QueryDef(
    "q211_delta_cm_id",
    """SELECT c_custkey, c_name,
      |  round(c_acctbal + CASE WHEN c_custkey % 5 = 0 THEN 10 ELSE 0 END,
      |        2) AS bal
      |FROM customer""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.types.{MetadataBuilder, StructField, StructType}
    val t = tmp("graft_delta_cmid")
    val cust = Tables.load(s, dir, "customer")
      .select("c_custkey", "c_name", "c_acctbal")
    def cm(f: StructField, phys: String, id: Long): StructField =
      f.copy(metadata = new MetadataBuilder()
        .putString("delta.columnMapping.physicalName", phys)
        .putLong("delta.columnMapping.id", id).build())
    val logical = StructType(Seq(
      cm(cust.schema("c_custkey"), "col-id1", 1L),
      cm(cust.schema("c_name"), "col-id2", 2L),
      cm(cust.schema("c_acctbal"), "col-id3", 3L)))
    deltaCommit(t, 0, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      deltaMeta(logical,
        """{"delta.columnMapping.mode":"id","delta.columnMapping.maxColumnId":"3"}""")))
    graft.ingest.DeltaLakeWrite.append(
      cust.filter(col("c_custkey") % 2 === 0), t)
    graft.ingest.DeltaLakeWrite.append(
      cust.filter(col("c_custkey") % 2 =!= 0), t)
    graft.ingest.DeltaLakeDml.update(s, t, "c_custkey % 5 = 0",
      Map("c_acctbal" -> "c_acctbal + 10"))
    graft.ingest.DeltaLakeRead.snapshot(s, t)
      .select(col("c_custkey"), col("c_name"),
        round(col("c_acctbal"), 2).as("bal"))
  }

  val all: Seq[QueryDef] = Seq(qCsvRoundtrip, qJsonRoundtrip, qJsonMultiline,
    qBinaryFiles, qIncremental, qScd2, qOrcRoundtrip, qTextSource, qCdcApply,
    qQuarantine, qPartitionOverwrite, qDeltaSnapshot, qDeltaWriteRead,
    qDeltaDv, qDeltaCheckpoint, qDeltaColumnMapping, qDeltaDml,
    qDeltaCompact, qDeltaAppendsSince, qDeltaCdf, qDeltaStream, qDeltaCmId)
}
