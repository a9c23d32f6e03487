package graft.ingest

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}

/** Delta Lake WRITER — the other half of the [[DeltaLakeRead]]
  * interop story: tables this engine lands can be read back by
  * `spark.read.format("delta")` on the reference's own stack
  * (delta-spark), because what goes on disk is the public protocol
  * and nothing else — parquet data files plus newline-delimited JSON
  * actions under `_delta_log/` (PROTOCOL.md). Honesty note: the
  * harness classpath carries no delta jars, so cross-engine writes
  * are verified against [[DeltaLakeRead]] plus the protocol document,
  * not against delta-spark itself; a freshly created table uses only
  * protocol (1, 2) — the floor every Delta reader since 0.x accepts —
  * and no optional feature, precisely to keep that surface trivially
  * compatible.
  *
  * Scope: CREATE (version 0) and APPEND — the reference's own write
  * pattern for bronze ingest — including appends to column-mapped
  * (`name`-mode) tables, which stage parquet under the mapping's
  * PHYSICAL names. Row-level DML (DELETE/UPDATE/MERGE via deletion
  * vectors) lives in [[DeltaLakeDml]]; the older [[VersionedTableIO]]
  * format still serves the queries that have not moved to Delta
  * (ROADMAP item 6).
  *
  * Mechanics: data files are staged by a normal
  * `df.write.partitionBy(...).parquet` into a dot-prefixed temp dir
  * inside the table root (invisible to Delta readers and to Spark's
  * own parquet listings), then MOVED — same filesystem, metadata-only
  * rename — into place keeping Spark's unique part-file names; the
  * commit claims version slot `%020d.json` with a hard link (atomic
  * create-if-absent — the same conditional-put [[VersionedTableIO]]
  * uses), so concurrent appenders serialize by retrying onto the next
  * slot and never corrupt the log. Appends are add-only, hence
  * trivially commutative — no conflict detection needed beyond the
  * slot claim. */
object DeltaLakeWrite {

  private val om = new ObjectMapper()

  private[ingest] final case class Staged(rel: String,
      pv: Map[String, String], size: Long, rows: Long)

  /** Append `df` (creating the table at version 0 when absent).
    * Returns the committed version. Partition VALUES are restricted
    * to `[A-Za-z0-9._-]` — enough for the reference's `date=`/
    * `symbol=` layouts — so hive-dir names, log partitionValues, and
    * un-escaped paths all agree by construction; anything else is
    * rejected rather than escaped three slightly different ways.
    *
    * Every `checkpointInterval`-th version (the protocol's classic
    * default, 10) additionally lands a classic checkpoint parquet +
    * `_last_checkpoint`, so a table this engine keeps appending to
    * stays cheap for EVERY Delta reader — without it each snapshot
    * replays one JSON commit per append forever. 0 disables. Tables
    * carrying the `v2Checkpoint` writer feature get a V2 (UUID-named
    * manifest + sidecars) checkpoint instead — the form that feature
    * obliges writers to emit. */
  def append(df: DataFrame, tablePath: String,
      partitionBy: Seq[String] = Nil, checkpointInterval: Int = 10,
      tableConfig: Map[String, String] = Map.empty): Long = {
    var tries = 0
    while (true) {
      try {
        return graft.core.Ckpt.scoped(appendOnce(df, tablePath,
          partitionBy, checkpointInterval, tableConfig, _))
      } catch {
        case e: IdentityHwmRace =>
          tries += 1
          if (tries > 5) throw new IllegalStateException(
            s"giving up after 5 identity-allocation recomputes: " +
            s"${e.getMessage} — serialize the racing identity appends",
            e)
      }
    }
    -1L // unreachable
  }

  /** N appends from ONE staging job (round-15, guide §2.4/§2.6): stage
    * `df` hive-partitioned by `sliceExpr` (values outside [0, nSlices)
    * are dropped, matching the per-slice filters this replaces), then
    * commit slice i's files as the i-th sequential version — the same
    * log history as
    * `(0 until n).foreach(i => append(df.filter(slice === i), path))`
    * (one add-only commit per slice in slice order, version-0
    * protocol+metaData when creating, a classic checkpoint every
    * `checkpointInterval`-th version) at ONE source scan + one narrow
    * exchange instead of n full scans and n write jobs.
    *
    * Scope: unpartitioned tables whose schema carries no column
    * obligations (invariants / generated / identity) — obligation
    * enforcement is per-append-order-sensitive, so those callers keep
    * the sequential [[append]] path. Returns the last committed
    * version. */
  def appendSliced(df: DataFrame, sliceExpr: org.apache.spark.sql.Column,
      nSlices: Int, tablePath: String, checkpointInterval: Int = 10,
      tableConfig: Map[String, String] = Map.empty): Long = {
    require(nSlices > 0, "need at least one slice")
    val root = new File(tablePath)
    val log = new File(root, "_delta_log")
    log.mkdirs()
    val creating = Option(log.listFiles()).getOrElse(Array.empty)
      .forall(f =>
        "^([0-9]{20})\\.".r.findPrefixMatchOf(f.getName).isEmpty)
    var physDf = df
    var tableSchema = df.schema
    var stOpt: Option[DeltaLakeRead.Snapshot] = None
    if (!creating) {
      val st = DeltaLakeRead.state(df.sparkSession, tablePath)
      stOpt = Some(st)
      tableSchema = st.schema
      writeGate(st)
      require(st.partitionColumns.isEmpty,
        "appendSliced supports unpartitioned tables only")
      val dfr = df.select(st.schema.fields.toSeq.map(f =>
        col(DeltaLakeRead.quoted(f.name))): _*)
      val want = st.schema.map(f =>
        (f.name, DeltaLakeRead.stripType(f.dataType)))
      val got = dfr.schema.map(f =>
        (f.name, DeltaLakeRead.stripType(f.dataType)))
      require(want == got,
        s"schema mismatch: table has $want, append has $got")
      physDf = toPhysical(dfr, st)
    }
    val obligated = tableSchema.fields.exists(f =>
      Seq(InvariantsKey, GenerationExprKey, IdentityStartKey,
        IdentityStepKey, IdentityHwmKey).exists(f.metadata.contains))
    require(!obligated,
      "appendSliced does not enforce column obligations — append() " +
      "each slice instead")

    // one staging job: hive-partition by the slice id, repartitioned
    // so each slice lands as one part file; move parts flat into the
    // table root under slice-unique names (same-task part files share
    // a name across slice dirs)
    val sliceCol = "__graft_slice"
    val stage = new File(root, s".stage-${java.util.UUID.randomUUID()}")
    physDf.withColumn(sliceCol, sliceExpr.cast("int"))
      .repartition(nSlices, col(sliceCol))
      .write.partitionBy(sliceCol).parquet(stage.getPath)
    val staged: Map[Int, Seq[Staged]] =
      Option(stage.listFiles()).getOrElse(Array.empty).toSeq.flatMap {
        case d if d.isDirectory && d.getName.startsWith(s"$sliceCol=") =>
          scala.util.Try(d.getName.stripPrefix(s"$sliceCol=").toInt)
            .toOption.filter(i => i >= 0 && i < nSlices).toSeq
            .flatMap { i =>
              Option(d.listFiles()).getOrElse(Array.empty).toSeq
                .filter(f => f.getName.startsWith("part-") &&
                  f.getName.endsWith(".parquet"))
                .map { f =>
                  val rel = f"slice-$i%05d-${f.getName}"
                  val dest = new File(root, rel)
                  Files.move(f.toPath, dest.toPath,
                    StandardCopyOption.ATOMIC_MOVE)
                  i -> Staged(rel, Map.empty, dest.length(), 0L)
                }
            }
        case _ => Nil
      }.groupBy(_._1).map { case (i, xs) => i -> xs.map(_._2) }
    rmTree(stage)

    val now = System.currentTimeMillis()
    val cfg = stOpt.map(_.config).getOrElse(tableConfig)
    val ict = ictEnabled(cfg)
    val floor = ictFloor(cfg)
    var version = -1L
    (0 until nSlices).foreach { i =>
      val addLines = staged.getOrElse(i, Nil).map(s =>
        addJson(s.rel, Map.empty, s.size, now, dataChange = true,
          dv = None))
      val headerLines = if (creating && i == 0) {
        val proto =
          if (ict)
            """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["inCommitTimestamp"]}}"""
          else """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}"""
        Seq(proto, metaDataJson(java.util.UUID.randomUUID().toString,
          tableSchema.json, Nil, tableConfig, Some(now)))
      } else Nil
      val body = (headerLines ++ addLines).mkString("\n")
        .getBytes(StandardCharsets.UTF_8)
      version = commitSlot(log, body, ict, floor)
      if (checkpointInterval > 0 && version > 0 &&
          version % checkpointInterval == 0) {
        try checkpoint(df.sparkSession, tablePath, version)
        catch { case e: Exception => System.err.println(
          s"delta checkpoint at $version failed (table stays valid): $e") }
      }
    }
    version
  }

  /** A commit with a metaData action landed between this append's
    * snapshot read and its identity-bearing commit attempt — the high
    * watermark may have moved; re-execute against the new head. */
  private final class IdentityHwmRace(table: String, slot: Long)
    extends RuntimeException(
      s"conflicting metaData commit at version $slot of $table while " +
      "an identity allocation was in flight")

  private def appendOnce(df: DataFrame, tablePath: String,
      partitionBy: Seq[String], checkpointInterval: Int,
      tableConfig: Map[String, String], pins: graft.core.Ckpt.Pins): Long = {
    val root = new File(tablePath)
    val log = new File(root, "_delta_log")
    log.mkdirs()

    // a table whose commits were ALL vacuumed past a checkpoint still
    // exists — any version-prefixed log file (commit OR checkpoint)
    // means this is an append, not a create; matching commits alone
    // would stamp a fresh (1,2) protocol + metaData over the real one
    val creating = Option(log.listFiles()).getOrElse(Array.empty)
      .forall(f =>
        "^([0-9]{20})\\.".r.findPrefixMatchOf(f.getName).isEmpty)
    var physDf = df
    var physPartitionBy = partitionBy
    var tableSchema = df.schema
    var pendingIdentity: Seq[PendingIdentity] = Nil
    var stOpt: Option[DeltaLakeRead.Snapshot] = None
    if (!creating) {
      val st = DeltaLakeRead.state(df.sparkSession, tablePath)
      stOpt = Some(st)
      tableSchema = st.schema
      writeGate(st, topLevelObligationsOk = true)
      require(st.partitionColumns == partitionBy,
        s"table is partitioned by ${st.partitionColumns.mkString(",")}, " +
        s"append requested ${partitionBy.mkString(",")}")
      val (enforced, pending) = enforceColumnObligations(df, st.schema, pins)
      pendingIdentity = pending
      // obligations may have ADDED generated/identity columns —
      // reorder to the table schema before the drift check
      val dfr = enforced.select(st.schema.fields.toSeq.map(f =>
        col(DeltaLakeRead.quoted(f.name))): _*)
      val want = st.schema.map(f =>
        (f.name, DeltaLakeRead.stripType(f.dataType)))
      val got = dfr.schema.map(f =>
        (f.name, DeltaLakeRead.stripType(f.dataType)))
      require(want == got,
        s"schema mismatch: table has $want, append has $got")
      physDf = toPhysical(dfr, st)
      physPartitionBy = partitionBy.map(c =>
        DeltaLakeRead.physFieldName(st.schema(c)))
    } else {
      require(partitionBy.forall(df.columns.contains),
        s"partition columns ${partitionBy.mkString(",")} missing from df")
      val (enforced, pending) = enforceColumnObligations(df, df.schema, pins)
      pendingIdentity = pending
      physDf = enforced.select(df.schema.fields.toSeq.map(f =>
        col(DeltaLakeRead.quoted(f.name))): _*)
    }

    val staged = stageData(physDf, root, physPartitionBy)
    val now = System.currentTimeMillis()
    // an identity allocation moves the column's high watermark: the
    // SAME commit carries the updated metaData, so a crashed append
    // can never leak allocated ids without recording them
    val stagedRows = staged.map(_.rows).sum
    val schemaAfter = pendingIdentity.foldLeft(tableSchema) {
      (sch, p) =>
        if (stagedRows == 0) sch
        else withFieldMeta(sch, p.field, IdentityHwmKey,
          p.nextStart + p.step * (stagedRows - 1))
    }
    val addLines = staged.map(s =>
      addJson(s.rel, s.pv.map { case (k, v) => k -> Some(v) }, s.size,
        now, dataChange = true, dv = None))
    val ict = ictEnabled(stOpt.map(_.config).getOrElse(tableConfig))
    val floor = ictFloor(stOpt.map(_.config).getOrElse(tableConfig))
    val headerLines = if (creating) {
      // enabling in-commit timestamps at creation obliges every
      // writer to stamp commits — a table-features protocol declares
      // exactly that obligation
      val proto =
        if (ict)
          """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["inCommitTimestamp"]}}"""
        else """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}"""
      Seq(proto, metaDataJson(java.util.UUID.randomUUID().toString,
        schemaAfter.json, partitionBy, tableConfig, Some(now)))
    } else if (pendingIdentity.nonEmpty && stagedRows > 0) {
      val st = stOpt.get
      Seq(metaDataJson(st.metaId, schemaAfter.json, st.partitionColumns,
        st.config, st.createdTime))
    } else Nil
    val body = (headerLines ++ addLines).mkString("\n")
      .getBytes(StandardCharsets.UTF_8)
    // identity allocations are EXCLUSIVE: two appends reading the
    // same high watermark would hand out the same ids, so an
    // identity-bearing commit claims exactly readVersion+1 and slides
    // only past commits carrying NO metaData action (a plain append
    // cannot have moved the watermark); a metaData action in the
    // window rolls this attempt's staged files back and re-executes
    // the whole append against the new head (the [[DeltaLakeDml]]
    // optimistic posture). Plain appends keep the blind slide —
    // adds are commutative.
    val version =
      if (pendingIdentity.isEmpty) commitSlot(log, body, ict, floor)
      else {
        var slot = stOpt.map(_.version + 1).getOrElse(0L)
        var out = -1L
        while (out < 0) {
          if (commitSlotAt(log, body, slot, ict, floor)) out = slot
          else {
            val f = new File(log, f"$slot%020d.json")
            val hasMeta = f.isFile &&
              java.nio.file.Files.readAllLines(f.toPath).stream()
                .anyMatch { l =>
                  l.nonEmpty && {
                    val n = om.readTree(l)
                    val m = n.get("metaData")
                    m != null && !m.isNull
                  }
                }
            if (!hasMeta) slot += 1
            else {
              staged.foreach(s => Files.deleteIfExists(
                new File(root, s.rel).toPath))
              throw new IdentityHwmRace(tablePath, slot)
            }
          }
        }
        out
      }
    if (checkpointInterval > 0 && version > 0 &&
        version % checkpointInterval == 0) {
      // best-effort: the commit is already durable, and a table
      // without this checkpoint is merely slower to snapshot
      try checkpoint(df.sparkSession, tablePath, version)
      catch { case e: Exception => System.err.println(
        s"delta checkpoint at $version failed (table stays valid): $e") }
    }
    version
  }

  private[ingest] val InvariantsKey = "delta.invariants"
  private[ingest] val GenerationExprKey = "delta.generationExpression"
  private[ingest] val IdentityStartKey = "delta.identity.start"
  private[ingest] val IdentityStepKey = "delta.identity.step"
  private[ingest] val IdentityHwmKey = "delta.identity.highWaterMark"
  private[ingest] val IdentityAllowExplicitKey =
    "delta.identity.allowExplicitInsert"

  /** One identity allocation this append performed: the commit must
    * advance the column's high watermark to
    * `nextStart + step * (rows - 1)` in the same metaData action. */
  private[ingest] final case class PendingIdentity(field: String,
      nextStart: Long, step: Long)

  /** Enforce TOP-LEVEL column obligations on an append — the writer
    * duties the protocol attaches to field metadata, computed instead
    * of refused (PROTOCOL.md § Column Invariants / § Default Columns /
    * § Identity Columns):
    *  - `delta.invariants`: rows where the expression is FALSE abort
    *    the append (SQL CHECK semantics — NULL passes);
    *  - `delta.generationExpression`: an absent column is COMPUTED;
    *    a provided one is VALIDATED cell-by-cell against the
    *    expression (delta-spark's rule) and aborts on divergence;
    *  - `delta.identity.*`: an absent column is allocated
    *    `hwm+step, hwm+2·step, …` via the same contiguous
    *    distributed-offset pass as [[SurrogateId.attachDistributed]];
    *    an explicit column requires `allowExplicitInsert`.
    * Returns the (possibly augmented) frame plus the identity
    * allocations whose high watermark the commit must advance; an
    * identity allocation's frame reads a cache in `pins`, the append
    * attempt's scope. Validation scans are one pushed-down `LIMIT 1`
    * probe each. */
  private[ingest] def enforceColumnObligations(df0: DataFrame,
      schema: org.apache.spark.sql.types.StructType,
      pins: graft.core.Ckpt.Pins): (DataFrame, Seq[PendingIdentity]) = {
    import org.apache.spark.sql.functions.{expr, lit, not}
    var df = df0
    val pending = scala.collection.mutable.ArrayBuffer[PendingIdentity]()
    schema.fields.foreach { f =>
      val m = f.metadata
      if (m.contains(GenerationExprKey)) {
        val g = m.getString(GenerationExprKey)
        val target = expr(g).cast(DeltaLakeRead.stripType(f.dataType))
        if (!df.columns.contains(f.name))
          df = df.withColumn(f.name, target)
        else {
          val diverged = df
            .filter(not(col(DeltaLakeRead.quoted(f.name)) <=> target))
            .limit(1).count()
          require(diverged == 0L,
            s"generated column ${f.name} was provided with values that " +
            s"diverge from its expression `$g` — refusing to record a " +
            "lie; omit the column to have it computed")
        }
      }
      if (m.contains(IdentityStartKey) || m.contains(IdentityStepKey) ||
          m.contains(IdentityHwmKey)) {
        val step =
          if (m.contains(IdentityStepKey)) m.getLong(IdentityStepKey)
          else 1L
        require(step != 0L, s"identity column ${f.name} has step 0")
        if (df.columns.contains(f.name)) {
          require(m.contains(IdentityAllowExplicitKey) &&
            m.getBoolean(IdentityAllowExplicitKey),
            s"identity column ${f.name} does not allow explicit " +
            "inserts — omit it to have values allocated")
        } else {
          val start =
            if (m.contains(IdentityStartKey)) m.getLong(IdentityStartKey)
            else 1L
          val nextStart =
            if (m.contains(IdentityHwmKey)) m.getLong(IdentityHwmKey) + step
            else start
          val seqd = SurrogateId.attachDistributed(df, "__identity_seq", pins)
          df = seqd.withColumn(f.name,
            (lit(nextStart) + (col("__identity_seq") - 1L) * lit(step))
              .cast(DeltaLakeRead.stripType(f.dataType)))
            .drop("__identity_seq")
          pending += PendingIdentity(f.name, nextStart, step)
        }
      }
      if (m.contains(InvariantsKey)) {
        val sql = invariantSql(m.getString(InvariantsKey))
        // the protocol's Column Invariants section requires writers to
        // reject rows where the expression is false OR NULL (stricter
        // than CHECK constraints' null-passes; delta-spark aborts on
        // null too) — probe for anything not provably true
        val violating =
          df.filter(!(expr(sql) <=> lit(true))).limit(1).count()
        require(violating == 0L,
          s"column invariant `$sql` on ${f.name} is violated by this " +
          "append — rejecting (invariant semantics: only TRUE passes; " +
          "FALSE and NULL abort, matching delta-spark)")
      }
    }
    (df, pending.toSeq)
  }

  /** The protocol wraps invariant expressions in JSON
    * (`{"expression":{"expression":"<sql>"}}`); a bare SQL string is
    * accepted too. */
  private def invariantSql(raw: String): String =
    try {
      val n = om.readTree(raw)
      Option(n.get("expression")).filterNot(_.isNull)
        .flatMap(e => Option(e.get("expression")).filterNot(_.isNull))
        .map(_.asText()).getOrElse(raw)
    } catch { case _: Exception => raw }

  /** `schema` with `key -> value` (a long) added to `field`'s
    * metadata, everything else untouched. */
  private def withFieldMeta(
      schema: org.apache.spark.sql.types.StructType, field: String,
      key: String, value: Long): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(schema.fields.map { f =>
      if (f.name != field) f
      else f.copy(metadata =
        new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata).putLong(key, value).build())
    })

  /** Writer-protocol honesty gate, shared by append and DML: a
    * feature this writer does not implement but that CONSTRAINS
    * writes (CHECK constraints; invariants / generated / identity
    * columns on NESTED fields — top-level ones are ENFORCED by
    * [[enforceColumnObligations]] on the append path) would be
    * silently violated by a blind write — reject when one is actually
    * in force. Feature flags that do not constrain the write
    * (deletionVectors, appendOnly for appends, changeDataFeed — CDC
    * of an append derives from the add actions; columnMapping — the
    * physical-name staging below; domainMetadata/v2Checkpoint — the
    * checkpoint writer preserves/avoids them) pass. */
  private[ingest] def writeGate(st: DeltaLakeRead.Snapshot,
      topLevelObligationsOk: Boolean = false): Unit = {
    val cm = st.config.getOrElse("delta.columnMapping.mode", "none")
    if (cm == "id")
      // id-mode files resolve by parquet FIELD ID, so every staged
      // field must carry one ([[toPhysical]] emits them); a field
      // without an id in the log schema would land unresolvable
      st.schema.fields.foreach(f => require(
        f.metadata.contains(DeltaLakeRead.FieldIdKey),
        s"column mapping is 'id' but field ${f.name} carries no " +
        s"${DeltaLakeRead.FieldIdKey} metadata — refusing to guess"))
    require(st.minWriter <= 7,
      s"minWriterVersion ${st.minWriter} > 7 — protocol newer than " +
      "this writer")
    val unsupportedW = st.writerFeatures.toSet -- Set(
      "deletionVectors", "appendOnly", "vacuumProtocolCheck",
      "timestampNtz", "typeWidening", "typeWidening-preview",
      "changeDataFeed", "invariants", "checkConstraints",
      "generatedColumns", "identityColumns", "columnMapping",
      "domainMetadata", "v2Checkpoint", "inCommitTimestamp")
    require(unsupportedW.isEmpty,
      s"unsupported Delta writer features: ${unsupportedW.mkString(", ")}")
    val constraintKeys = st.config.keys
      .filter(_.startsWith("delta.constraints.")).toSeq
    require(constraintKeys.isEmpty,
      s"table carries CHECK constraints (${constraintKeys.mkString(", ")})" +
      " — this writer does not evaluate them; writing would bypass " +
      "enforcement")
    def gateFields(dt: DataType, at: String, top: Boolean): Unit =
      dt match {
        case s: StructType => s.fields.foreach { f =>
          if (!(top && topLevelObligationsOk))
            Seq(InvariantsKey, GenerationExprKey, IdentityStartKey,
              IdentityHwmKey).foreach(k =>
              require(!f.metadata.contains(k),
                s"column $at${f.name} carries $k — this write path " +
                "does not enforce it; writing would bypass it"))
          gateFields(f.dataType, s"$at${f.name}.", top = false)
        }
        case a: ArrayType => gateFields(a.elementType, at, top = false)
        case m: MapType =>
          gateFields(m.keyType, at, top = false)
          gateFields(m.valueType, at, top = false)
        case _ => ()
      }
    gateFields(st.schema, "", top = true)
  }

  /** Rename `df`'s logical columns (nested included) to the table's
    * PHYSICAL names when it is column-mapped — what actually lands in
    * parquet under `name` mode. Under `id` mode every field (nested
    * included) ALSO carries `parquet.field.id` from the log schema's
    * `delta.columnMapping.id`, which Spark's parquet writer emits
    * into the file footer (`spark.sql.parquet.fieldId.write.enabled`,
    * a [[graft.core.SessionFactory]] conf) — the resolution handle
    * id-mode readers match by.
    * Identity for unmapped tables. */
  private[ingest] def toPhysical(df: DataFrame,
      st: DeltaLakeRead.Snapshot,
      passthrough: Seq[String] = Nil): DataFrame = {
    val cm = st.config.getOrElse("delta.columnMapping.mode", "none")
    if (cm == "none") df
    else {
      // parquet.field.id footers need spark.sql.parquet.fieldId.write
      // .enabled at WRITE time — a SessionFactory conf
      df.select(st.schema.fields.toSeq.map { f =>
        val p = DeltaLakeRead.physicalField(st, f)
        // the cast carries nested field ids in its target type; the
        // top-level field's own id rides the alias metadata
        col(DeltaLakeRead.quoted(f.name)).cast(p.dataType)
          .as(p.name, p.metadata)
      } ++ passthrough.map(c => col(DeltaLakeRead.quoted(c))): _*)
    }
  }

  /** Stage `df` as parquet under a dot-dir inside `root` (Delta
    * readers only trust the log, and Spark/parquet listings skip
    * dot-prefixed paths, so a crashed stage leaves garbage, never
    * phantom rows), then MOVE each part file into place. Returns the
    * landed files with their partition values. */
  private[ingest] def stageData(df: DataFrame, root: File,
      partitionBy: Seq[String], destPrefix: String = ""): Seq[Staged] = {
    val stage = new File(root, s".stage-${java.util.UUID.randomUUID()}")
    df.write.partitionBy(partitionBy: _*).parquet(stage.getPath)
    def walk(dir: File, relDir: String,
        pv: Map[String, String]): Seq[Staged] =
      Option(dir.listFiles()).getOrElse(Array.empty).toSeq.flatMap {
        case d if d.isDirectory && d.getName.contains("=") =>
          val Array(k, v) = d.getName.split("=", 2)
          require(v.matches("[A-Za-z0-9._-]+"),
            s"partition value '$v' needs escaping — unsupported " +
            "(use [A-Za-z0-9._-])")
          walk(d, s"$relDir${d.getName}/", pv + (k -> v))
        case f if f.getName.startsWith("part-") &&
            f.getName.endsWith(".parquet") =>
          val rel = s"$destPrefix$relDir${f.getName}"
          val dest = new File(root, rel)
          dest.getParentFile.mkdirs()
          Files.move(f.toPath, dest.toPath,
            StandardCopyOption.ATOMIC_MOVE)
          Seq(Staged(rel, pv, dest.length(), footerRows(dest)))
        case _ => Nil
      }
    val staged = walk(stage, "", Map.empty)
    rmTree(stage)
    staged
  }

  /** Row count from the parquet footer — one metadata read, no scan,
    * through `java.nio` (no Hadoop filesystem, so callable on an
    * executor). Lets DML report rowsInserted without re-running the
    * source plan, and take a data file's live rows without counting
    * them. */
  private[graft] def footerRows(f: File): Long = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      new org.apache.parquet.io.LocalInputFile(f.toPath))
    try r.getRecordCount finally r.close()
  }

  /** Is the commit at `f` BENIGN for an optimistic mutator that
    * computed against an earlier version — i.e. a pure append
    * (adds without deletion vectors; commitInfo/txn/cdc/domain
    * allowed)? Removes, DV re-adds, metaData and protocol changes all
    * mean the table's row state or contract moved. */
  private[ingest] def benignCommit(f: File): Boolean =
    f.isFile && Files.readAllLines(f.toPath).stream().allMatch { line =>
      line.isEmpty || {
        val n = om.readTree(line)
        def has(k: String) = {
          val v = n.get(k); v != null && !v.isNull
        }
        !has("remove") && !has("metaData") && !has("protocol") && {
          val a = n.get("add")
          a == null || a.isNull || {
            val dv = a.get("deletionVector")
            dv == null || dv.isNull
          }
        }
      }
    }

  /** Does this table oblige writers to stamp commits with a
    * monotonic in-log clock (PROTOCOL.md § In-Commit Timestamps)? */
  private[ingest] def ictEnabled(config: Map[String, String]): Boolean =
    config.get("delta.enableInCommitTimestamps").contains("true")

  /** The newest surviving predecessor's inCommitTimestamp: scan
    * BACKWARDS from commit `upTo` across the remaining commits for
    * the newest one that actually carries an ICT (the protocol puts
    * commitInfo FIRST in ICT commits — one line read per candidate;
    * the common case reads exactly the direct predecessor). Only a
    * foreign commit written before ICT enablement lacks the line, so
    * the scan normally stops immediately. With no ICT-bearing commit
    * left at all (enabled mid-history, ICT commits vacuumed), the
    * newest log file's mtime — a floor that keeps the clock from
    * stepping backwards past anything a reader could still observe
    * (r13 ADVICE: mtimes alone could sit below the true previous ICT
    * under clock skew; callers additionally floor against
    * delta.inCommitTimestampEnablementTimestamp via [[ictFloor]]). */
  private def prevIct(log: File, upTo: Long): Option[Long] = {
    def ictOf(f: File): Option[Long] =
      scala.util.Using(Files.newBufferedReader(f.toPath)) { r =>
        Option(r.readLine()).flatMap { line =>
          val n = om.readTree(line)
          Option(n.get("commitInfo")).filterNot(_.isNull)
            .flatMap(ci => Option(ci.get("inCommitTimestamp"))
              .filterNot(_.isNull).map(_.asLong()))
        }
      }.toOption.flatten
    val files = Option(log.listFiles()).getOrElse(Array.empty[File])
    val commitsDesc = files
      .flatMap(f => "([0-9]{20})\\.json".r.unapplySeq(f.getName)
        .map(m => (m.head.toLong, f)))
      .filter(_._1 <= upTo).sortBy(-_._1)
    commitsDesc.iterator.map { case (_, f) => ictOf(f) }
      .collectFirst { case Some(t) => t }
      .orElse(files.map(_.lastModified()).maxOption.filter(_ > 0L))
  }

  /** The ICT lower bound a table's configuration declares:
    * delta.inCommitTimestampEnablementTimestamp when present — no
    * commit may carry an ICT below it even when every ICT-bearing
    * commit was vacuumed and mtimes lag under clock skew. */
  private[ingest] def ictFloor(config: Map[String, String]): Option[Long] =
    config.get("delta.inCommitTimestampEnablementTimestamp")
      .flatMap(s => scala.util.Try(s.toLong).toOption)

  /** Prepend the monotonic commitInfo line for a commit landing at
    * `slot`: strictly greater than the predecessor's ICT, never behind
    * the wall clock, and never below the table's declared enablement
    * floor. Recomputed PER CLAIM ATTEMPT — a slide past a racer's
    * commit must stay monotonic against THAT commit, not against the
    * one read before the race. */
  private def withIctLine(log: File, slot: Long, body: Array[Byte],
      floor: Option[Long]): Array[Byte] = {
    val ts = math.max(math.max(System.currentTimeMillis(),
      prevIct(log, slot - 1).map(_ + 1).getOrElse(Long.MinValue)),
      floor.getOrElse(Long.MinValue))
    (s"""{"commitInfo":{"inCommitTimestamp":$ts}}""" + "\n")
      .getBytes(StandardCharsets.UTF_8) ++ body
  }

  /** Claim the next version slot in `log` for `body`: hard link =
    * atomic create-if-absent; racers retry onto the next slot. With
    * `ict`, each attempt stamps a fresh monotonic commitInfo first
    * line for the slot it targets. */
  private[ingest] def commitSlot(log: File, body: Array[Byte],
      ict: Boolean = false, ictFloor: Option[Long] = None): Long = {
    var attempts = 0
    while (attempts < 100) {
      // the head is the max version across commits AND checkpoints:
      // a table whose pre-checkpoint commits were all vacuumed has no
      // %020d.json left, and deriving the slot from commits alone
      // would re-claim version 0 — a silently corrupted history
      val next = 1L + Option(log.listFiles()).getOrElse(Array.empty)
        .flatMap(f => "^([0-9]{20})\\.".r
          .findPrefixMatchOf(f.getName).map(_.group(1).toLong))
        .maxOption.getOrElse(-1L)
      if (commitSlotAt(log, body, next, ict, ictFloor)) return next
      attempts += 1
    }
    throw new IllegalStateException(
      s"could not claim a commit slot in $log after 100 attempts")
  }

  /** Claim EXACTLY `slot` (hard link = atomic create-if-absent).
    * False when the slot is already taken — the caller decides
    * whether the intervening commit conflicts ([[DeltaLakeDml]]'s
    * optimistic-concurrency loop), unlike [[commitSlot]] which
    * advances blindly (sound only for commutative appends). */
  private[ingest] def commitSlotAt(log: File, body: Array[Byte],
      slot: Long, ict: Boolean = false,
      ictFloor: Option[Long] = None): Boolean =
    LocalLinkBackend.putIfAbsent(new File(log, f"$slot%020d.json"),
      if (ict) withIctLine(log, slot, body, ictFloor) else body)

  // ---- JSON action emitters (shared with DeltaLakeDml) ---------------------

  private[ingest] def dvNode(
      n: com.fasterxml.jackson.databind.node.ObjectNode,
      dv: DeletionVectors.Descriptor): Unit = {
    val j = n.putObject("deletionVector")
    j.put("storageType", dv.storageType)
    j.put("pathOrInlineDv", dv.pathOrInlineDv)
    dv.offset.foreach(o => j.put("offset", o))
    j.put("sizeInBytes", dv.sizeInBytes)
    j.put("cardinality", dv.cardinality)
    ()
  }

  private[ingest] def addJson(rawPath: String,
      pv: Map[String, Option[String]], size: Long, modTime: Long,
      dataChange: Boolean, dv: Option[DeletionVectors.Descriptor]): String = {
    val n = om.createObjectNode(); val a = n.putObject("add")
    a.put("path", rawPath)
    val p = a.putObject("partitionValues")
    pv.foreach { case (k, v) =>
      v.fold { p.putNull(k); () } { s => p.put(k, s); () } }
    a.put("size", size)
    a.put("modificationTime", modTime)
    a.put("dataChange", dataChange)
    dv.foreach(dvNode(a, _))
    om.writeValueAsString(n)
  }

  private[ingest] def cdcJson(rawPath: String,
      pv: Map[String, Option[String]], size: Long): String = {
    val n = om.createObjectNode(); val c = n.putObject("cdc")
    c.put("path", rawPath)
    val p = c.putObject("partitionValues")
    pv.foreach { case (k, v) =>
      v.fold { p.putNull(k); () } { s => p.put(k, s); () } }
    c.put("size", size)
    c.put("dataChange", false)
    om.writeValueAsString(n)
  }

  private[ingest] def removeJson(rawPath: String,
      pv: Map[String, Option[String]], size: Option[Long],
      deletionTimestamp: Long, dataChange: Boolean,
      dv: Option[DeletionVectors.Descriptor]): String = {
    val n = om.createObjectNode(); val r = n.putObject("remove")
    r.put("path", rawPath)
    r.put("deletionTimestamp", deletionTimestamp)
    r.put("dataChange", dataChange)
    r.put("extendedFileMetadata", true)
    val p = r.putObject("partitionValues")
    pv.foreach { case (k, v) =>
      v.fold { p.putNull(k); () } { s => p.put(k, s); () } }
    size.foreach(s => r.put("size", s))
    dv.foreach(dvNode(r, _))
    om.writeValueAsString(n)
  }

  private[graft] def metaDataJson(id: String, schemaJson: String,
      partitionBy: Seq[String], config: Map[String, String],
      createdTime: Option[Long]): String = {
    val m = om.createObjectNode(); val md = m.putObject("metaData")
    md.put("id", id)
    val fmt = md.putObject("format")
    fmt.put("provider", "parquet"); fmt.putObject("options")
    md.put("schemaString", schemaJson)
    val pc = md.putArray("partitionColumns"); partitionBy.foreach(pc.add)
    val cf = md.putObject("configuration")
    config.foreach { case (k, v) => cf.put(k, v) }
    createdTime.foreach(t => md.put("createdTime", t))
    om.writeValueAsString(m)
  }

  private[ingest] def protocolJson(minReader: Int, minWriter: Int,
      readerFeatures: Seq[String], writerFeatures: Seq[String]): String = {
    val n = om.createObjectNode(); val p = n.putObject("protocol")
    p.put("minReaderVersion", minReader)
    p.put("minWriterVersion", minWriter)
    if (minReader >= 3) {
      val rf = p.putArray("readerFeatures")
      readerFeatures.distinct.sorted.foreach(rf.add)
    }
    if (minWriter >= 7) {
      val wf = p.putArray("writerFeatures")
      writerFeatures.distinct.sorted.foreach(wf.add)
    }
    om.writeValueAsString(n)
  }

  // ---- checkpoints ----------------------------------------------------------

  /** Default tombstone retention (`delta.deletedFileRetentionDuration`,
    * "interval 1 week"): simple `interval N unit` forms parsed; the
    * protocol default otherwise. */
  private[graft] def tombstoneRetentionMs(
      config: Map[String, String]): Long = {
    val default = 7L * 24 * 3600 * 1000
    config.get("delta.deletedFileRetentionDuration").map { s =>
      val m = "(?i)\\s*interval\\s+(\\d+)\\s+(\\w+?)s?\\s*".r
      s match {
        case m(n, unit) =>
          val per = unit.toLowerCase match {
            case "millisecond" => 1L
            case "second" => 1000L
            case "minute" => 60L * 1000
            case "hour" => 3600L * 1000
            case "day" => 24L * 3600 * 1000
            case "week" => 7L * 24 * 3600 * 1000
            case u => throw new IllegalArgumentException(
              s"unsupported retention unit '$u' in '$s'")
          }
          n.toLong * per
        case _ => throw new IllegalArgumentException(
          s"cannot parse delta.deletedFileRetentionDuration='$s'")
      }
    }.getOrElse(default)
  }

  /** Land a CLASSIC checkpoint for `version`: parquet file(s) holding
    * the replayed state — one `protocol` row, one `metaData` row, one
    * `add` row per active file (raw log paths and deletion-vector
    * descriptors reproduced verbatim, `dataChange` false per the
    * protocol), one `remove` row per NON-EXPIRED tombstone (dropping
    * them would break VACUUM retention and concurrent-reader
    * reconciliation), one `txn` row per appId (streaming writers'
    * exactly-once state), and one `domainMetadata` row per domain.
    * `_last_checkpoint` lets readers skip the log listing. Both this
    * engine's reader (checkpoint-seeded replay) and delta-spark
    * consume it; pre-checkpoint commits become vacuumable.
    *
    * When the action count exceeds `maxActionsPerFile` (or `parts` is
    * forced), the checkpoint lands MULTI-PART
    * (`%020d.checkpoint.%010d.%010d.parquet` + a `parts` field in
    * `_last_checkpoint`) — a wide table at scale should not funnel
    * its whole file list through one parquet writer.
    *
    * Concurrency: parquet parts stage under a dot-dir and MOVE into
    * the deterministic names — two racers write identical content, so
    * whichever lands is correct; `_last_checkpoint` is a move-over
    * (its readers tolerate staleness by design). */
  def checkpoint(spark: org.apache.spark.sql.SparkSession,
      tablePath: String, version: Long,
      maxActionsPerFile: Int = 1000000, parts: Option[Int] = None,
      v2: Option[Boolean] = None): Unit = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val st = DeltaLakeRead.state(spark, tablePath, Some(version))
    val now = System.currentTimeMillis()
    val liveTombs = st.tombstones.filter(t =>
      t.deletionTimestamp.forall(ts =>
        now - ts <= tombstoneRetentionMs(st.config)))
    val dvType = StructType(Seq(
      StructField("storageType", StringType),
      StructField("pathOrInlineDv", StringType),
      StructField("offset", IntegerType),
      StructField("sizeInBytes", IntegerType),
      StructField("cardinality", LongType)))
    def dvRow(dv: Option[DeletionVectors.Descriptor]): Row =
      dv.map(d => Row(d.storageType, d.pathOrInlineDv,
        d.offset.map(Int.box).orNull, d.sizeInBytes, d.cardinality))
        .orNull
    val addType = StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType)),
      StructField("size", LongType),
      StructField("modificationTime", LongType),
      StructField("dataChange", BooleanType),
      StructField("deletionVector", dvType)))
    val removeType = StructType(Seq(
      StructField("path", StringType),
      StructField("deletionTimestamp", LongType),
      StructField("dataChange", BooleanType),
      StructField("extendedFileMetadata", BooleanType),
      StructField("partitionValues", MapType(StringType, StringType)),
      StructField("size", LongType),
      StructField("deletionVector", dvType)))
    val txnType = StructType(Seq(
      StructField("appId", StringType),
      StructField("version", LongType)))
    val domainType = StructType(Seq(
      StructField("domain", StringType),
      StructField("configuration", StringType),
      StructField("removed", BooleanType)))
    val metaType = StructType(Seq(
      StructField("id", StringType),
      StructField("format", StructType(Seq(
        StructField("provider", StringType),
        StructField("options", MapType(StringType, StringType))))),
      StructField("schemaString", StringType),
      StructField("partitionColumns", ArrayType(StringType)),
      StructField("configuration", MapType(StringType, StringType)),
      StructField("createdTime", LongType)))
    val protoType = StructType(Seq(
      StructField("minReaderVersion", IntegerType),
      StructField("minWriterVersion", IntegerType)) ++
      (if (st.readerFeatures.nonEmpty)
        Seq(StructField("readerFeatures", ArrayType(StringType)))
       else Nil) ++
      (if (st.writerFeatures.nonEmpty)
        Seq(StructField("writerFeatures", ArrayType(StringType)))
       else Nil))
    val cpSchema = StructType(Seq(
      StructField("protocol", protoType),
      StructField("metaData", metaType),
      StructField("add", addType),
      StructField("remove", removeType),
      StructField("txn", txnType),
      StructField("domainMetadata", domainType)))
    val protoRow = Row.fromSeq(
      Seq(st.minReader, st.minWriter) ++
      (if (st.readerFeatures.nonEmpty) Seq(st.readerFeatures) else Nil) ++
      (if (st.writerFeatures.nonEmpty) Seq(st.writerFeatures) else Nil))
    val metaRow = Row(st.metaId, Row("parquet", Map.empty[String, String]),
      st.schema.json, st.partitionColumns, st.config,
      st.createdTime.map(Long.box).orNull)
    def pad(r: Row, at: Int): Row =
      Row.fromSeq(Seq.tabulate(6)(i => if (i == at) r else null))
    val addRows = st.files.map { f =>
      val pv = f.partitionValues.map { case (k, v) => k -> v.orNull }
      Row(f.rawPath, pv, f.size, f.modificationTime, false, dvRow(f.dv))
    }
    val removeRows = liveTombs.map { t =>
      val pv = t.partitionValues.map { case (k, v) => k -> v.orNull }
      Row(t.rawPath, t.deletionTimestamp.map(Long.box).orNull,
        false, true, pv, t.size.map(Long.box).orNull, dvRow(t.dv))
    }
    val rows: Seq[Row] =
      Seq(pad(protoRow, 0), pad(metaRow, 1)) ++
      addRows.map(pad(_, 2)) ++
      removeRows.map(pad(_, 3)) ++
      st.txns.toSeq.map { case (appId, v) => pad(Row(appId, v), 4) } ++
      st.domains.map(d =>
        pad(Row(d.domain, d.configuration, d.removed), 5))
    val root = new File(tablePath)
    val log = new File(root, "_delta_log")

    // V2 (UUID-named) checkpoint: the obligation the `v2Checkpoint`
    // writer feature imposes (PROTOCOL.md § V2 Checkpoints) — a
    // manifest carrying checkpointMetadata/protocol/metaData/txn/
    // domainMetadata plus `sidecar` references; the FILE actions land
    // in `_delta_log/_sidecars/<uuid>.parquet` parts. Engaged
    // automatically for tables declaring the feature.
    if (v2.getOrElse(st.writerFeatures.contains("v2Checkpoint"))) {
      import scala.jdk.CollectionConverters._
      val scSchema = StructType(Seq(
        StructField("add", addType), StructField("remove", removeType)))
      def pad2(r: Row, at: Int): Row =
        Row.fromSeq(Seq.tabulate(2)(i => if (i == at) r else null))
      val fileRows = addRows.map(pad2(_, 0)) ++
        removeRows.map(pad2(_, 1))
      val scDir = new File(log, "_sidecars"); scDir.mkdirs()
      val nSc = math.max(1, math.ceil(fileRows.size.toDouble /
        math.max(1, maxActionsPerFile)).toInt)
      val stage = new File(root,
        s".cp-stage-${java.util.UUID.randomUUID()}")
      val sidecars = (0 until nSc).map { p =>
        val ps = new File(stage, s"sc$p")
        spark.createDataFrame(
          fileRows.zipWithIndex.filter(_._2 % nSc == p).map(_._1)
            .asJava, scSchema)
          .coalesce(1).write.parquet(ps.getPath)
        val name = s"${java.util.UUID.randomUUID()}.parquet"
        val dest = new File(scDir, name)
        Files.move(stagedPart(ps).toPath, dest.toPath,
          StandardCopyOption.REPLACE_EXISTING)
        (name, dest.length(), now)
      }
      val cpMetaType = StructType(Seq(
        StructField("version", LongType)))
      val sidecarType = StructType(Seq(
        StructField("path", StringType),
        StructField("sizeInBytes", LongType),
        StructField("modificationTime", LongType)))
      val mSchema = StructType(Seq(
        StructField("checkpointMetadata", cpMetaType),
        StructField("protocol", protoType),
        StructField("metaData", metaType),
        StructField("txn", txnType),
        StructField("domainMetadata", domainType),
        StructField("sidecar", sidecarType)))
      def pad6(r: Row, at: Int): Row =
        Row.fromSeq(Seq.tabulate(6)(i => if (i == at) r else null))
      val mRows: Seq[Row] =
        Seq(pad6(Row(version), 0), pad6(protoRow, 1),
          pad6(metaRow, 2)) ++
        st.txns.toSeq.map { case (a, v) => pad6(Row(a, v), 3) } ++
        st.domains.map(d =>
          pad6(Row(d.domain, d.configuration, d.removed), 4)) ++
        sidecars.map { case (n, sz, mt) => pad6(Row(n, sz, mt), 5) }
      val ms = new File(stage, "manifest")
      spark.createDataFrame(mRows.asJava, mSchema)
        .coalesce(1).write.parquet(ms.getPath)
      Files.move(stagedPart(ms).toPath, new File(log,
        f"$version%020d.checkpoint.${java.util.UUID.randomUUID()}.parquet")
        .toPath, StandardCopyOption.REPLACE_EXISTING)
      rmTree(stage)
      // retire STALE sidecars (previous checkpoints', crashed
      // writers') once they age past the tombstone retention — the
      // same horizon after which their manifests stop being
      // replayable anyway. Without this the dir grows one generation
      // per checkpoint forever and inflates the distributed-state
      // size heuristic. The just-written files are excluded by name,
      // and so are the files the MOST RECENT PRIOR manifest still
      // references (r13 ADVICE): a reader that listed the log before
      // this checkpoint landed resolves that manifest, and deleting
      // its sidecars from under it would hard-fail the read — they
      // retire one checkpoint later instead.
      val keepNames = scala.collection.mutable.Set(
        sidecars.map(_._1): _*)
      val manifestRe =
        "^([0-9]{20})\\.checkpoint\\.[0-9a-fA-F-]{36}\\.parquet$".r
      val priorManifest = Option(log.listFiles())
        .getOrElse(Array.empty[File])
        .flatMap(f => manifestRe.findFirstMatchIn(f.getName)
          .map(m => (m.group(1).toLong, f)))
        .filter(_._1 < version)
        .sortBy(-_._1).headOption.map(_._2)
      var retireSafe = true
      priorManifest.foreach { mf =>
        try {
          spark.read.parquet(mf.getPath)
            .select(col("sidecar.path"))
            .filter(col("path").isNotNull)
            .collect().foreach(r => keepNames += r.getString(0))
        } catch { case scala.util.control.NonFatal(_) =>
          // unreadable prior manifest: cannot know what it holds —
          // retire nothing this round (checkpoint itself proceeds)
          retireSafe = false
        }
      }
      val retention = tombstoneRetentionMs(st.config)
      if (retireSafe)
        Option(scDir.listFiles()).getOrElse(Array.empty[File])
          .filter(f => !keepNames.contains(f.getName) &&
            now - f.lastModified() > retention)
          .foreach(f => Files.deleteIfExists(f.toPath))
      val lcTmp = Files.createTempFile(log.toPath, ".lc", ".tmp")
      Files.write(lcTmp,
        s"""{"version":$version,"size":${mRows.size + fileRows.size}}"""
          .getBytes(StandardCharsets.UTF_8))
      Files.move(lcTmp, new File(log, "_last_checkpoint").toPath,
        StandardCopyOption.REPLACE_EXISTING,
        StandardCopyOption.ATOMIC_MOVE)
      return
    }
    val nParts = parts.getOrElse(
      math.max(1, math.ceil(rows.size.toDouble /
        math.max(1, maxActionsPerFile)).toInt))
    val stage = new File(root, s".cp-stage-${java.util.UUID.randomUUID()}")
    import scala.jdk.CollectionConverters._
    if (nParts == 1) {
      spark.createDataFrame(rows.asJava, cpSchema).coalesce(1)
        .write.parquet(stage.getPath)
      val part = stagedPart(stage)
      Files.move(part.toPath,
        new File(log, f"$version%020d.checkpoint.parquet").toPath,
        StandardCopyOption.REPLACE_EXISTING)
      rmTree(stage)
    } else {
      // deterministic round-robin split: every part self-contained
      // parquet, protocol/metaData in part 1 (readers union all parts)
      val grouped = rows.zipWithIndex.groupBy(_._2 % nParts)
      (0 until nParts).foreach { p =>
        val ps = new File(stage, s"p$p")
        spark.createDataFrame(
          grouped.getOrElse(p, Nil).map(_._1).asJava, cpSchema)
          .coalesce(1).write.parquet(ps.getPath)
        Files.move(stagedPart(ps).toPath,
          new File(log,
            f"$version%020d.checkpoint.${p + 1}%010d.$nParts%010d.parquet")
            .toPath,
          StandardCopyOption.REPLACE_EXISTING)
      }
      rmTree(stage)
    }
    val lcTmp = Files.createTempFile(log.toPath, ".lc", ".tmp")
    val partsField = if (nParts > 1) s""","parts":$nParts""" else ""
    Files.write(lcTmp,
      s"""{"version":$version,"size":${rows.size}$partsField}"""
        .getBytes(StandardCharsets.UTF_8))
    Files.move(lcTmp, new File(log, "_last_checkpoint").toPath,
      StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  private def stagedPart(stage: File): File =
    Option(stage.listFiles()).getOrElse(Array.empty)
      .find(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet"))
      .getOrElse(throw new IllegalStateException(
        s"checkpoint stage $stage produced no parquet part"))

  private[ingest] def rmTree(f: File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
    f.delete(); ()
  }
}
