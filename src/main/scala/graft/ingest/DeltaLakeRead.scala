package graft.ingest

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, concat, lit, row_number, struct, to_json, udf, when}
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, IntegerType, LongType, MapType, Metadata, MetadataBuilder, StringType, StructField, StructType}
import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Read-only Delta Lake SNAPSHOT reader: `_delta_log` replay built on
  * public Spark + Jackson, NO delta-spark dependency.
  *
  * Why it exists: the reference's tables are genuine Delta tables
  * (spark/jobs/alphavantage/bronze2_to_silver.py:142-152,
  * coin_to_delta_w_cp.py:124), while this engine's own versioned
  * format ([[VersionedTableIO]]) re-derives the log from first
  * principles because the harness classpath ships no delta jars. That
  * left one real interop gap: an engine deployed NEXT TO the
  * reference could not read the tables the reference had already
  * written. This adapter closes the read side of that gap using only
  * the PUBLIC Delta transaction-log protocol
  * (https://github.com/delta-io/delta/blob/master/PROTOCOL.md):
  * newline-delimited JSON commits of add/remove/metaData/protocol
  * actions under `_delta_log/`, optionally compacted into checkpoint
  * parquet files.
  *
  * Supported: snapshot reads at the latest or a `versionAsOf`
  * version; partitioned tables in any directory layout (each file's
  * partition values come from its add action, not its path, so hive
  * and non-hive layouts are one relation and partition filters prune
  * files in either); classic single- and multi-part checkpoints;
  * V2 (UUID-named) checkpoints, json or parquet, with their
  * `_sidecars/` file-action parts; percent-encoded file paths; reader protocol versions 1-3
  * where every table feature is in the supported set; column mapping
  * in `name` mode (each logical field carries
  * `delta.columnMapping.physicalName` metadata naming the parquet
  * column — the read runs against the physical schema and a final
  * positional cast restores logical names, nested fields included)
  * and in `id` mode (resolution by parquet field id: the physical
  * read schema carries `parquet.field.id` metadata from
  * `delta.columnMapping.id` and the scan runs with Spark's native
  * field-id matching, `spark.sql.parquet.fieldId.read.enabled`,
  * which [[graft.core.SessionFactory]] turns on for every session);
  * deletion vectors (`u`/`p`/`i` storage, decoded by
  * [[DeletionVectors]] — rows at deleted positions are filtered IN
  * THE SCAN: each task binary-searches `_metadata.row_index` against
  * its file's executor-cached bitmap, so DV masking never shuffles
  * data rows at any cardinality; the mask is keyed on the raw
  * `_metadata.file_path` URI and resolved to its descriptor once per
  * file by [[normFile]], never by a per-row decoding expression).
  *
  * Log replay reconciles file actions by `(path, dvId)` — the
  * protocol's reconciliation key — not by path alone: a DV update
  * commits `remove(path, oldDv)` + `add(path, newDv)` whose intra-
  * commit ORDER is unspecified, and path-only keying would let the
  * remove cancel the fresh add when the add line happens to come
  * first (silent row loss). Replay also carries remove TOMBSTONES,
  * per-appId `txn` versions, and `domainMetadata` state so a
  * checkpoint writer ([[DeltaLakeWrite.checkpoint]]) can re-emit
  * them as the protocol requires.
  *
  * Rejected loudly rather than misread: any unknown reader feature —
  * the failure mode of a protocol under-read is silent wrong data, so
  * anything not understood is an error by design.
  *
  * Scale shape: log replay is driver-side (list + parse the JSON
  * commits after the newest checkpoint ≤ target — the same work
  * delta-spark's own Snapshot does), and the data read plans from
  * the replayed file list itself: [[scan]] wraps it in a
  * [[LogFileIndex]] (paths, sizes and partition values from the log)
  * under ONE `HadoopFsRelation`, so planning makes no filesystem call
  * — no existence check, glob or listing job at any file count —
  * while scan parallelism, column pruning, partition pruning and
  * row-group pushdown are Spark's own. DV-bearing files read as a
  * SECOND relation whose bitmaps are decoded lazily INSIDE the scan
  * tasks ([[DvCache]] — the driver never holds position sets, only
  * descriptors). Driver memory is bounded by the active-file COUNT
  * (path strings), not data size — the delta-spark caveat at
  * million-file tables applies here identically. */
object DeltaLakeRead {

  private val mapper = new ObjectMapper()

  /** Checkpoint bytes from which [[stateImpl]] reconciles file actions
    * as a DataFrame instead of replaying them on the driver. */
  private val DistributedStateMinBytes: Long = 8L * 1024 * 1024

  /** One active data file: table-relative decoded path, the raw
    * (log-encoded) path — kept verbatim for checkpoint re-emission —
    * the partition-column values the log assigns it (null = SQL
    * NULL), the logged size/modificationTime (carried so a checkpoint
    * can reproduce the action faithfully), and its deletion vector,
    * if any. */
  final case class AddFile(path: String, rawPath: String,
      partitionValues: Map[String, Option[String]],
      size: Long, modificationTime: Long,
      dv: Option[DeletionVectors.Descriptor])

  /** A `remove` action still in the tombstone window: checkpoints
    * must re-emit these (VACUUM safety + concurrent-reader
    * reconciliation) until `delta.deletedFileRetentionDuration`
    * expires them. */
  final case class RemoveTombstone(rawPath: String, path: String,
      deletionTimestamp: Option[Long],
      partitionValues: Map[String, Option[String]],
      size: Option[Long], dv: Option[DeletionVectors.Descriptor])

  /** The latest `domainMetadata` action per domain (configuration is
    * the protocol's opaque string; removed tombstones kept — the
    * checkpoint must carry both). */
  final case class DomainMetadata(domain: String, configuration: String,
      removed: Boolean)

  /** Replayed log state at one version. The protocol/metaData extras
    * (config, id, createdTime, versions, feature sets, tombstones,
    * txns, domains) exist so a checkpoint writer
    * ([[DeltaLakeWrite.checkpoint]]) can reproduce the table's
    * actions faithfully. */
  final case class Snapshot(version: Long, schema: StructType,
      partitionColumns: Seq[String], files: Seq[AddFile],
      config: Map[String, String] = Map.empty,
      metaId: String = "", createdTime: Option[Long] = None,
      minReader: Int = 1, minWriter: Int = 2,
      readerFeatures: Seq[String] = Nil, writerFeatures: Seq[String] = Nil,
      tombstones: Seq[RemoveTombstone] = Nil,
      txns: Map[String, Long] = Map.empty,
      domains: Seq[DomainMetadata] = Nil)

  /** Reader features this adapter implements. `timestampNtz` and
    * `typeWidening` only change column TYPES (carried in
    * schemaString, which Spark parses natively); `columnMapping` is
    * the physical-rename / field-id path below; `deletionVectors` is
    * the position-subtract path below; `v2Checkpoint` is the
    * UUID-named checkpoint + sidecar replay path in [[state]]. */
  private val SupportedReaderFeatures: Set[String] =
    Set("timestampNtz", "typeWidening", "typeWidening-preview",
      "vacuumProtocolCheck", "columnMapping", "deletionVectors",
      "v2Checkpoint")

  private[ingest] val PhysicalNameKey = "delta.columnMapping.physicalName"
  private[ingest] val FieldIdKey = "delta.columnMapping.id"
  /** Spark's parquet field-id resolution metadata key
    * (SQLConf.PARQUET_FIELD_ID_READ_ENABLED / ParquetUtils). */
  private[ingest] val ParquetFieldIdKey = "parquet.field.id"

  /** The parquet (physical) name of one logical field — identity when
    * the field carries no column-mapping metadata. */
  private[ingest] def physFieldName(f: StructField): String =
    if (f.metadata.contains(PhysicalNameKey))
      f.metadata.getString(PhysicalNameKey)
    else f.name

  /** Logical field `f` as `st`'s parquet files store it: physical
    * names at every nesting level under column mapping, each field
    * carrying `parquet.field.id` from its `delta.columnMapping.id` in
    * id mode (a field without one is refused, never guessed); the
    * metadata-free field when the table is unmapped. One definition
    * for the reader's scan schema and the writer's rename. */
  private[ingest] def physicalField(st: Snapshot,
      f: StructField): StructField = {
    val mode = st.config.getOrElse("delta.columnMapping.mode", "none")
    def meta(f: StructField): Metadata =
      if (mode != "id") Metadata.empty
      else {
        require(f.metadata.contains(FieldIdKey),
          s"column mapping is 'id' but field ${f.name} carries no " +
          s"$FieldIdKey metadata — refusing to guess")
        new MetadataBuilder()
          .putLong(ParquetFieldIdKey, f.metadata.getLong(FieldIdKey))
          .build()
      }
    def physType(dt: DataType): DataType = dt match {
      case s: StructType => StructType(s.fields.map(field))
      case a: ArrayType => a.copy(elementType = physType(a.elementType))
      case m: MapType => m.copy(keyType = physType(m.keyType),
        valueType = physType(m.valueType))
      case o => o
    }
    def field(f: StructField): StructField =
      StructField(physFieldName(f), physType(f.dataType), f.nullable, meta(f))
    if (mode == "none") StructField(f.name, stripType(f.dataType), f.nullable)
    else field(f)
  }

  /** The metadata-free logical type (for rename casts and schema
    * comparisons — StructField equality includes metadata, which a
    * column-mapped table's nested fields carry). */
  private[ingest] def stripType(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      StructField(f.name, stripType(f.dataType), f.nullable)))
    case a: ArrayType => a.copy(elementType = stripType(a.elementType))
    case m: MapType => m.copy(keyType = stripType(m.keyType),
      valueType = stripType(m.valueType))
    case o => o
  }

  /** The protocol's DV "unique id" — the second half of the
    * (path, dvId) file-action reconciliation key. */
  private def dvUid(dv: Option[DeletionVectors.Descriptor]): String =
    dv.map(d => d.storageType + d.pathOrInlineDv +
      d.offset.map(o => s"@$o").getOrElse("")).getOrElse("")

  /** Normalized file-action row for the distributed state path: one
    * row per add/remove with just the fields [[Snapshot]] carries,
    * ordered by (ver, idx) for latest-wins reconciliation. */
  private[ingest] val FileActionSchema = StructType(Seq(
    StructField("isAdd", BooleanType, nullable = false),
    StructField("ver", LongType, nullable = false),
    StructField("idx", LongType, nullable = false),
    StructField("rawPath", StringType, nullable = false),
    StructField("pv", MapType(StringType, StringType,
      valueContainsNull = true), nullable = true),
    StructField("size", LongType, nullable = true),
    StructField("modTime", LongType, nullable = true),
    StructField("delTs", LongType, nullable = true),
    StructField("dvType", StringType, nullable = true),
    StructField("dvPath", StringType, nullable = true),
    StructField("dvOffset", IntegerType, nullable = true),
    StructField("dvSize", IntegerType, nullable = true),
    StructField("dvCard", LongType, nullable = true)))

  /** Checkpoint/sidecar parquet rows → [[FileActionSchema]] columns,
    * tolerant of absent fields (a checkpoint with no removes, a dv-
    * free table): anything missing becomes a typed NULL so every
    * source unions by name. Runs entirely on executors — the driver
    * never sees these rows until after reconciliation. */
  private def normalizeFileActions(df: DataFrame, ver: Long): DataFrame = {
    def action(name: String): Option[StructType] =
      df.schema.fields.find(_.name == name)
        .map(_.dataType.asInstanceOf[StructType])
    def fld(parent: String, path: Seq[String], dt: DataType): Column = {
      def present(st: Option[StructType], p: Seq[String]): Boolean =
        p match {
          case Nil => true
          case h +: t => st.flatMap(_.fields.find(_.name == h)) match {
            case Some(f) => f.dataType match {
              case s: StructType => present(Some(s), t)
              case _ => t.isEmpty
            }
            case None => false
          }
        }
      if (present(action(parent), path))
        path.foldLeft(col(quoted(parent)))(_.getField(_)).cast(dt)
      else lit(null).cast(dt)
    }
    val addNN =
      if (action("add").isDefined) col("add").isNotNull else lit(false)
    val remNN =
      if (action("remove").isDefined) col("remove").isNotNull
      else lit(false)
    val pvType = MapType(StringType, StringType, valueContainsNull = true)
    def both(path: Seq[String], dt: DataType): Column =
      when(addNN, fld("add", path, dt)).otherwise(fld("remove", path, dt))
    df.filter(addNN || remNN).select(
      addNN.as("isAdd"),
      lit(ver).as("ver"), lit(0L).as("idx"),
      both(Seq("path"), StringType).as("rawPath"),
      both(Seq("partitionValues"), pvType).as("pv"),
      both(Seq("size"), LongType).as("size"),
      fld("add", Seq("modificationTime"), LongType).as("modTime"),
      fld("remove", Seq("deletionTimestamp"), LongType).as("delTs"),
      both(Seq("deletionVector", "storageType"), StringType).as("dvType"),
      both(Seq("deletionVector", "pathOrInlineDv"), StringType)
        .as("dvPath"),
      both(Seq("deletionVector", "offset"), IntegerType).as("dvOffset"),
      both(Seq("deletionVector", "sizeInBytes"), IntegerType)
        .as("dvSize"),
      both(Seq("deletionVector", "cardinality"), LongType).as("dvCard"))
  }

  /** Latest committed version of the table (max commit/checkpoint
    * number in `_delta_log`). */
  def latestVersion(tablePath: String): Long =
    latestIn(tablePath, listLog(tablePath))

  /** The newest version in a [[listLog]] listing of `tablePath`. */
  private[ingest] def latestIn(tablePath: String, log: (Map[Long, File],
      Map[Long, Seq[File]], Map[Long, File])): Long =
    (log._1.keySet ++ log._2.keySet ++ log._3.keySet).maxOption.getOrElse(
      throw new IllegalArgumentException(
        s"$tablePath/_delta_log holds no commits — not a Delta table"))

  /** Commit `v`'s actions, one node per line; loud when the commit
    * file is gone, since `what` can then not be enumerated. */
  private[ingest] def commitActions(commits: Map[Long, File], v: Long,
      what: String): Seq[JsonNode] = {
    val f = commits.getOrElse(v, throw new IllegalArgumentException(
      s"commit $v is missing (vacuumed past a checkpoint?) — cannot " +
      s"enumerate $what; resync with snapshot()"))
    Files.readAllLines(f.toPath, StandardCharsets.UTF_8).asScala.toSeq
      .filter(_.nonEmpty).map(mapper.readTree)
  }

  /** An add/remove action's `dataChange` flag (absent means true). */
  private[graft] def dataChange(a: JsonNode): Boolean =
    Option(a.get("dataChange")).forall(_.asBoolean(true))

  /** Snapshot the table as a DataFrame at `versionAsOf` (default:
    * latest). */
  def snapshot(spark: SparkSession, tablePath: String,
      versionAsOf: Option[Long] = None): DataFrame =
    snapshotImpl(spark, tablePath, versionAsOf, withMeta = false)

  /** Resolve a timestamp to a version — the newest commit whose
    * timestamp is ≤ `ts` (delta's timestampAsOf rule). Commit time is
    * `commitInfo.inCommitTimestamp` when the commit carries one (the
    * protocol's monotonic in-log clock — per its spec the commitInfo
    * action is the FIRST line of such commits, so only one line is
    * read), falling back to the log file's modification time — what
    * delta-spark uses for tables without the feature (and why both
    * engines document mtime resolution as only as reliable as the
    * filesystem clock). */
  def versionAtTimestamp(tablePath: String, ts: Long): Long = {
    val (commits, _, _) = listLog(tablePath)
    require(commits.nonEmpty,
      s"$tablePath/_delta_log holds no commits — not a Delta table")
    def commitTime(f: File): Long = {
      val ict =
        scala.util.Using(java.nio.file.Files.newBufferedReader(f.toPath,
            StandardCharsets.UTF_8)) { r =>
          Option(r.readLine()).flatMap { line =>
            val n = mapper.readTree(line)
            Option(n.get("commitInfo")).filterNot(_.isNull)
              .flatMap(ci => Option(ci.get("inCommitTimestamp"))
                .filterNot(_.isNull).map(_.asLong()))
          }
        }.toOption.flatten
      ict.getOrElse(f.lastModified())
    }
    val times = commits.toSeq.map { case (v, f) => (v, commitTime(f)) }
    times.filter(_._2 <= ts).map(_._1)
      .maxOption.getOrElse(throw new IllegalArgumentException(
        s"no commit at or before timestamp $ts (earliest commit is " +
        s"${times.map(_._2).min})"))
  }

  /** Rows APPENDED strictly after `sinceVersion` — the incremental-
    * consumption primitive for engine- or reference-written tables
    * (the reference's checkpointed ingest reads "what landed since my
    * watermark", coin_to_delta_w_cp.py's shape, with the table
    * version as the watermark). Honest scope: every commit in
    * `(sinceVersion, latest]` must be PURE APPEND (add actions with
    * dataChange=true only — metaData/protocol/txn are fine); a
    * remove or a DV re-add in the range means rows were deleted or
    * rewritten, and pretending the adds are "the changes" would
    * silently miss them — rejected loudly (resync with a full
    * [[snapshot]], or use a table with change data feed for row-level
    * diffs). Actions with dataChange=false are SKIPPED, not rejected:
    * that is the protocol's OPTIMIZE convention ([[DeltaLakeMaintain
    * .compact]] emits them) — the commit rearranges bytes without
    * changing logical content, so it is a no-op for an appends
    * consumer, and rejecting it would permanently break every
    * watermark-based reader of a compacted table. One replay + one
    * scan of the added files; cost is O(files added in range), never
    * O(table). */
  def appendsSince(spark: SparkSession, tablePath: String,
      sinceVersion: Long): DataFrame =
    appendsSince(spark, tablePath, sinceVersion, DistributedStateMinBytes)

  /** [[appendsSince]] with the state path's size threshold given (see
    * [[stateImpl]]). */
  private[graft] def appendsSince(spark: SparkSession, tablePath: String,
      sinceVersion: Long, minBytes: Long): DataFrame = {
    val log = listLog(tablePath)
    val latest = latestIn(tablePath, log)
    require(sinceVersion <= latest,
      s"sinceVersion $sinceVersion > latest committed version $latest")
    val added = scala.collection.mutable.LinkedHashSet[String]()
    ((sinceVersion + 1) to latest).foreach { v =>
      commitActions(log._1, v, s"appends since $sinceVersion")
        .foreach { n =>
          def node(k: String) = Option(n.get(k)).filterNot(_.isNull)
          node("remove").foreach { r =>
            if (dataChange(r))
              throw new IllegalArgumentException(
                s"commit $v is not a pure append (remove action with " +
                "dataChange=true) — rows were deleted or rewritten in " +
                "the range; appendsSince cannot represent that as " +
                "appended rows. Resync with snapshot().")
            // an OPTIMIZE that swallows a file APPENDED IN THE RANGE
            // re-lands its rows mixed into files holding pre-range
            // rows — the path-filtered snapshot read can no longer
            // separate them. Compaction of pre-range files only (the
            // production shape) stays a clean skip.
            val p = decode(r.get("path").asText())
            if (added.contains(p))
              throw new IllegalArgumentException(
                s"commit $v compacted away file $p that was appended " +
                s"after version $sinceVersion — its rows are now mixed " +
                "with pre-range rows; resync with snapshot() or read " +
                "appends before compacting them.")
          }
          node("add").foreach { a =>
            if (dataChange(a)) {
              require(
                Option(a.get("deletionVector")).forall(_.isNull),
                s"commit $v re-adds a file with a deletion vector — not " +
                "a pure append; resync with snapshot()")
              added += decode(a.get("path").asText())
            }
            ()
          }
        }
    }
    snapshotImpl(spark, tablePath, None, withMeta = false,
      pathFilter = Some(added.toSet), minBytes)
  }

  /** Read a specific set of appended files (RAW log-encoded relative
    * paths) against the CURRENT snapshot — the micro-batch primitive
    * behind [[graft.stream.StreamIngest.ingestDeltaAppends]]: the
    * streaming source enumerates adds from commit files; this turns
    * one batch's worth into rows (schema/column-mapping/partition
    * handling identical to [[snapshot]]). Loud when a requested path
    * is no longer in the snapshot (compacted or removed before the
    * stream drained it) — silently reading fewer files would be row
    * loss. One replay, pruned to the wanted files: the checks and the
    * read see the same state, so a DML landing after the replay
    * cannot mask rows the checks passed. */
  private[graft] def readAppendedFiles(spark: SparkSession,
      tablePath: String, rawPaths: Set[String]): DataFrame = {
    val wanted = rawPaths.map(decode)
    val st = stateImpl(spark, tablePath, None, Some(wanted))
    testAfterReplay()
    val have = st.files.map(_.path).toSet
    val missing = wanted -- have
    require(missing.isEmpty,
      s"appended files ${missing.take(3).mkString(", ")} (${missing.size}" +
      s" total) were compacted or removed from $tablePath before the " +
      "stream consumed them — resync from a fresh snapshot()")
    // a DML that DV-rewrote a not-yet-consumed appended file between
    // commit enumeration and this snapshot read leaves the path LIVE
    // but masked — silently ingesting the post-delete subset would
    // durably commit short rows (r13 ADVICE: mirror appendsSince's DV
    // re-add rejection so the race fails loudly BEFORE the batch
    // commits, not on the next batch)
    val masked = st.files.filter(_.dv.isDefined).map(_.path)
    require(masked.isEmpty,
      s"appended files ${masked.take(3).mkString(", ")} (${masked.size}" +
      s" total) gained deletion vectors in $tablePath before the stream " +
      "consumed them — not a pure append; resync from a fresh snapshot()")
    read(spark, tablePath, st, withMeta = false)
  }

  /** Spec seam mirroring [[DeltaLakeDml.testAfterReplay]]: runs
    * between [[readAppendedFiles]]' log replay and its read. */
  private[graft] var testAfterReplay: () => Unit = () => ()

  /** The rows of an already-replayed state `st` plus row provenance:
    * every row carries `__file` (the RAW `_metadata.file_path` URI of
    * its data file — [[normFile]] maps it to `tableRoot/addFile.path`,
    * once per file, where a caller needs the file's identity) and
    * `__pos` (its parquet row index) — the handles [[DeltaLakeDml]]
    * needs to turn matched rows into deletion vectors. DV-deleted
    * rows are already subtracted. Reading `st` rather than the head
    * keeps the scan on the version the caller replayed. */
  private[graft] def snapshotMeta(spark: SparkSession, tablePath: String,
      st: Snapshot): DataFrame =
    read(spark, tablePath, st, withMeta = true)

  private def snapshotImpl(spark: SparkSession, tablePath: String,
      versionAsOf: Option[Long], withMeta: Boolean,
      pathFilter: Option[Set[String]] = None,
      minBytes: Long = DistributedStateMinBytes): DataFrame =
    // the filter flows into the state read itself: distributed-mode
    // tables prune BEFORE the collect (batch-size rows to the driver)
    read(spark, tablePath, stateImpl(spark, tablePath, versionAsOf,
      pathFilter, minBytes), withMeta)

  /** Read the active files of `st` (column mapping, partitions and DV
    * masking resolved) — no log replay, so a caller holding a state
    * can scan exactly it, or a subset of its files. Clean and
    * DV-bearing files are two relations: only the DV relation reads
    * `_metadata.file_path`/`row_index`, which cost a clean scan ≈9%. */
  private[ingest] def read(spark: SparkSession, tablePath: String,
      st: Snapshot, withMeta: Boolean): DataFrame = {
    val root = new File(tablePath).getAbsolutePath
    val (dvFiles, cleanFiles) = st.files.partition(_.dv.isDefined)
    def rel(files: Seq[AddFile], meta: Boolean): DataFrame =
      scan(spark, root, st, files.map((_, Nil)), meta)
    (Option.when(cleanFiles.nonEmpty || dvFiles.isEmpty)(
        rel(cleanFiles, withMeta)) ++
      Option.when(dvFiles.nonEmpty)(subtractDeleted(spark, root,
        rel(dvFiles, meta = true), dvFiles, keepMeta = withMeta)))
      .reduce(_ unionByName _)
  }

  /** The one relation builder every Delta read goes through: `files`
    * of table `root` as ONE `HadoopFsRelation` over a [[LogFileIndex]]
    * read against `st`'s schema — data columns by physical name (or
    * parquet field id), partition columns cast from each file's
    * `partitionValues` (physical-keyed under column mapping, logical
    * accepted defensively; null is SQL NULL), logical names and types
    * restored by a final projection. `extraData` are columns stored in
    * the files themselves beyond the table's (a change-data file's
    * `_change_type`, exempt from column mapping per the protocol);
    * `extraPart` are per-file constants, each file's values given
    * beside it in `files`. With `meta`, rows also carry `__file` (the
    * raw `_metadata.file_path` URI) and `__pos` (the parquet row
    * index). Output: the logical columns, then `extraData`, then
    * `extraPart`, then the meta columns. */
  private[ingest] def scan(spark: SparkSession, root: String, st: Snapshot,
      files: Seq[(AddFile, Seq[Any])], meta: Boolean,
      extraData: Seq[StructField] = Nil,
      extraPart: Seq[StructField] = Nil): DataFrame = {
    def physName(f: StructField): String = physicalField(st, f).name
    // resolve a metaData.partitionColumns entry (logical per the
    // protocol; physical accepted defensively) to its schema field
    def partField(name: String): StructField =
      st.schema.find(_.name == name)
        .orElse(st.schema.find(f => physName(f) == name))
        .getOrElse(throw new IllegalArgumentException(
          s"partition column $name not in the table schema"))
    val partFields = st.partitionColumns.map(partField)
    val dataSchema = StructType(st.schema.fields
      .filterNot(f => partFields.exists(_.name == f.name))
      .map(physicalField(st, _)) ++ extraData)
    val partSchema = StructType(partFields.map(f =>
      StructField(physName(f), stripType(f.dataType))) ++ extraPart)

    // partition values cast as the session casts a string literal
    val tz = Some(spark.conf.get("spark.sql.session.timeZone"))
    val ansi = spark.conf.get("spark.sql.ansi.enabled").toBoolean
    def partRow(f: AddFile, extra: Seq[Any]): InternalRow =
      InternalRow.fromSeq(partFields.map { p =>
        f.partitionValues.get(physName(p)).orElse(f.partitionValues
          .get(p.name)).flatten.map(v => Cast(Literal(v),
            stripType(p.dataType), tz, ansi).eval()).orNull
      } ++ extra)
    val index = LogFileIndex(root, partSchema,
      files.map { case (f, extra) => (f, partRow(f, extra)) })
    val relation = HadoopFsRelation(index, partSchema, dataSchema,
      None, new LogParquetFormat(), Map.empty)(spark)
    val metaCols =
      if (meta) Seq(col("_metadata.file_path").as("__file"),
        col("_metadata.row_index").as("__pos"))
      else Nil
    // physical columns back to logical names/types (cast between
    // structs matches POSITIONALLY, renaming nested fields; types are
    // identical so it is a rename-only no-op)
    PlanBridge.ofRows(spark, LogicalRelation(relation)).select(
      st.schema.fields.toSeq.map(f => col(quoted(physName(f)))
        .cast(stripType(f.dataType)).as(f.name)) ++
        (extraData ++ extraPart).map(f => col(quoted(f.name))) ++
        metaCols: _*)
  }

  private val UriScheme = java.util.regex.Pattern.compile("^[a-z]+:/+")

  /** A data file's identity from its `_metadata.file_path` URI
    * ("file:///..."): strip the scheme and percent-decode with
    * [[decode]] (so a literal `+` stays a `+`), giving the
    * `tableRoot/addFile.path` form the DV descriptor map and DML's
    * file lookup are keyed by. Called once per FILE — by
    * [[DvLiveHelper]] when the scanned file changes and by
    * [[DeltaLakeDml]]'s per-file DV step — never per row. A miss here
    * fails OPEN (no bitmap found → deleted rows resurrect), which is
    * why every consumer goes through this one function. */
  private[graft] def normFile(uri: String): String =
    decode(UriScheme.matcher(uri).replaceFirst("/"))

  /** Executor-side DV bitmap cache: each task tests its rows against
    * the (sorted) position array of ITS file, loaded once per
    * executor and binary-searched per row — delta-spark's own scan-
    * side filtering shape. Memory is bounded by the positions of the
    * files an executor actually scans (8 B/position), with a crude
    * full-clear once the cache holds many files — bitmaps reload
    * cheaply, correctness never depends on residency. */
  private object DvCache {
    private val cache =
      new java.util.concurrent.ConcurrentHashMap[String, Array[Long]]()
    private val MaxEntries = 1024
    def positionsSorted(root: String,
        d: DeletionVectors.Descriptor): Array[Long] = {
      // keyed by the DV's own identity, NEVER the data-file path: a
      // DML rewrite gives the same file a NEW descriptor, and a
      // path-keyed cache would keep serving the superseded bitmap
      val key = dvUid(Some(d))
      var a = cache.get(key)
      if (a == null) {
        // deserialize() emits ascending positions by construction
        a = DeletionVectors.positions(new File(root), d)
        if (cache.size >= MaxEntries) cache.clear()
        cache.put(key, a)
        ()
      }
      a
    }
  }

  /** Executor-cached decoded DV positions — [[DvLiveHelper]]'s hook
    * into [[DvCache]]. */
  private[ingest] def dvPositionsCached(root: String,
      d: DeletionVectors.Descriptor): Array[Long] =
    DvCache.positionsSorted(root, d)

  /** Filter out each file's DV positions IN THE SCAN: a per-row
    * filter binary-searches the row's `_metadata.row_index` against
    * its file's decoded bitmap (executor-cached, loaded from shared
    * storage once per executor per file — [[DvCache]]). ZERO
    * shuffle: the previous broadcast-anti-join fallback shuffled the
    * FULL-width snapshot once the DV cardinality outgrew the
    * broadcast guard — the sf10 audit measured a DML table paying
    * 748 MB of exchange for a 266 MB source on exactly that path.
    * Only the descriptor MAP broadcasts (one small entry per file),
    * never position sets.
    *
    * The filter is keyed on the RAW `_metadata.file_path` URI: the
    * row's file is resolved to its descriptor by [[normFile]] once
    * per file, inside [[DvLiveHelper]]'s memo, so no per-row decoding
    * expression enters the plan.
    *
    * With `spark.graft.dv.checkCardinality=true`, every decoded DV
    * position must find its row: one extra counting job over the same
    * scan and the same resolution asserts that the masked rows number
    * exactly the descriptors' total cardinality — turning any silent
    * fail-open path mismatch (or a truncated data file) into a loud
    * error. It stays a session conf, unlike the engine's size guards,
    * because it is a safety check rather than a tuning: the specs turn
    * it on for a whole block of reads, and production leaves it off. */
  private def subtractDeleted(spark: SparkSession, root: String,
      df: DataFrame, dvFiles: Seq[AddFile],
      keepMeta: Boolean = false): DataFrame = {
    val descs = dvFiles.map(f => (s"$root/${f.path}", f.dv.get)).toMap
    val bcDesc = spark.sparkContext.broadcast(descs)
    // native codegen'd expression, not a Scala UDF: the DV filter
    // compiles into the scan's WholeStageCodegen span (one virtual
    // call per row, no catalyst↔scala marshaling)
    import org.apache.spark.sql.graft.ColumnBridge
    val live = ColumnBridge.column(DvLiveExpr(
      ColumnBridge.expression(col("__file")),
      ColumnBridge.expression(col("__pos")),
      new DvLiveHelper(bcDesc, root)))
    if (spark.conf.getOption("spark.graft.dv.checkCardinality")
        .contains("true")) {
      val totalCard = descs.values.map(_.cardinality).sum
      val hit = df.filter(!live).count()
      require(hit == totalCard,
        s"deletion-vector positions matched $hit of $totalCard rows — " +
        "path normalization mismatch or truncated data file; refusing " +
        "to fail open")
    }
    val filtered = df.filter(live)
    if (keepMeta) filtered else filtered.drop("__file", "__pos")
  }

  /** Replay the log to `versionAsOf` (default latest) and return the
    * resolved state — exposed for specs and for callers that need the
    * file list (e.g. incremental ingestion watermarking, checkpoint
    * emission, DML). */
  def state(spark: SparkSession, tablePath: String,
      versionAsOf: Option[Long] = None): Snapshot =
    stateImpl(spark, tablePath, versionAsOf, None)

  /** [[state]] with an optional path pre-filter (DECODED relative
    * paths): in distributed mode the filter pushes into the
    * reconciliation frame BEFORE the collect, so an incremental
    * consumer of a million-file table ([[appendsSince]], the
    * streaming source's pruned reads) ships batch-size rows to the
    * driver, not the whole file list. Tombstones are filtered by the
    * same set — pruned states serve reads, which never consult them.
    * Driver mode filters after replay (its cost is the replay
    * itself). Guarded to modest set sizes; larger sets fall back to
    * the post-collect filter rather than bloating the plan with a
    * giant IN list. Distributed mode engages from `minBytes` of
    * checkpoint ([[DistributedStateMinBytes]]; specs pass 0 or
    * `Long.MaxValue` to check the two paths agree). */
  private[graft] def stateImpl(spark: SparkSession, tablePath: String,
      versionAsOf: Option[Long],
      pathFilter: Option[Set[String]],
      minBytes: Long = DistributedStateMinBytes): Snapshot = {
    val (commits, checkpoints, v2cps) = listLog(tablePath)
    val latest = latestIn(tablePath, (commits, checkpoints, v2cps))
    val target = versionAsOf.getOrElse(latest)
    require(target <= latest,
      s"versionAsOf $target > latest committed version $latest")

    // file-action state keyed by the protocol's (path, dvId)
    // reconciliation key — see the class doc for why path alone loses
    // rows on DV updates
    val active =
      scala.collection.mutable.LinkedHashMap[(String, String), AddFile]()
    val tombs = scala.collection.mutable
      .LinkedHashMap[(String, String), RemoveTombstone]()
    val txns = scala.collection.mutable.LinkedHashMap[String, Long]()
    val domains =
      scala.collection.mutable.LinkedHashMap[String, DomainMetadata]()
    val sidecars = scala.collection.mutable.ArrayBuffer[String]()
    var schemaString: Option[String] = None
    var partCols: Seq[String] = Nil
    var config: Map[String, String] = Map.empty
    var metaId = ""
    var createdTime: Option[Long] = None
    var minReader = 1
    var minWriter = 2
    var readerFeatures: Seq[String] = Nil
    var writerFeatures: Seq[String] = Nil

    val cpClassic = checkpoints.keySet.filter(_ <= target).maxOption
    val cpV2 = v2cps.keySet.filter(_ <= target).maxOption
    val cp = (cpClassic.toSeq ++ cpV2.toSeq).maxOption

    // ---- distributed file-state mode ---------------------------------
    // A million-file table's checkpoint must not be Jackson-parsed row
    // by row on the driver (the classic path's to_json → collect →
    // re-parse double serialization). Above a checkpoint-size
    // threshold, FILE actions are normalized + reconciled as a
    // DataFrame — latest action per (path, dvUid) wins, the same
    // algebra applyLine implements — and the driver receives exactly
    // one typed row per final file/tombstone. Non-file actions are a
    // handful of rows, collected via a pushed-down null filter through
    // the SAME applyLine parser.
    val cpBytes: Long = cp.map { v =>
      if (cpClassic.contains(v)) checkpoints(v).map(_.length).sum
      else {
        val scDir =
          new File(new File(tablePath, "_delta_log"), "_sidecars")
        v2cps(v).length + Option(scDir.listFiles())
          .getOrElse(Array.empty[File]).map(_.length).sum
      }
    }.getOrElse(0L)
    val distributed = cpBytes >= minBytes
    // commit-line file actions (bounded by appends since the
    // checkpoint) and checkpoint/sidecar file-action frames, merged in
    // one reconciliation pass after replay
    val fileRows = scala.collection.mutable.ArrayBuffer[Row]()
    val fileFrames = scala.collection.mutable.ArrayBuffer[DataFrame]()
    var curVer = 0L
    var curIdx = 0L

    /** ONE parser for every log surface: JSON commits, v2 json
      * checkpoints, and (via a to_json re-encode) classic/v2/sidecar
      * checkpoint parquet rows. */
    def applyLine(line: String): Unit = {
      curIdx += 1
      val n = mapper.readTree(line)
      def node(k: String) = Option(n.get(k)).filterNot(_.isNull)
      node("metaData").foreach { m =>
        schemaString = Some(m.get("schemaString").asText())
        metaId = Option(m.get("id")).filterNot(_.isNull)
          .map(_.asText()).getOrElse("")
        createdTime = Option(m.get("createdTime"))
          .filterNot(_.isNull).map(_.asLong())
        partCols = Option(m.get("partitionColumns")).filterNot(_.isNull)
          .toSeq.flatMap(_.elements().asScala.map(_.asText()))
        config = Option(m.get("configuration")).filterNot(_.isNull)
          .map(c => c.properties().asScala
            .filterNot(_.getValue.isNull)
            .map(e => e.getKey -> e.getValue.asText()).toMap)
          .getOrElse(Map.empty)
      }
      node("protocol").foreach { p =>
        minReader = p.get("minReaderVersion").asInt()
        minWriter = Option(p.get("minWriterVersion")).filterNot(_.isNull)
          .map(_.asInt()).getOrElse(2)
        def feats(k: String): Seq[String] =
          Option(p.get(k)).filterNot(_.isNull)
            .map(_.elements().asScala.map(_.asText()).toSeq)
            .getOrElse(Nil)
        readerFeatures = feats("readerFeatures")
        writerFeatures = feats("writerFeatures")
      }
      def dvRowFields(dv: Option[DeletionVectors.Descriptor]) = Seq(
        dv.map(_.storageType).orNull, dv.map(_.pathOrInlineDv).orNull,
        dv.flatMap(_.offset).map(Int.box).orNull,
        dv.map(d => Int.box(d.sizeInBytes)).orNull,
        dv.map(d => Long.box(d.cardinality)).orNull)
      node("add").foreach { a =>
        val f = fileAction(a)
        if (distributed) {
          fileRows += Row.fromSeq(Seq(true, curVer, curIdx, f.rawPath,
            f.partitionValues.map { case (k, v) => k -> v.orNull },
            optL(a, "size").map(Long.box).orNull,
            optL(a, "modificationTime").map(Long.box).orNull,
            null) ++ dvRowFields(f.dv))
        } else {
          val key = (f.path, dvUid(f.dv))
          tombs.remove(key)
          active.remove(key)
          active.put(key, f)
        }
        ()
      }
      node("remove").foreach { r =>
        val f = fileAction(r)
        if (distributed) {
          fileRows += Row.fromSeq(Seq(false, curVer, curIdx, f.rawPath,
            f.partitionValues.map { case (k, v) => k -> v.orNull },
            optL(r, "size").map(Long.box).orNull, null,
            optL(r, "deletionTimestamp").map(Long.box).orNull) ++
            dvRowFields(f.dv))
        } else {
          val key = (f.path, dvUid(f.dv))
          active.remove(key)
          tombs.put(key, RemoveTombstone(f.rawPath, f.path,
            optL(r, "deletionTimestamp"), f.partitionValues,
            optL(r, "size"), f.dv))
        }
        ()
      }
      node("txn").foreach { t =>
        txns.put(t.get("appId").asText(), t.get("version").asLong()); ()
      }
      node("domainMetadata").foreach { d =>
        val dom = d.get("domain").asText()
        domains.put(dom, DomainMetadata(dom,
          Option(d.get("configuration")).filterNot(_.isNull)
            .map(_.asText()).getOrElse(""),
          Option(d.get("removed")).filterNot(_.isNull)
            .exists(_.asBoolean()))); ()
      }
      node("sidecar").foreach { s =>
        sidecars += s.get("path").asText(); ()
      }
    }

    /** Checkpoint/sidecar parquet rows → JSON lines → [[applyLine]].
      * `ignoreNullFields=false` keeps null partition values and lets
      * the parser's null filters decide — one parser for every
      * surface beats three row-walkers that can drift. Driver memory
      * is bounded by the action count, same as the raw replay. */
    def applyParquet(files: Seq[File]): Unit = {
      val df = spark.read.parquet(files.map(_.getPath): _*)
      if (distributed) {
        // the handful of non-file rows come to the driver through a
        // pushed-down null filter + the SAME applyLine parser; file
        // actions stay on executors as a normalized frame
        val metaCols = Seq("metaData", "protocol", "txn",
          "domainMetadata", "sidecar").filter(df.columns.contains)
        if (metaCols.nonEmpty) {
          df.filter(metaCols.map(c => col(quoted(c)).isNotNull)
              .reduce(_ || _))
            .select(to_json(
              struct(metaCols.map(c => col(quoted(c))): _*),
              Map("ignoreNullFields" -> "false").asJava).as("j"))
            .collect().foreach(r => applyLine(r.getString(0)))
        }
        if (df.columns.contains("add") || df.columns.contains("remove"))
          fileFrames += normalizeFileActions(df, curVer)
      } else {
        df.select(to_json(struct(df.columns.map(c => col(quoted(c))): _*),
            Map("ignoreNullFields" -> "false").asJava).as("j"))
          .collect().foreach(r => applyLine(r.getString(0)))
      }
    }

    cp.foreach { v =>
      curVer = v
      if (cpClassic.contains(v)) applyParquet(checkpoints(v))
      else {
        val f = v2cps(v)
        if (f.getName.endsWith(".json"))
          Files.readAllLines(f.toPath, StandardCharsets.UTF_8).asScala
            .filter(_.nonEmpty).foreach(applyLine)
        else applyParquet(Seq(f))
        // sidecar parts live under _delta_log/_sidecars/ and carry
        // ONLY file actions (PROTOCOL.md § V2 checkpoints)
        val scDir = new File(new File(tablePath, "_delta_log"), "_sidecars")
        val scFiles = sidecars.toSeq.map { s =>
          val name = decode(s)
          val f2 = if (name.contains("/")) new File(name)
                   else new File(scDir, name)
          require(f2.isFile, s"v2-checkpoint sidecar $f2 missing")
          f2
        }
        if (scFiles.nonEmpty) applyParquet(scFiles)
      }
    }

    val from = cp.map(_ + 1).getOrElse(0L)
    (from to target).foreach { v =>
      val f = commits.getOrElse(v, throw new IllegalArgumentException(
        s"commit $v missing from $tablePath/_delta_log (gap after " +
        s"checkpoint ${cp.getOrElse(-1L)}) — cannot replay to $target"))
      curVer = v
      Files.readAllLines(f.toPath, StandardCharsets.UTF_8).asScala
        .filter(_.nonEmpty).foreach(applyLine)
    }

    if (distributed) {
      // one reconciliation pass on executors: latest action per
      // (path, dvUid) wins — adds become files, removes tombstones —
      // then ONE typed row per surviving key reaches the driver
      val frames = fileFrames.toSeq ++ (if (fileRows.nonEmpty)
        Seq(spark.createDataFrame(fileRows.toSeq.asJava,
          FileActionSchema)) else Nil)
      if (frames.nonEmpty) {
        val decodeU = udf((s: String) => decode(s))
        val keyed = frames.reduce(_ unionByName _)
          .withColumn("path", decodeU(col("rawPath")))
          .withColumn("dvUid", when(col("dvType").isNull, lit(""))
            .otherwise(concat(col("dvType"), col("dvPath"),
              when(col("dvOffset").isNotNull,
                concat(lit("@"), col("dvOffset").cast("string")))
                .otherwise(lit("")))))
        // path pre-filter BEFORE the window: the key includes path,
        // so latest-wins over the filtered subset is identical — and
        // both the shuffle and the collect shrink to the asked-for
        // paths
        val pushable = pathFilter.filter(_.size <= 10000)
        val scoped = pushable.fold(keyed)(keep =>
          keyed.filter(col("path").isin(keep.toSeq: _*)))
        val w = Window.partitionBy(col("path"), col("dvUid"))
          .orderBy(col("ver").desc, col("idx").desc)
        val latest = scoped
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
        latest.collect()
          .sortBy(r => (r.getAs[String]("path"), r.getAs[String]("dvUid")))
          .foreach { r =>
            def num[T](n: String): Option[T] =
              if (r.isNullAt(r.fieldIndex(n))) None
              else Some(r.getAs[T](n))
            val dv = Option(r.getAs[String]("dvType")).map(t =>
              DeletionVectors.Descriptor(t, r.getAs[String]("dvPath"),
                num[Int]("dvOffset"), r.getAs[Int]("dvSize"),
                r.getAs[Long]("dvCard")))
            val raw = r.getAs[String]("rawPath")
            val p = r.getAs[String]("path")
            val pv = Option(r.getAs[scala.collection.Map[String, String]](
                "pv"))
              .map(_.toMap.map { case (k, v) => k -> Option(v) })
              .getOrElse(Map.empty[String, Option[String]])
            val key = (p, r.getAs[String]("dvUid"))
            if (r.getAs[Boolean]("isAdd"))
              active.put(key, AddFile(p, raw, pv,
                num[Long]("size").getOrElse(0L),
                num[Long]("modTime").getOrElse(0L), dv))
            else
              tombs.put(key, RemoveTombstone(raw, p, num[Long]("delTs"),
                pv, num[Long]("size"), dv))
            ()
          }
      }
    }

    require(minReader <= 3,
      s"minReaderVersion $minReader > 3 — protocol newer than this reader")
    if (minReader >= 3) {
      val unsupported = readerFeatures.toSet -- SupportedReaderFeatures
      require(unsupported.isEmpty,
        s"unsupported Delta reader features: ${unsupported.mkString(", ")}")
    }
    val cmMode = config.getOrElse("delta.columnMapping.mode", "none")
    require(Set("none", "name", "id").contains(cmMode),
      s"delta.columnMapping.mode=$cmMode is not a protocol mode")

    val schema = DataType.fromJson(schemaString.getOrElse(
      throw new IllegalArgumentException(
        s"no metaData action found replaying $tablePath to $target")))
      .asInstanceOf[StructType]
    if (cmMode == "name")
      schema.fields.foreach(f => require(
        f.metadata.contains(PhysicalNameKey),
        s"column mapping is 'name' but field ${f.name} carries no " +
        s"$PhysicalNameKey metadata — refusing to guess"))
    if (cmMode == "id")
      schema.fields.foreach(f => require(
        f.metadata.contains(FieldIdKey),
        s"column mapping is 'id' but field ${f.name} carries no " +
        s"$FieldIdKey metadata — refusing to guess"))
    // driver mode (and the big-set distributed fallback) filters
    // post-replay; the pushed-down distributed case re-applies
    // harmlessly
    val files = pathFilter.fold(active.values.toSeq)(keep =>
      active.values.toSeq.filter(f => keep.contains(f.path)))
    val tombstones = pathFilter.fold(tombs.values.toSeq)(keep =>
      tombs.values.toSeq.filter(t => keep.contains(t.path)))
    Snapshot(target, schema, partCols, files, config,
      metaId, createdTime, minReader, minWriter, readerFeatures,
      writerFeatures, tombstones, txns.toMap, domains.values.toSeq)
  }

  private[ingest] def quoted(name: String): String = s"`$name`"

  private def optL(n: JsonNode, k: String): Option[Long] =
    Option(n.get(k)).filterNot(_.isNull).map(_.asLong())

  /** The file an add, remove or cdc action names: decoded and raw
    * path, partition values, logged size and modificationTime (0 when
    * absent), and its deletion vector. */
  private[ingest] def fileAction(a: JsonNode): AddFile = {
    val raw = a.get("path").asText()
    val pv = Option(a.get("partitionValues")).filterNot(_.isNull)
      .map(_.properties().asScala.map(e => e.getKey ->
        Option.when(!e.getValue.isNull)(e.getValue.asText())).toMap)
      .getOrElse(Map.empty[String, Option[String]])
    val dv = Option(a.get("deletionVector")).filterNot(_.isNull).map(d =>
      DeletionVectors.Descriptor(d.get("storageType").asText(),
        d.get("pathOrInlineDv").asText(),
        Option(d.get("offset")).filterNot(_.isNull).map(_.asInt()),
        d.get("sizeInBytes").asInt(), d.get("cardinality").asLong()))
    AddFile(decode(raw), raw, pv, optL(a, "size").getOrElse(0L),
      optL(a, "modificationTime").getOrElse(0L), dv)
  }

  /** Percent-decode a log path. URLDecoder would also turn a literal
    * `+` into a space — the protocol's encoding is URI-style percent
    * escaping where `+` means `+`, so it is pre-escaped. */
  private[graft] def decode(p: String): String =
    java.net.URLDecoder.decode(p.replace("+", "%2B"), "UTF-8")

  /** (commit version → file, classic checkpoint version → part files,
    * v2 checkpoint version → file).
    *
    * Multi-part checkpoints are only usable COMPLETE: the filename
    * encodes part-N-of-M (`%020d.checkpoint.%010d.%010d.parquet`),
    * and a crashed writer (parts move into `_delta_log` one at a
    * time) or interrupted copy leaves a partial set whose replay
    * would silently drop every add action in the missing parts.
    * delta-spark's rule: require all M parts with one consistent M;
    * otherwise the version is dropped here so [[state]] falls back
    * to an older complete checkpoint or pure commit replay. A classic
    * single-file checkpoint at the same version is complete on its
    * own and wins over a part set (never unioned — that would
    * double-count actions). */
  private[ingest] def listLog(tablePath: String)
      : (Map[Long, File], Map[Long, Seq[File]], Map[Long, File]) = {
    val dir = new File(tablePath, "_delta_log")
    require(dir.isDirectory, s"$dir does not exist — not a Delta table")
    val files = Option(dir.listFiles()).getOrElse(Array.empty).toSeq
    val commit = "([0-9]{20})\\.json".r
    val cpClassic = "([0-9]{20})\\.checkpoint\\.parquet".r
    val cpPart =
      "([0-9]{20})\\.checkpoint\\.([0-9]+)\\.([0-9]+)\\.parquet".r
    val cpV2 =
      "([0-9]{20})\\.checkpoint\\.[-a-zA-Z0-9]+\\.(json|parquet)".r
    val commits = files.flatMap(f => f.getName match {
      case commit(v) => Some(v.toLong -> f)
      case _ => None
    }).toMap
    val singles = files.flatMap(f => f.getName match {
      case cpClassic(v) => Some(v.toLong -> f)
      case _ => None
    }).toMap
    val partSets = files.flatMap(f => f.getName match {
      case cpPart(v, n, m) => Some((v.toLong, n.toInt, m.toInt, f))
      case _ => None
    }).groupBy(_._1).flatMap { case (v, ps) =>
      val totals = ps.map(_._3).distinct
      val complete = totals.sizeIs == 1 &&
        ps.map(_._2).toSet == (1 to totals.head).toSet
      // part 1 sorts first so protocol/metaData replay before file
      // actions, matching the writer's layout
      if (complete) Some(v -> ps.sortBy(_._2).map(_._4)) else None
    }
    val checkpoints = (partSets ++
      singles.view.mapValues(Seq(_))).toMap
    val v2 = files.flatMap(f => f.getName match {
      case cpClassic(_) | cpPart(_, _, _) => None
      case cpV2(v, _) => Some(v.toLong -> f)
      case _ => None
    }).toMap
    (commits, checkpoints, v2)
  }
}
