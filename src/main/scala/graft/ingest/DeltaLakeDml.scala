package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.io.File
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Row-level DML on REAL Delta tables — DELETE / UPDATE / MERGE-style
  * upsert emitted as deletion vectors plus add/remove actions, per the
  * public protocol (PROTOCOL.md § Deletion Vectors, § Add/Remove
  * reconciliation). This is the write-side completion of the interop
  * story: the reference's own pipelines MERGE into Delta tables
  * (spark/jobs/alphavantage/bronze2_to_silver.py:142-152,
  * spark/jobs/finance_news/finance_bronze2_to_silver.py:196-203,
  * news_article_sentiment.py:174-184), so an engine that could only
  * APPEND to the shared tables could not replace that workflow.
  * [[DeltaLakeWrite]] stays the append/create surface; this object
  * adds the mutating verbs on top of the same log primitives.
  *
  * How a mutation lands (the DV fast path — no data-file rewrite):
  *  1. [[DeltaLakeRead.snapshotMeta]] reads the rows of the ONE
  *     replayed state the mutation computes against (the version it
  *     commits after) with `(__file, __pos)` provenance
  *     (already-deleted positions subtracted, column mapping resolved
  *     — conditions are written against LOGICAL columns). `__file` is
  *     the raw `_metadata.file_path` URI until step 3.
  *  2. ONE aggregation computes, per data file, the matched row
  *     positions AND the live row count — so fully-emptied files are
  *     detected in the same scan (they get a bare `remove`; no
  *     degenerate all-rows DV is left behind to poison later scans).
  *  3. Each affected file's URI is normalized to its table path
  *     ([[DeltaLakeRead.normFile]], once per file) and its new DV
  *     (existing DV positions ∪ matched positions — descriptors are
  *     ABSOLUTE, not deltas) is serialized and written ON AN EXECUTOR
  *     by [[DeletionVectors.writeFile]]; the driver only ever holds
  *     one small descriptor row per file, never position sets.
  *     (Executor-side `.bin` writes assume a shared filesystem — the
  *     same deployment posture as every staged write in this engine.)
  *  4. Replacement/new rows (UPDATE's rewrites, upsert's source)
  *     stage as ordinary parquet via [[DeltaLakeWrite.stageData]],
  *     physical-named under column mapping.
  *  5. One commit claims the next version slot: a protocol upgrade to
  *     (3, 7) + `deletionVectors` features when the table does not
  *     carry them yet (legacy-implied features preserved per the
  *     protocol's upgrade rule), a metaData action pinning
  *     `delta.enableDeletionVectors=true`, then per affected file
  *     `remove(path, oldDv)` + `add(path, newDv)` — the (path, dvId)
  *     pair delta readers reconcile by — and the staged adds.
  *
  * Concurrency: optimistic, with full re-execution. A mutation may
  * commit only at readVersion+1 — or past intervening commits proven
  * benign (pure appends: delta-spark's WriteSerializable allows an
  * append to land under a concurrent DELETE). Any intervening
  * remove/DV re-add/metaData/protocol change rolls back this
  * attempt's staged files and DV bins and RECOMPUTES against the new
  * head (up to 5 times), so
  * racing mutators SERIALIZE — two disjoint DELETEs both land, two
  * overlapping ones apply one after the other — instead of the loser
  * silently dropping the winner's deletes. Sustained conflict aborts
  * loudly. Appends remain freely concurrent ([[DeltaLakeWrite
  * .commitSlot]] advances blindly; adds are commutative).
  *
  * Scale shape: the matched-position aggregation is one shuffle keyed
  * by data file; DV encoding parallelizes per file across executors;
  * the commit is O(affected files). A DELETE touching k of N files
  * does work proportional to k, never N. */
object DeltaLakeDml {

  /** What one mutation did: the committed version (or the unchanged
    * current version when nothing matched — no empty commits), rows
    * newly masked by DVs, rows landed in new files, and how many data
    * files gained a DV or were fully retired. */
  final case class DmlResult(version: Long, rowsDeleted: Long,
      rowsInserted: Long, filesChanged: Int)

  /** DELETE FROM table WHERE `condition` (a SQL boolean over the
    * table's logical columns). */
  def delete(spark: SparkSession, tablePath: String,
      condition: String): DmlResult = withRetries {
    val st = gated(spark, tablePath)
    val t = DeltaLakeRead.snapshotMeta(spark, tablePath, st)
    val cond = expr(condition)
    val cdc = t.filter(cond).select(logicalCols(st): _*)
      .withColumn(DeltaLakeCdf.ChangeTypeCol, lit("delete"))
    mutate(spark, tablePath, st, t, cond, None, cdcRows = Some(cdc))
  }

  private def logicalCols(st: DeltaLakeRead.Snapshot) =
    st.schema.fieldNames.toSeq.map(c => col(DeltaLakeRead.quoted(c)))

  /** UPDATE table SET col = sqlExpr, ... WHERE `condition`. Matched
    * rows are DV-deleted and re-landed in new files with the
    * assignments applied (expressions see the OLD row, standard
    * UPDATE semantics). */
  def update(spark: SparkSession, tablePath: String, condition: String,
      set: Map[String, String]): DmlResult = withRetries {
    val st = gated(spark, tablePath)
    val unknown = set.keySet -- st.schema.fieldNames.toSet
    require(unknown.isEmpty,
      s"SET targets ${unknown.mkString(", ")} not in the table schema")
    val t = DeltaLakeRead.snapshotMeta(spark, tablePath, st)
    val cond = expr(condition)
    val rewritten = t.filter(cond).select(st.schema.fields.toSeq.map { f =>
      set.get(f.name)
        .map(e => expr(e).cast(DeltaLakeRead.stripType(f.dataType))
          .as(f.name))
        .getOrElse(col(DeltaLakeRead.quoted(f.name)))
    }: _*)
    val cdc = t.filter(cond).select(logicalCols(st): _*)
      .withColumn(DeltaLakeCdf.ChangeTypeCol, lit("update_preimage"))
      .unionByName(rewritten.withColumn(DeltaLakeCdf.ChangeTypeCol,
        lit("update_postimage")))
    mutate(spark, tablePath, st, t, cond, Some(rewritten),
      cdcRows = Some(cdc))
  }

  /** MERGE-style upsert: WHEN MATCHED on `keys` UPDATE ALL, WHEN NOT
    * MATCHED INSERT ALL — the reference pipelines' exact merge shape
    * (alphavantage/bronze2_to_silver.py:142-152). `source` must carry
    * the table's full logical column set; its keys must be unique
    * (two source rows hitting one target row has no deterministic
    * outcome — rejected, as delta-spark does). Duplicate keys on the
    * TARGET side are legal and follow delta-spark's UPDATE ALL
    * semantics: every matched target row is updated, so a source key
    * matching n target rows DV-deletes n rows and lands n postimage
    * copies — the table's row count is preserved, not shrunk. */
  def upsert(spark: SparkSession, tablePath: String, source: DataFrame,
      keys: Seq[String]): DmlResult = withRetries {
    val st = gated(spark, tablePath)
    require(keys.nonEmpty, "upsert needs at least one key column")
    val logical = st.schema.fieldNames.toSet
    // the source batch feeds THREE consumers (dup-key check, the match
    // keys, the insert staging) — pin it once or the caller's frame
    // recomputes per consumer
    val src = source.localCheckpoint()
    require(src.columns.toSet == logical,
      s"source columns ${source.columns.sorted.mkString(",")} != table " +
      s"columns ${logical.toSeq.sorted.mkString(",")} (update-all/" +
      "insert-all upsert needs the full column set)")
    // precondition probe overlapped with the matched-counts probe
    // below (guide §2.6) — both are read-only jobs over the
    // checkpointed source/narrow target; the require still fires
    // BEFORE mutate() lands any side effect
    val dupKeysF = scala.concurrent.Future(
      src.groupBy(keys.map(c => col(DeltaLakeRead.quoted(c))): _*)
        .count().filter(col("count") > 1).limit(1).count())(
      graft.core.Overlap.ec)
    val newRows = src.select(st.schema.fields.toSeq.map(f =>
      col(DeltaLakeRead.quoted(f.name))
        .cast(DeltaLakeRead.stripType(f.dataType)).as(f.name)): _*)
    val t = DeltaLakeRead.snapshotMeta(spark, tablePath, st)
    val srcKeys = src
      .select(keys.map(c => col(DeltaLakeRead.quoted(c))): _*)
      .distinct().withColumn("__matched", lit(1))
    // project the target to (keys, __file, __pos) BEFORE the match
    // join: once srcKeys outgrows broadcast this join shuffles the
    // target on the keys, and the sf10 audit measured the full-width
    // snapshot paying 15x the bytes the match actually needs.
    // PERSISTED (round-14): the narrow frame feeds the multiplicity
    // aggregate AND the DV-position scan inside mutate — unpersisted,
    // each re-ran the snapshot parquet scan (5 full table scans per
    // upsert profiled at sf0.1; 2 after the two caches below).
    val narrow = t.select((keys.map(c => col(DeltaLakeRead.quoted(c))) ++
      Seq(col("__file"), col("__pos"))): _*).persist()
    val joined = narrow.join(srcKeys, keys, "left")
    val srcKeyOnly = srcKeys.drop("__matched")
    // per-key target multiplicity: a source key matching n target
    // rows must land n postimage copies (all n were DV-deleted) —
    // collapsing to one would shrink the table vs delta-spark MERGE.
    // The multiplicity aggregate is scoped to keys PRESENT IN THE
    // SOURCE (semi-join on the narrow projection before the groupBy),
    // so its shuffle is O(matched rows), never O(target keys); a
    // LIMIT-1 probe of it decides the shape: duplicate-free targets
    // (the overwhelmingly common case) insert the source batch
    // VERBATIM — zero joins in the staging path — while duplicated
    // targets pay the explode-join that preserves row count.
    // PERSISTED: three consumers (the probe, the matched semi, the
    // fresh-insert anti) — the probe fills the cache, and the frame
    // is matched-keys-sized (≤ batch), the broadcast-join budget.
    val matchedCounts = narrow
      .join(srcKeyOnly, keys, "left_semi")
      .groupBy(keys.map(c => col(DeltaLakeRead.quoted(c))): _*)
      .agg(count(lit(1)).as("__tn")).persist()
    try {
      val hasDupTargets =
        matchedCounts.filter(col("__tn") > 1).limit(1).count() > 0
      require(scala.concurrent.Await.result(dupKeysF,
          scala.concurrent.duration.Duration.Inf) == 0L,
        "source carries duplicate keys — one target row would receive " +
        "two conflicting updates")
      val (replacement, matchedRepl, freshIns) =
        if (!hasDupTargets) {
          (newRows,
            newRows.join(matchedCounts, keys, "left_semi"),
            newRows.join(matchedCounts, keys, "left_anti"))
        } else {
          val m = newRows.join(matchedCounts, keys, "inner")
            .withColumn("__i", explode(sequence(lit(1L), col("__tn"))))
            .select(logicalCols(st): _*)
          val a = newRows.join(matchedCounts, keys, "left_anti")
          (m.unionByName(a), m, a)
        }
      val cdc = t.join(srcKeyOnly, keys, "left_semi")
        .select(logicalCols(st): _*)
        .withColumn(DeltaLakeCdf.ChangeTypeCol, lit("update_preimage"))
        .unionByName(matchedRepl
          .withColumn(DeltaLakeCdf.ChangeTypeCol, lit("update_postimage")))
        .unionByName(freshIns
          .withColumn(DeltaLakeCdf.ChangeTypeCol, lit("insert")))
      mutate(spark, tablePath, st, joined, col("__matched") === 1,
        Some(replacement), forceInsert = true, cdcRows = Some(cdc))
    } finally {
      // per-attempt caches: a commit race re-executes the whole body
      // (withRetries), so nothing may outlive the attempt
      matchedCounts.unpersist()
      narrow.unpersist()
    }
  }

  private def gated(spark: SparkSession,
      tablePath: String): DeltaLakeRead.Snapshot = {
    val st = DeltaLakeRead.state(spark, tablePath)
    DeltaLakeWrite.writeGate(st)
    // the appendOnly writer FEATURE only obliges writers to honor the
    // property; the property is what forbids row-level mutation
    require(!st.config.get("delta.appendOnly").contains("true"),
      "table is delta.appendOnly — row-level DML is forbidden on it")
    testAfterReplay()
    st
  }

  /** Legacy protocol versions imply feature sets; an upgrade to the
    * table-features protocol must carry them forward explicitly
    * (PROTOCOL.md § Table Features). */
  private def impliedWriter(minWriter: Int): Seq[String] =
    Seq(2 -> Seq("appendOnly", "invariants"),
      3 -> Seq("checkConstraints"),
      4 -> Seq("changeDataFeed", "generatedColumns"),
      5 -> Seq("columnMapping"),
      6 -> Seq("identityColumns"))
      .filter(_._1 <= minWriter).flatMap(_._2)
  private def impliedReader(minReader: Int): Seq[String] =
    if (minReader >= 2) Seq("columnMapping") else Nil

  /** The shared engine: DV-delete every row of `withCond` matching
    * `cond`, land `newRows` as fresh files, commit atomically.
    * `withCond` must be a [[DeltaLakeRead.snapshotMeta]] frame
    * (possibly decorated with extra join columns — only `__file`/
    * `__pos` and the condition's inputs are read here). */
  private def mutate(spark: SparkSession, tablePath: String,
      st: DeltaLakeRead.Snapshot, withCond: DataFrame,
      cond: org.apache.spark.sql.Column, newRows: Option[DataFrame],
      forceInsert: Boolean = false,
      cdcRows: Option[DataFrame] = None): DmlResult = {
    import spark.implicits._
    val rootAbs = new File(tablePath).getAbsolutePath

    // one scan: per file, live row count + matched positions
    // (collect_list skips the nulls the `when` leaves on non-matches;
    // positions of one parquet file fit one executor by construction)
    // grouped by the raw file URI: one string per file, so the
    // normalization below runs once per affected file, not per row
    val perFile = withCond.groupBy(col("__file"))
      .agg(count(lit(1)).as("__live"),
        collect_list(when(cond, col("__pos"))).as("__dead"))
      .filter(size(col("__dead")) > 0)
      .select(col("__file"), col("__live"), col("__dead"))
      .as[(String, Long, Seq[Long])]

    val oldDvs: Map[String, DeletionVectors.Descriptor] =
      st.files.flatMap(f => f.dv.map(d => s"$rootAbs/${f.path}" -> d)).toMap
    val bcOld = spark.sparkContext.broadcast(oldDvs)

    // DV serialization + .bin writes happen ON EXECUTORS; only the
    // descriptor tuple (one short row per affected file) is collected
    val written = perFile.mapPartitions { it =>
      val root = new File(rootAbs)
      it.map { case (uri, live, dead) =>
        val file = DeltaLakeRead.normFile(uri)
        val matched = dead.toArray.sorted
        if (matched.length == live) {
          // every remaining live row dies -> bare remove, no DV
          (file, "", -1, 0, 0L, matched.length.toLong)
        } else {
          val oldPos = bcOld.value.get(file)
            .map(d => DeletionVectors.positions(root, d))
            .getOrElse(Array.empty[Long])
          val d = DeletionVectors.writeFile(root, oldPos ++ matched)
          (file, d.pathOrInlineDv, d.offset.getOrElse(1), d.sizeInBytes,
            d.cardinality, matched.length.toLong)
        }
      }
    }.collect()

    val rowsDeleted = written.map(_._6).sum
    val physParts = st.partitionColumns.map(c =>
      DeltaLakeRead.physFieldName(st.schema(c)))
    val cdcEnabled =
      st.config.get("delta.enableChangeDataFeed").contains("true")
    def stageReplacement(): Seq[DeltaLakeWrite.Staged] =
      newRows.filter(_ => forceInsert || rowsDeleted > 0).map { df =>
        val phys = DeltaLakeWrite.toPhysical(df, st)
        DeltaLakeWrite.stageData(phys, new File(tablePath), physParts)
      }.getOrElse(Nil)
    // change data feed: when the table asks for it, the SAME commit
    // must carry the changed rows as _change_data files + cdc actions
    // (authoritative for CDF readers; delta-spark's table_changes and
    // [[DeltaLakeCdf.changes]] both consume them)
    def stageCdc(): Seq[DeltaLakeWrite.Staged] =
      if (cdcEnabled) {
        val rows = cdcRows.getOrElse(throw new IllegalStateException(
          "CDF is enabled but this mutation built no change rows"))
        DeltaLakeWrite.stageData(
          DeltaLakeWrite.toPhysical(rows, st,
            passthrough = Seq(DeltaLakeCdf.ChangeTypeCol)),
          new File(tablePath), physParts, destPrefix = "_change_data/")
      } else Nil
    // round-14: the replacement staging and the CDF staging are
    // independent Spark jobs — overlap them (guide §2.6: concurrent
    // driver actions back-fill each other's task tails) instead of
    // running two sequential write jobs per mutation. Both gate on the
    // same inputs computed above; the early no-op exit below deletes
    // whatever an overlapped stage landed.
    val (staged, cdcStaged) =
      if (cdcEnabled && (forceInsert || rowsDeleted > 0)) {
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        val fCdc = Future(stageCdc())(stagingEc)
        val s = stageReplacement()
        (s, Await.result(fCdc, Duration.Inf))
      } else {
        // sequential path preserves the original no-op short-circuit:
        // a mutation that deleted nothing and stages nothing must not
        // run the cdc write job either
        val s = stageReplacement()
        (s, if (written.isEmpty && s.isEmpty) Nil else stageCdc())
      }
    // footer row counts of the just-staged files — the source plan
    // already ran once inside stageData; re-running it for a count
    // was a full second scan per DML call
    val rowsInserted = staged.map(_.rows).sum

    if (written.isEmpty && staged.isEmpty) {
      // no-op mutation: nothing may be referenced by a commit — drop
      // any cdc files an overlapped stage landed (an empty change
      // frame normally stages nothing; defensive regardless)
      cdcStaged.foreach(s =>
        Files.deleteIfExists(new File(tablePath, s.rel).toPath))
      return DmlResult(st.version, 0L, 0L, 0)
    }

    val now = System.currentTimeMillis()
    val anyDv = written.exists(_._2.nonEmpty)
    val needsUpgrade = anyDv && (st.minReader < 3 || st.minWriter < 7 ||
      !st.readerFeatures.contains("deletionVectors") ||
      !st.writerFeatures.contains("deletionVectors"))
    // legacy-implied features are carried forward ONLY when actually
    // crossing from a legacy version to the table-features protocol;
    // a table already on (3, 7) declared exactly the features it
    // uses, and re-implying the legacy sets would permanently oblige
    // every future reader/writer to support features the table never
    // had (PROTOCOL.md § Table Features upgrade rule)
    val protoLine = Option.when(needsUpgrade)(
      DeltaLakeWrite.protocolJson(math.max(3, st.minReader), 7,
        (if (st.minReader < 3) impliedReader(st.minReader) else Nil) ++
          st.readerFeatures :+ "deletionVectors",
        (if (st.minWriter < 7) impliedWriter(st.minWriter) else Nil) ++
          st.writerFeatures :+ "deletionVectors"))
    val metaLine = Option.when(anyDv &&
        !st.config.get("delta.enableDeletionVectors").contains("true"))(
      DeltaLakeWrite.metaDataJson(st.metaId, st.schema.json,
        st.partitionColumns,
        st.config + ("delta.enableDeletionVectors" -> "true"),
        st.createdTime))

    val byAbs = st.files.map(f => s"$rootAbs/${f.path}" -> f).toMap
    val fileLines = written.toSeq.flatMap {
      case (abs, dvPath, dvOff, dvSize, dvCard, _) =>
        val f = byAbs.getOrElse(abs, throw new IllegalStateException(
          s"matched file $abs not in the snapshot — normFile disagrees " +
          "with the log's decoded path"))
        val rm = DeltaLakeWrite.removeJson(f.rawPath, f.partitionValues,
          Some(f.size), now, dataChange = true, f.dv)
        if (dvPath.isEmpty) Seq(rm)
        else Seq(rm, DeltaLakeWrite.addJson(f.rawPath, f.partitionValues,
          f.size, f.modificationTime, dataChange = true,
          Some(DeletionVectors.Descriptor("u", dvPath, Some(dvOff),
            dvSize, dvCard))))
    }
    val addLines = staged.map(s =>
      DeltaLakeWrite.addJson(s.rel,
        s.pv.map { case (k, v) => k -> Some(v) }, s.size, now,
        dataChange = true, dv = None))
    val cdcLines = cdcStaged.map(s =>
      DeltaLakeWrite.cdcJson(s.rel,
        s.pv.map { case (k, v) => k -> Some(v) }, s.size))

    val body = (protoLine.toSeq ++ metaLine.toSeq ++ fileLines ++
      addLines ++ cdcLines)
      .mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val log = new File(new File(tablePath), "_delta_log")

    // Optimistic concurrency (WriteSerializable-shaped): this
    // mutation computed against st.version, so it may commit ONLY at
    // st.version+1 — or past intervening commits proven benign
    // (adds without DVs, txn/commitInfo/cdc/domainMetadata: a
    // concurrent append never invalidates computed row positions).
    // Any intervening remove, DV re-add, metaData or protocol change
    // means the table moved under us: the staged files and DV bins
    // are deleted and [[CommitRaceException]] sends the caller back
    // to recompute against the new head — full re-execution, so two
    // racing mutations SERIALIZE instead of losing updates (the
    // loser's DV union would silently drop the winner's deletes).
    testBeforeCommit()
    val ict = DeltaLakeWrite.ictEnabled(st.config)
    var slot = st.version + 1
    while (!DeltaLakeWrite.commitSlotAt(log, body, slot, ict,
        DeltaLakeWrite.ictFloor(st.config))) {
      val f = new File(log, f"$slot%020d.json")
      if (DeltaLakeWrite.benignCommit(f)) slot += 1
      else {
        // roll back everything this attempt physically landed
        (staged ++ cdcStaged).foreach(s =>
          Files.deleteIfExists(new File(tablePath, s.rel).toPath))
        written.foreach { case (_, dvPath, dvOff, dvSize, dvCard, _) =>
          if (dvPath.nonEmpty)
            Files.deleteIfExists(DeletionVectors.resolvePath(
              new File(tablePath), DeletionVectors.Descriptor("u",
                dvPath, Some(dvOff), dvSize, dvCard)).toPath)
        }
        throw new CommitRaceException(tablePath, st.version, slot)
      }
    }
    DmlResult(slot, rowsDeleted, rowsInserted, written.length)
  }

  /** Two daemon threads for the overlapped staging writes (mutate):
    * at most one mutation stages at a time per JVM in practice, and
    * each overlaps exactly two jobs, so a fixed tiny pool suffices. */
  private lazy val stagingEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(2,
        (r: Runnable) => {
          val t = new Thread(r, "graft-dml-staging")
          t.setDaemon(true)
          t
        }))

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Spec seam: runs between a mutation's computation and its commit
    * claim, so races (an append or a conflicting mutation landing in
    * the window) are testable deterministically. One-shot semantics
    * are the caller's responsibility; production leaves it a no-op. */
  private[graft] var testBeforeCommit: () => Unit = () => ()

  /** Spec seam: runs between a mutation's log replay and its scan, so
    * a commit landing there is testable deterministically. Same
    * one-shot convention as [[testBeforeCommit]]. */
  private[graft] var testAfterReplay: () => Unit = () => ()

  /** The table gained a conflicting commit between this mutation's
    * snapshot read and its commit attempt — recompute against the new
    * head ([[withRetries]]) or surface to the caller. */
  final class CommitRaceException(val tablePath: String,
      val readVersion: Long, val conflictVersion: Long)
    extends RuntimeException(
      s"table $tablePath moved from version $readVersion while a " +
      s"mutation computed against it (conflicting commit at " +
      s"$conflictVersion)")

  /** Recomputes a mutation may spend on commit races before it gives
    * up ([[withRetries]]). */
  private val MaxRetries = 5

  /** Re-execute `op` from scratch on each commit race, up to
    * [[MaxRetries]] recomputes —
    * optimistic concurrency by full re-execution, the same pattern
    * [[VersionedTableIO]]'s concurrent-DV-delete path proves out.
    * Exhaustion aborts loudly: sustained conflict means the caller is
    * racing mutators faster than they can serialize. */
  private def withRetries(op: => DmlResult): DmlResult = {
    var tries = 0
    while (true) {
      try return op
      catch {
        case e: CommitRaceException =>
          tries += 1
          if (tries > MaxRetries) throw new IllegalStateException(
            s"giving up after $MaxRetries recomputes: ${e.getMessage} " +
            "— serialize the racing mutators", e)
      }
    }
    throw new IllegalStateException("unreachable")
  }
}
