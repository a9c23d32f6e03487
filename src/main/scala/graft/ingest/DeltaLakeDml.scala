package graft.ingest

import graft.core.Ckpt
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.io.File
import java.nio.file.Files
import scala.collection.mutable
import scala.concurrent.{Await, Future}
import scala.concurrent.duration.Duration
import scala.util.{Failure, Try}

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
  *     — conditions are written against LOGICAL columns). ONE scan
  *     keeps only the MATCHED rows (the condition, or the upsert's
  *     semi-join on the source keys) and pins them: `(__file, __pos)`,
  *     the key columns, and the full logical row only when UPDATE's
  *     rewrite or the change data feed needs it. The DV positions,
  *     the upsert's multiplicities and the CDF preimages all read this
  *     pin, so the target is scanned once. `__file` is the raw
  *     `_metadata.file_path` URI until step 3.
  *  2. One job groups the pinned positions by data file; each affected
  *     file's live row count comes from metadata — its parquet
  *     footer's row count minus its old DV's cardinality, read on the
  *     executor — so fully-emptied files get a bare `remove` (no
  *     degenerate all-rows DV is left behind to poison later scans)
  *     without counting a single unmatched row. A footer holding fewer
  *     rows than the old DV and the new matches account for fails the
  *     mutation instead of retiring the file.
  *  3. On that executor, each affected file's URI is normalized to its
  *     table path ([[DeltaLakeRead.normFile]], once per file) and its
  *     new DV (existing DV positions ∪ matched positions — descriptors
  *     are ABSOLUTE, not deltas) is serialized and written by
  *     [[DeletionVectors.writeFile]] into the attempt's own random
  *     prefix directory; the driver only ever holds one small
  *     descriptor row per file, never position sets.
  *     (Executor-side `.bin` writes and footer reads assume a shared
  *     filesystem — the same deployment posture as every staged write
  *     in this engine.)
  *  4. Replacement/new rows (UPDATE's rewrites, upsert's source)
  *     stage as ordinary parquet via [[DeltaLakeWrite.stageData]],
  *     physical-named under column mapping; the change-data rows stage
  *     beside them on [[graft.core.Overlap]].
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
  * Scale shape: one filtered scan of the target; everything after it
  * reads the pinned matched rows. The per-file grouping is one shuffle
  * of the matched positions; DV encoding parallelizes per file across
  * executors; the commit is O(affected files). Past the scan, a
  * mutation matching k rows in f of N files does work proportional to
  * k and f, never N. */
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
      condition: String): DmlResult = withRetries { pins =>
    val st = gated(spark, tablePath)
    val matched = pins.checkpoint(
      DeltaLakeRead.snapshotMeta(spark, tablePath, st)
      .filter(expr(condition))
      .select((if (cdfOn(st)) logicalCols(st) else Nil) ++ provenance: _*))
    mutate(spark, tablePath, st, matched, None,
      matched.select(logicalCols(st): _*)
        .withColumn(DeltaLakeCdf.ChangeTypeCol, lit("delete")))
  }

  private def logicalCols(st: DeltaLakeRead.Snapshot) =
    st.schema.fieldNames.toSeq.map(c => col(DeltaLakeRead.quoted(c)))

  private val provenance = Seq(col("__file"), col("__pos"))

  private def cdfOn(st: DeltaLakeRead.Snapshot): Boolean =
    st.config.get("delta.enableChangeDataFeed").contains("true")

  /** UPDATE table SET col = sqlExpr, ... WHERE `condition`. Matched
    * rows are DV-deleted and re-landed in new files with the
    * assignments applied (expressions see the OLD row, standard
    * UPDATE semantics). With CDF on, the rewritten rows are pinned
    * too: the replacement files and the postimages read ONE evaluation
    * of the SET expressions, so a nondeterministic one (`uuid()`) lands
    * the same value in the table and in the change feed. */
  def update(spark: SparkSession, tablePath: String, condition: String,
      set: Map[String, String]): DmlResult = withRetries { pins =>
    val st = gated(spark, tablePath)
    val unknown = set.keySet -- st.schema.fieldNames.toSet
    require(unknown.isEmpty,
      s"SET targets ${unknown.mkString(", ")} not in the table schema")
    val matched = pins.checkpoint(
      DeltaLakeRead.snapshotMeta(spark, tablePath, st)
      .filter(expr(condition)).select(logicalCols(st) ++ provenance: _*))
    val rewritten = matched.select(st.schema.fields.toSeq.map { f =>
      set.get(f.name)
        .map(e => expr(e).cast(DeltaLakeRead.stripType(f.dataType))
          .as(f.name))
        .getOrElse(col(DeltaLakeRead.quoted(f.name)))
    }: _*).transform(r => if (cdfOn(st)) pins.checkpoint(r) else r)
    mutate(spark, tablePath, st, matched, Some(rewritten),
      matched.select(logicalCols(st): _*)
        .withColumn(DeltaLakeCdf.ChangeTypeCol, lit("update_preimage"))
        .unionByName(rewritten.withColumn(DeltaLakeCdf.ChangeTypeCol,
          lit("update_postimage"))))
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
      keys: Seq[String]): DmlResult = withRetries { pins =>
    val st = gated(spark, tablePath)
    require(keys.nonEmpty, "upsert needs at least one key column")
    val logical = st.schema.fieldNames.toSet
    require(source.columns.toSet == logical,
      s"source columns ${source.columns.sorted.mkString(",")} != table " +
      s"columns ${logical.toSeq.sorted.mkString(",")} (update-all/" +
      "insert-all upsert needs the full column set)")
    val keyCols = keys.map(c => col(DeltaLakeRead.quoted(c)))
    // the source feeds the match join and the per-key aggregate: pinned,
    // so the caller's frame runs once
    val src = pins.checkpoint(source.select(st.schema.fields.toSeq.map(f =>
      col(DeltaLakeRead.quoted(f.name))
        .cast(DeltaLakeRead.stripType(f.dataType)).as(f.name)): _*))
    // the target projects to (keys, __file, __pos) BEFORE the match
    // join unless CDF needs the preimages: once the source keys outgrow
    // broadcast this join shuffles the target, and the sf10 audit
    // measured the full-width snapshot paying 15x the bytes the match
    // needs
    val matched = pins.checkpoint(
      DeltaLakeRead.snapshotMeta(spark, tablePath, st)
      .select((if (cdfOn(st)) logicalCols(st) else keyCols) ++
        provenance: _*)
      .join(src.select(keyCols: _*), keys, "left_semi"))
    // ONE aggregate per source key over the keys alone: its source rows
    // (__sn, which must be 1) and its matched target rows (__tn), joined
    // back to each source row (null-safe: a null key groups like
    // GROUP BY does, so duplicated null keys reject too) and pinned. A
    // key matching n target rows lands n postimage copies (all n were
    // DV-deleted) — collapsing to one would shrink the table vs
    // delta-spark MERGE; an unmatched key lands its row once, as an
    // insert. Source-keys-sized: the unmatched target never enters.
    val perKey = src.select(keyCols ++ Seq(lit(1).as("__sn"),
        lit(0).as("__tn")): _*)
      .unionByName(matched.select(keyCols ++ Seq(lit(0).as("__sn"),
        lit(1).as("__tn")): _*))
      .groupBy(keyCols: _*)
      .agg(sum(col("__sn")).as("__sn"), sum(col("__tn")).as("__tn"))
      .toDF(keys.indices.map(i => s"__k$i") ++ Seq("__sn", "__tn"): _*)
    val counted = pins.checkpoint(src.join(perKey, keys.indices.map(i =>
      src(DeltaLakeRead.quoted(keys(i))) <=> perKey(s"__k$i")).reduce(_ && _))
      .select(logicalCols(st) ++ Seq(col("__sn"), col("__tn")): _*))
    // checked BEFORE mutate() lands any side effect
    require(counted.coalesce(1).filter(col("__sn") > 1).isEmpty,
      "source carries duplicate keys — one target row would receive " +
      "two conflicting updates")
    val landed = counted.withColumn("__i",
      explode(sequence(lit(1L), greatest(col("__tn"), lit(1L)))))
    mutate(spark, tablePath, st, matched,
      Some(landed.select(logicalCols(st): _*)),
      matched.select(logicalCols(st): _*)
        .withColumn(DeltaLakeCdf.ChangeTypeCol, lit("update_preimage"))
        .unionByName(landed.select(logicalCols(st) :+
          when(col("__tn") > 0, lit("update_postimage"))
            .otherwise(lit("insert")).as(DeltaLakeCdf.ChangeTypeCol): _*)),
      forceInsert = true)
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

  /** The shared engine: DV-delete every row of `matched` — the pinned
    * matched rows of a [[DeltaLakeRead.snapshotMeta]] frame of `st`,
    * `__file`/`__pos` and whatever columns `newRows`/`cdcRows` read —
    * land `newRows` as fresh files, commit atomically. `cdcRows` is
    * built only when the table has CDF on. */
  private def mutate(spark: SparkSession, tablePath: String,
      st: DeltaLakeRead.Snapshot, matched: DataFrame,
      newRows: Option[DataFrame], cdcRows: => DataFrame,
      forceInsert: Boolean = false): DmlResult = {
    import spark.implicits._
    val root = new File(tablePath).getAbsoluteFile
    val oldDvs: Map[String, DeletionVectors.Descriptor] =
      st.files.flatMap(f => f.dv.map(d => s"$root/${f.path}" -> d)).toMap
    val bcOld = spark.sparkContext.broadcast(oldDvs)
    // every DV bin this attempt writes lands in one fresh directory —
    // the protocol's `u`-type random prefix — so a failed attempt takes
    // its bins back by path, also those of tasks whose descriptors never
    // reached the driver
    val dvPrefix = java.util.UUID.randomUUID().toString.replace("-", "")
    val dvDir = new File(root, dvPrefix)
    val aborted = new File(dvDir, AbortedMarker)

    // one job: the matched positions grouped by raw file URI (so the
    // normalization runs once per affected file; one file's positions
    // fit one executor), then per file ON AN EXECUTOR the live count
    // and the DV write — only one short descriptor row per file returns
    val written = try matched.select(provenance: _*).as[(String, Long)].rdd
      .mapPartitions { it =>
        // one record per file per task crosses the shuffle
        val byFile = mutable.HashMap.empty[String, mutable.ArrayBuilder.ofLong]
        it.foreach { case (uri, p) =>
          byFile.getOrElseUpdate(uri, new mutable.ArrayBuilder.ofLong) += p
        }
        byFile.iterator.map { case (uri, b) => uri -> b.result() }
      }
      .reduceByKey(_ ++ _)
      .map { case (uri, pos) =>
        val file = DeltaLakeRead.normFile(uri)
        val matchedPos = pos.sorted
        val old = bcOld.value.get(file)
        val rows = DeltaLakeWrite.footerRows(new File(file))
        val oldCard = old.fold(0L)(_.cardinality)
        if (rows - oldCard < matchedPos.length)
          throw new IllegalStateException(s"data file $file: its footer " +
            s"holds $rows rows, fewer than the $oldCard its deletion " +
            s"vector masks plus the ${matchedPos.length} this mutation " +
            "matched — refusing to retire or re-mask it")
        if (matchedPos.length == rows - oldCard) {
          // every remaining live row dies -> bare remove, no DV
          (file, "", -1, 0, 0L, matchedPos.length.toLong)
        } else {
          dvDir.mkdirs()
          val d = DeletionVectors.writeFile(dvDir, old.fold(Array.empty[Long])(
            DeletionVectors.positions(root, _)) ++ matchedPos)
          // the attempt failed while this task ran: take the bin back
          if (aborted.exists())
            Files.deleteIfExists(DeletionVectors.resolvePath(dvDir, d).toPath)
          (file, dvPrefix + d.pathOrInlineDv, d.offset.getOrElse(1),
            d.sizeInBytes, d.cardinality, matchedPos.length.toLong)
        }
      }.collect()
    catch { case e: Throwable =>
      // a failed job does not wait for its other running tasks: mark the
      // attempt aborted first, so a task that finishes later drops its
      // own bin, then drop the bins already written
      dvDir.mkdirs(); aborted.createNewFile()
      Option(dvDir.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".bin")).foreach(_.delete())
      throw e
    }

    val rowsDeleted = written.map(_._6).sum
    // nothing matched and nothing to insert: no staging, no commit
    if (written.isEmpty && !forceInsert)
      return DmlResult(st.version, 0L, 0L, 0)
    def drop(files: Seq[DeltaLakeWrite.Staged]): Unit =
      files.foreach(s => Files.deleteIfExists(new File(root, s.rel).toPath))
    // an attempt that fails after the DV step takes back everything it
    // physically landed: its staged files and its DV bins' directory
    // (every DV task has ended, so none can write there any more)
    def rollback(files: Seq[DeltaLakeWrite.Staged]): Unit = {
      drop(files)
      FsOps.deleteRecursively(dvDir)
    }
    val physParts = st.partitionColumns.map(c =>
      DeltaLakeRead.physFieldName(st.schema(c)))
    def stage(df: DataFrame, passthrough: Seq[String], prefix: String) =
      DeltaLakeWrite.stageData(DeltaLakeWrite.toPhysical(df, st,
        passthrough), root, physParts, destPrefix = prefix)
    // change data feed: when the table asks for it, the SAME commit
    // must carry the changed rows as _change_data files + cdc actions
    // (authoritative for CDF readers; delta-spark's table_changes and
    // [[DeltaLakeCdf.changes]] both consume them). The CDF staging and
    // the replacement staging are independent jobs — overlapped
    // (concurrent driver actions back-fill each other's task tails)
    // instead of running two sequential write jobs per mutation.
    val cdc = Option.when(cdfOn(st))(cdcRows)
    val fCdc = Future(cdc.toSeq.flatMap(
      stage(_, Seq(DeltaLakeCdf.ChangeTypeCol), "_change_data/")))(
      graft.core.Overlap.ec)
    val stages = Seq(Try(newRows.toSeq.flatMap(stage(_, Nil, ""))),
      Try(Await.result(fCdc, Duration.Inf)))
    // a failed stage fails the mutation once both have ended (the
    // overlapped one reads this attempt's pins), taking back what the
    // other landed and the DV bins
    stages.collectFirst { case Failure(e) =>
      rollback(stages.flatMap(_.toOption).flatten); throw e
    }
    val (staged, cdcStaged) = (stages(0).get, stages(1).get)
    // footer row counts of the just-staged files — the source plan
    // already ran once inside stageData; re-running it for a count
    // was a full second scan per DML call
    val rowsInserted = staged.map(_.rows).sum

    if (written.isEmpty && staged.isEmpty) {
      // an upsert of an empty source: nothing may be referenced by a
      // commit — drop any cdc files the overlapped stage landed (an
      // empty change frame normally stages nothing; defensive
      // regardless)
      drop(cdcStaged)
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

    val byAbs = st.files.map(f => s"$root/${f.path}" -> f).toMap
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
    val log = new File(root, "_delta_log")

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
        rollback(staged ++ cdcStaged)
        throw new CommitRaceException(tablePath, st.version, slot)
      }
    }
    DmlResult(slot, rowsDeleted, rowsInserted, written.length)
  }

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

  /** Left in an aborted attempt's DV directory: a DV task that
    * finishes after its job failed finds it and deletes its own bin. */
  private val AbortedMarker = "_aborted"

  /** Recomputes a mutation may spend on commit races before it gives
    * up ([[withRetries]]). */
  private val MaxRetries = 5

  /** Re-execute `op` from scratch on each commit race, up to
    * [[MaxRetries]] recomputes — optimistic concurrency by full
    * re-execution. Exhaustion aborts loudly: sustained conflict means
    * the caller is racing mutators faster than they can serialize.
    * Each attempt is one [[Ckpt.scoped]] scope: the frames it computes
    * once and reads many times (matched rows, upsert source and
    * per-key counts, CDF postimages) are eager checkpoints released
    * when the attempt ends, however it ends. */
  private def withRetries(op: Ckpt.Pins => DmlResult): DmlResult = {
    var tries = 0
    while (true) {
      try return Ckpt.scoped(op)
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
