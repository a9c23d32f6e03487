package graft.ingest

import org.apache.spark.sql.SparkSession
import java.io.File

/** Table maintenance for REAL Delta tables — the OPTIMIZE/VACUUM half
  * of the interop story ([[DeltaLakeWrite]] creates/appends,
  * [[DeltaLakeDml]] mutates, this compacts and garbage-collects).
  * Both verbs exist because a 100 TB table that only ever accretes
  * small appended files and DV-masked rows degrades on every reader:
  * scan parallelism fragments (file-per-commit bronze ingest is the
  * reference's own write pattern) and DV anti-joins pay for rows that
  * will never come back. The reference stack runs delta-spark's
  * OPTIMIZE/VACUUM for exactly this; these are the same operations
  * from the public protocol. */
object DeltaLakeMaintain {

  /** What one compaction did: the committed version (unchanged when
    * nothing qualified), files retired, files written, and rows
    * physically dropped because a deletion vector was materialized
    * away. */
  final case class CompactResult(version: Long, filesRemoved: Int,
      filesWritten: Int, dvRowsDropped: Long)

  /** OPTIMIZE-style bin-packing compaction: within each partition,
    * every file smaller than `smallFileBytes` OR carrying a deletion
    * vector is rewritten — live rows re-land in ~`targetFileBytes`
    * files, DVs are MATERIALIZED away (the masked rows physically
    * vanish, so later scans stop paying the anti-join), and one
    * commit retires the originals. `dataChange = false` on every
    * action per the protocol's OPTIMIZE convention: the table's
    * logical content is bit-identical (q207 hash-gates that), and
    * streaming/incremental consumers know to skip the commit.
    *
    * A partition with a single small clean file is left alone (no
    * write can improve it); partitions whose qualifying set is one
    * DV-bearing file still rewrite (the point is dropping the DV).
    *
    * Scale shape: one read of the qualifying files only, at the
    * replayed version (the scan is built from the replayed state's
    * victim subset — no second replay, no per-row path filter) — the
    * output file count is `ceil(bytes / targetFileBytes)` so files
    * land near target size (a count of one coalesces: one job, no
    * shuffle); untouched files, and files
    * appended after the replay, are never read. The commit is
    * O(files touched).
    *
    * Concurrency: the same optimistic posture as [[DeltaLakeDml]] —
    * the commit claims exactly readVersion+1, slides past benign
    * intervening commits (pure appends: they touch files this
    * compaction never read), and on any intervening remove/DV
    * re-add/metaData/protocol change deletes its staged files and
    * RE-RUNS against the new head. A blind slide here would be silent
    * corruption: a racing DML's (path, newDv) re-add would survive
    * reconciliation NEXT TO the compacted copy of the same rows,
    * resurrecting the deleted ones and double-counting the rest. */
  def compact(spark: SparkSession, tablePath: String,
      targetFileBytes: Long = 128L << 20,
      smallFileBytes: Long = 32L << 20): CompactResult = {
    var tries = 0
    while (true) {
      compactOnce(spark, tablePath, targetFileBytes,
        smallFileBytes) match {
        case Some(r) => return r
        case None =>
          tries += 1
          if (tries > 5) throw new IllegalStateException(
            s"giving up after 5 compaction recomputes on $tablePath — " +
            "a mutator is racing faster than compaction can serialize")
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Spec seam mirroring [[DeltaLakeDml.testBeforeCommit]]: runs
    * between the rewrite computation and the commit claim. One-shot
    * semantics are the caller's; production leaves it a no-op. */
  private[graft] var testBeforeCommit: () => Unit = () => ()

  /** Spec seam: runs between the log replay and the victim scan. */
  private[graft] var testAfterReplay: () => Unit = () => ()

  /** One optimistic attempt; None = conflicting commit landed in the
    * window (staged files already rolled back) — recompute. */
  private def compactOnce(spark: SparkSession, tablePath: String,
      targetFileBytes: Long,
      smallFileBytes: Long): Option[CompactResult] = {
    require(targetFileBytes > 0 && smallFileBytes <= targetFileBytes,
      "need 0 < smallFileBytes <= targetFileBytes")
    val st = DeltaLakeRead.state(spark, tablePath)
    // compaction re-lands rows VERBATIM, so top-level column
    // obligations (invariants/generated/identity) hold trivially
    DeltaLakeWrite.writeGate(st, topLevelObligationsOk = true)
    val byPartition = st.files.groupBy(_.partitionValues)
    val victims = byPartition.toSeq.flatMap { case (_, fs) =>
      val qualifying = fs.filter(f =>
        f.dv.isDefined || f.size < smallFileBytes)
      // one small clean file alone gains nothing from a rewrite
      if (qualifying.size == 1 && qualifying.head.dv.isEmpty) Nil
      else qualifying
    }
    if (victims.isEmpty)
      return Some(CompactResult(st.version, 0, 0, 0L))

    testAfterReplay()
    val dvRowsDropped = victims.flatMap(_.dv).map(_.cardinality).sum
    // live rows of the victim files only — DV masks applied by the
    // reader, so the rewrite materializes them away for free
    val live = DeltaLakeRead.read(spark, tablePath,
      st.copy(files = victims), withMeta = false)
    val nOut = math.max(1,
      math.ceil(victims.map(_.size).sum.toDouble / targetFileBytes).toInt)
    val phys = DeltaLakeWrite.toPhysical(
      if (nOut == 1) live.coalesce(1) else live.repartition(nOut), st)
    val physParts = st.partitionColumns.map(c =>
      DeltaLakeRead.physFieldName(st.schema(c)))
    val staged = DeltaLakeWrite.stageData(phys, new File(tablePath), physParts)

    testBeforeCommit()
    val now = System.currentTimeMillis()
    val removeLines = victims.map(f =>
      DeltaLakeWrite.removeJson(f.rawPath, f.partitionValues,
        Some(f.size), now, dataChange = false, f.dv))
    val addLines = staged.map(s =>
      DeltaLakeWrite.addJson(s.rel,
        s.pv.map { case (k, v) => k -> Some(v) }, s.size, now,
        dataChange = false, dv = None))
    val body = (removeLines ++ addLines).mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val log = new File(new File(tablePath), "_delta_log")
    val ict = DeltaLakeWrite.ictEnabled(st.config)
    var slot = st.version + 1
    while (!DeltaLakeWrite.commitSlotAt(log, body, slot, ict,
        DeltaLakeWrite.ictFloor(st.config))) {
      val f = new File(log, f"$slot%020d.json")
      if (DeltaLakeWrite.benignCommit(f)) slot += 1
      else {
        // a mutator moved the row state this rewrite was computed
        // from — committing would resurrect its deletes next to the
        // compacted copies; roll back and recompute
        staged.foreach(s => java.nio.file.Files.deleteIfExists(
          new File(tablePath, s.rel).toPath))
        return None
      }
    }
    Some(CompactResult(slot, victims.size, staged.size, dvRowsDropped))
  }

  /** VACUUM: physically delete files under the table root that the
    * CURRENT version no longer references and whose age exceeds
    * `retentionMs` (default: the table's
    * `delta.deletedFileRetentionDuration`, protocol default 1 week) —
    * tombstoned data files past retention, orphaned stage leftovers,
    * and deletion-vector `.bin`s no active descriptor points at.
    * Age is the tombstone's deletionTimestamp when one exists, file
    * mtime otherwise (untracked orphans) — delta-spark's rule.
    * `_delta_log` is never touched. Returns the deleted
    * table-relative paths; `dryRun = true` only lists them.
    *
    * Retention below the time-travel horizon breaks versionAsOf for
    * those versions — same contract as every Delta vacuum; the
    * default keeps a week. */
  def vacuum(spark: SparkSession, tablePath: String,
      retentionMs: Option[Long] = None,
      dryRun: Boolean = false): Seq[String] = {
    val st = DeltaLakeRead.state(spark, tablePath)
    val keep = retentionMs.getOrElse(
      DeltaLakeWrite.tombstoneRetentionMs(st.config))
    val root = new File(tablePath)
    val rootAbs = root.getAbsolutePath
    val now = System.currentTimeMillis()
    val referenced: Set[String] = (
      st.files.map(f => s"$rootAbs/${f.path}") ++
      st.files.flatMap(_.dv).filter(d => d.storageType == "u" ||
          d.storageType == "p")
        .map(d => DeletionVectors.resolvePath(root, d).getAbsolutePath)
    ).toSet
    // a tombstone ages BOTH its data file and its deletion-vector
    // .bin by the tombstone's deletionTimestamp — a DV superseded by
    // a DML update an hour ago must survive the retention window
    // (versionAsOf / concurrent readers of the pre-update snapshot
    // still resolve it), and its file mtime is its CREATION time, so
    // aging by mtime would delete a long-lived DV immediately. Two
    // tombstones can share one DV path (same file updated twice in
    // the window) — the newest deletion wins, the conservative age.
    val tombTime: Map[String, Long] = st.tombstones
      .flatMap { t =>
        t.deletionTimestamp.toSeq.flatMap { ts =>
          (s"$rootAbs/${t.path}" -> ts) +:
            t.dv.filter(d => d.storageType == "u" ||
                d.storageType == "p")
              .map(d => DeletionVectors.resolvePath(root, d)
                .getAbsolutePath -> ts).toSeq
        }
      }
      .groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    def walk(dir: File): Seq[File] =
      Option(dir.listFiles()).getOrElse(Array.empty).toSeq.flatMap {
        case d if d.isDirectory && d.getName == "_delta_log" => Nil
        case d if d.isDirectory => walk(d)
        case f => Seq(f)
      }
    val deletable = walk(root).filter { f =>
      val abs = f.getAbsolutePath
      !referenced.contains(abs) &&
        (now - tombTime.getOrElse(abs, f.lastModified())) > keep
    }
    if (!dryRun) {
      deletable.foreach { f =>
        f.delete()
        // prune now-empty partition dirs (never the root)
        var d = f.getParentFile
        while (d != null && d.getAbsolutePath != rootAbs &&
            Option(d.listFiles()).exists(_.isEmpty)) {
          d.delete(); d = d.getParentFile
        }
      }
    }
    deletable.map(_.getAbsolutePath.stripPrefix(rootAbs + "/"))
  }
}
