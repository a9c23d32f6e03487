package graft.ingest

import java.io.File

import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.core.Metrics
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.{NumericType, StringType, StructType}
import org.apache.spark.sql.functions.{coalesce, col, count, expr, floor, greatest, least, lit, max, min, shiftleft, shiftrightunsigned, struct, sum, when}

/** One committed snapshot of a versioned table: the ordered list of
  * immutable data directories that make it up, plus carried-forward
  * table properties. The version number is both in the file name (zero-
  * padded, so lexicographic listing = version order) and in the body.
  * `stats` maps dataDir → numeric column → [min, max] — the
  * Delta/Iceberg file-statistics analog at commit-dir granularity,
  * used by [[VersionedTableIO.readPruned]] to skip whole directories. */
final case class Manifest(
    version: Long, ts: Long, op: String,
    dataDirs: Seq[String], properties: Map[String, String],
    stats: Map[String, Map[String, Seq[Double]]] = Map.empty,
    strStats: Map[String, Map[String, Seq[String]]] = Map.empty)

/** Versioned-table format over plain parquet — the engine's older
  * ACID format, kept beside the Delta protocol implementation
  * ([[DeltaLakeWrite]], [[DeltaLakeDml]], [[DeltaLakeRead]]) until the
  * queries that still use it move to Delta (the reference writes Delta
  * everywhere: spark/jobs/alphavantage/bronze2_to_silver.py:142-152,
  * uber/drop_dup.py:97, coin_to_delta_w_cp.py:124). Row-level deletes
  * by deletion vector exist only on the Delta side; this format's
  * DELETE, UPDATE and MERGE rewrite the snapshot.
  *
  * Layout per table:
  * {{{
  *   <root>/<table>/_graft_log/00000000000000000001.json   commit files
  *   <root>/<table>/data/<uuid>/part-*.parquet             immutable
  * }}}
  *
  * Protocol:
  *  - every write lands in a FRESH data directory; existing files are
  *    never modified — a snapshot is just a manifest listing dirs;
  *  - a commit atomically claims the next version slot by hard-linking
  *    a fully written temp file into it (link(2) is put-if-absent:
  *    EEXIST if the slot is taken), so two concurrent writers cannot
  *    both claim a version — the loser re-reads the log and retries on
  *    top of the winner (optimistic concurrency, the same shape as
  *    Delta's conditional-put commit);
  *  - readers resolve the latest (or a requested) manifest and scan
  *    exactly its dirs: a crashed write that left a data dir but no
  *    manifest is simply invisible — the old snapshot stays readable
  *    (crash consistency, asserted in VersionedTableSpec);
  *  - self-referential rewrites (MERGE/compaction read the table they
  *    replace) are safe WITHOUT staging tricks: the new snapshot's data
  *    dir is fully written from the still-immutable old dirs before the
  *    commit flips visibility;
  *  - VACUUM deletes data dirs unreferenced by the retained manifests
  *    (and crash orphans past a grace period) — time travel works as
  *    far back as retention, exactly Delta's contract.
  *
  * At 100 TB the same protocol holds on an object store: data files are
  * written once, the only mutation point is the tiny commit object, and
  * the atomic claim is pluggable ([[CommitBackend]]) — hard link
  * locally, conditional put (S3 if-none-match) on a store.
  */
final class VersionedTableIO(root: String,
    backend: CommitBackend = LocalLinkBackend) extends TableIO {
  import VersionedTableIO._

  private def tableDir(table: String) = s"$root/$table"
  private def logDir(table: String) = s"${tableDir(table)}/_graft_log"

  /** The table's commit-log directory — an append-only stream of
    * manifest files, i.e. a ready-made Structured Streaming file
    * source (see [[graft.stream.ChangeFeedGold]]). */
  def logPath(table: String): String = logDir(table)
  private def dataRoot(table: String) = s"${tableDir(table)}/data"
  private def manifestFile(table: String, v: Long) =
    new File(logDir(table), f"$v%020d.json")

  // ---- log access ------------------------------------------------------

  def versions(table: String): Seq[Long] = {
    val d = new File(logDir(table))
    if (!d.exists()) Nil
    else d.listFiles((_, n) => n.endsWith(".json")).toSeq
      .map(_.getName.stripSuffix(".json").toLong).sorted
  }

  def latestVersion(table: String): Long = {
    val vs = versions(table)
    require(vs.nonEmpty, s"versioned table '$table' has no commits")
    vs.last
  }

  def manifest(table: String, version: Long): Manifest = {
    val f = manifestFile(table, version)
    require(f.exists(),
      s"version $version of '$table' does not exist (or was vacuumed); " +
        s"available: ${versions(table).mkString(", ")}")
    val tree = mapper.readTree(f).asInstanceOf[ObjectNode]
    // earlier builds wrote deletion-vector sidecar dirs under `dvDirs`;
    // an empty list reads as before, a non-empty one cannot be honoured
    // here — reading the data dirs alone would bring the masked rows back
    Option(tree.remove("dvDirs")).filter(_.size > 0).foreach { dvs =>
      throw new IllegalStateException(s"version $version of '$table' " +
        s"masks rows with deletion-vector dirs ($dvs), which this build " +
        "no longer reads; rewrite the table (compact) with the build " +
        "that wrote it")
    }
    mapper.treeToValue(tree, classOf[Manifest])
  }

  private def latestManifest(table: String): Option[Manifest] =
    versions(table).lastOption.map(manifest(table, _))

  /** Atomically claim `version`: true on success, false if a concurrent
    * writer took the slot first. The claim itself is the backend's
    * put-if-absent — see [[CommitBackend]] for the local-link and
    * object-store forms. */
  private def tryCommit(table: String, m: Manifest): Boolean =
    backend.putIfAbsent(manifestFile(table, m.version),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(m))

  /** Read-modify-write retry loop: build the next manifest from the
    * current snapshot, race for the slot, re-read and rebuild on loss.
    * `build` returns the snapshot's dirs, stats for NEW dirs (stats for
    * carried-over dirs ride along from the base manifest), and a
    * properties delta — or None to abort without committing (used by
    * the idempotent path when a replay is detected mid-race). */
  private def commitLoop(table: String, op: String)(
      build: Option[Manifest] => (Seq[String], Map[String, Map[String, Seq[Double]]])): Manifest =
    commitLoopEx(table, op)(base => {
      val (dirs, st) = build(base)
      Some((dirs, st, Map.empty[String, String]))
    }).get

  private def commitLoopEx(table: String, op: String)(
      build: Option[Manifest] => Option[(Seq[String],
        Map[String, Map[String, Seq[Double]]], Map[String, String])]): Option[Manifest] = {
    var attempts = 0
    while (true) {
      // next version comes from the log LISTING, not a manifest body —
      // the file name is the committed truth a concurrent writer races on
      val vs = versions(table)
      // the base-manifest read races concurrent vacuums: a peer that
      // listed a NEWER head may drop `vs.last`'s manifest between our
      // listing and the read. That makes our listing stale, not the
      // table broken — re-list and retry, same as losing the commit
      // slot. Rethrow when the log did NOT move: then the manifest
      // really is unreadable (corrupt/permissions) and looping would
      // spin forever on a real fault.
      val base =
        try vs.lastOption.map(manifest(table, _))
        catch {
          case scala.util.control.NonFatal(e) =>
            if (versions(table) == vs) throw e
            null // stale listing — fall through to retry
        }
      if (base == null) { /* stale listing — retry counted below */ }
      else build(base) match {
        case None => return None
        case Some((dirs, newStats, propsDelta)) =>
          val dirSet = dirs.toSet
          // an EMPTY value in the DELTA unsets that key (how
          // dropConstraint removes its property through the same merge
          // path every other commit uses) — scoped to the delta's own
          // keys, so a pre-existing property legitimately set to ""
          // rides through unrelated commits untouched
          val unset = propsDelta.collect { case (k, v) if v.isEmpty => k }
          val m = Manifest(
            version = vs.lastOption.map(_ + 1).getOrElse(1L),
            ts = System.currentTimeMillis(), op = op,
            dataDirs = dirs,
            properties = (base.map(_.properties).getOrElse(Map.empty) ++
              propsDelta) -- unset,
            stats = (base.map(_.stats).getOrElse(Map.empty) ++ newStats)
              .view.filterKeys(dirSet).toMap,
            // string min/max ride a per-writer side channel keyed by
            // the (globally unique) rel dir: writeDataDir/clone/restore
            // seed it, the commit folds entries for THIS snapshot's
            // dirs over the base's — absent entries just mean a
            // conservative scan, never wrong results
            strStats = (base.flatMap(b => Option(b.strStats))
                .getOrElse(Map.empty) ++
              dirs.flatMap(d => Option(pendingStrStats.get(d)).map(d -> _)))
              .view.filterKeys(dirSet).toMap)
          if (tryCommit(table, m)) {
            // the committed manifest now carries these dirs' string
            // stats; drop the side-channel entries so long-lived
            // writers (streaming loops) don't grow the map unboundedly
            dirs.foreach(pendingStrStats.remove)
            return Some(m)
          }
      }
      attempts += 1
      if (attempts > 100) throw new IllegalStateException(
        s"could not commit to '$table' after $attempts attempts")
    }
    sys.error("unreachable")
  }

  // ---- reads -----------------------------------------------------------

  private def scan(spark: SparkSession, table: String, m: Manifest): DataFrame = {
    require(m.dataDirs.nonEmpty, s"version ${m.version} of '$table' is empty")
    // mergeSchema across commit dirs = write-side schema evolution:
    // columns added in later commits surface as null in earlier files
    spark.read.option("mergeSchema", "true")
      .parquet(m.dataDirs.map(d => s"${tableDir(table)}/$d"): _*)
  }

  def read(spark: SparkSession, table: String): DataFrame =
    scan(spark, table, manifest(table, latestVersion(table)))

  /** Time travel by version number (Delta `VERSION AS OF`). */
  def readVersion(spark: SparkSession, table: String, version: Long): DataFrame =
    scan(spark, table, manifest(table, version))

  /** Time travel by timestamp (Delta `TIMESTAMP AS OF`): the latest
    * snapshot committed at or before `tsMillis`. */
  def readAsOf(spark: SparkSession, table: String, tsMillis: Long): DataFrame = {
    val vs = versions(table).map(manifest(table, _))
      .filter(_.ts <= tsMillis)
    require(vs.nonEmpty,
      s"no commit of '$table' at or before $tsMillis")
    scan(spark, table, vs.maxBy(_.version))
  }

  def exists(spark: SparkSession, table: String): Boolean =
    versions(table).nonEmpty

  /** Data skipping: the current snapshot restricted to commit dirs
    * whose [min, max] stats for `column` overlap [lo, hi] — whole
    * directories the predicate cannot match are never listed, opened,
    * or scanned (the Delta/Iceberg file-skipping analog; at 100 TB on
    * an append-mostly table this is the difference between scanning one
    * backfill window and the whole history). Dirs with no stats for the
    * column are scanned conservatively. The exact filter is applied on
    * top, so results equal `read(...).filter(lo <= c AND c <= hi)`. */
  def readPruned(spark: SparkSession, table: String, column: String,
      lo: Double, hi: Double): DataFrame = {
    val m = manifest(table, latestVersion(table))
    val kept = prunedDirs(m, column, lo, hi)
    val base = // all dirs pruned: empty frame with the table's schema
      if (kept.isEmpty) scan(spark, table, m).limit(0)
      else scan(spark, table, m.copy(dataDirs = kept))
    base.filter(col(column) >= lo && col(column) <= hi)
  }

  /** (scanned, total) commit-dir counts [[readPruned]] would touch —
    * the observable skipping contract, asserted in specs/queries. */
  def pruneCounts(table: String, column: String,
      lo: Double, hi: Double): (Int, Int) = {
    val m = manifest(table, latestVersion(table))
    (prunedDirs(m, column, lo, hi).size, m.dataDirs.size)
  }

  /** [[readPruned]] for STRING columns — lexicographic [lo, hi]
    * bounds against the per-dir string min/max stats every write
    * records. The date-string partition pattern at 100 TB
    * (`dt BETWEEN '2024-05-01' AND '2024-08-31'`): whole months of
    * commit dirs are skipped from kilobytes of manifest, the single
    * most common skip predicate on real lakehouse tables. Dirs
    * without string stats scan conservatively; the exact filter
    * applies on top, so results always equal the plain
    * read-and-filter. */
  def readPrunedStr(spark: SparkSession, table: String, column: String,
      lo: String, hi: String): DataFrame = {
    val m = manifest(table, latestVersion(table))
    val kept = prunedDirsStr(m, column, lo, hi)
    val base =
      if (kept.isEmpty) scan(spark, table, m).limit(0)
      else scan(spark, table, m.copy(dataDirs = kept))
    base.filter(col(column) >= lo && col(column) <= hi)
  }

  /** (scanned, total) contract for [[readPrunedStr]]. */
  def pruneCountsStr(table: String, column: String,
      lo: String, hi: String): (Int, Int) = {
    val m = manifest(table, latestVersion(table))
    (prunedDirsStr(m, column, lo, hi).size, m.dataDirs.size)
  }

  private def prunedDirsStr(m: Manifest, column: String,
      lo: String, hi: String): Seq[String] = {
    val ss = Option(m.strStats).getOrElse(Map.empty)
    m.dataDirs.filter { d =>
      if (m.stats.get(d).flatMap(_.get(VersionedTableIO.CountStat))
          .exists(_.headOption.contains(0.0))) false // empty dir: skip
      else ss.get(d).flatMap(_.get(column)) match {
        case Some(Seq(mn, mx)) => mx >= lo && mn <= hi
        case _ => true // no stats: must scan
      }
    }
  }

  private def prunedDirs(m: Manifest, column: String,
      lo: Double, hi: Double): Seq[String] =
    m.dataDirs.filter { d =>
      val st = m.stats.get(d)
      if (st.flatMap(_.get(VersionedTableIO.CountStat))
          .exists(_.headOption.contains(0.0))) false // empty dir: skip
      else st.flatMap(_.get(column)) match {
        case Some(Seq(mn, mx)) => mx >= lo && mn <= hi
        case _ => true // no stats: must scan
      }
    }

  // ---- writes ----------------------------------------------------------

  /** Write `df` into a fresh immutable data dir; no manifest yet — the
    * data is invisible until a commit references it. Partition columns
    * stay regular columns (pruning at this layer comes from the
    * manifest's commit-dir min/max stats + parquet row-group stats;
    * hive-style dirs would collide across commits). Returns the dir and
    * its numeric-column stats. */
  private def writeDataDir(df: DataFrame, table: String): (String, Map[String, Seq[Double]]) = {
    val rel = s"data/${java.util.UUID.randomUUID()}"
    val abs = s"${tableDir(table)}/$rel"
    // GENERATED ALWAYS AS: compute any declared column the batch does
    // not carry (callers never hand-maintain derivatives); a batch
    // that DOES carry one is validated below instead
    val withGen = generatedColumns(table).toSeq.sortBy(_._1)
      .foldLeft(df) { case (d, (name, sql)) =>
        if (d.columns.contains(name)) d else d.withColumn(name, expr(sql))
      }
    // ZERO stats jobs (round-15, guide §1.2/§2.6): the row count and
    // per-column min/max ride the WRITE job itself via Dataset.observe
    // — the observed aggregates run over the exact rows the writer
    // lands (parquet round-trips numeric and string values losslessly,
    // so the values are those a post-write scan would read). Every
    // versioned write — including every streaming micro-batch sink
    // append — saves a stats job.
    val (numCols, strCols) = statCols(withGen.schema)
    val aggs = statAggs(numCols, strCols)
    val (observed, obs) = Metrics.observed(withGen,
      s"__graft_stats_${java.util.UUID.randomUUID()}", aggs.head, aggs.tail: _*)
    observed.write.parquet(abs)
    val (num, str) = statsOf(obs.get, numCols, strCols)
    validateWrite(df.sparkSession, table, abs)
    if (str.nonEmpty) pendingStrStats.put(rel, str)
    (rel, num)
  }

  /** The numeric and the string columns of `schema`: the columns a
    * data dir records [min, max] stats for. */
  private def statCols(schema: StructType): (Seq[String], Seq[String]) = (
    schema.fields.toSeq.collect { case f if f.dataType.isInstanceOf[NumericType] => f.name },
    schema.fields.toSeq.collect { case f if f.dataType == StringType => f.name })

  /** The aggregates behind a data dir's stats, named for [[statsOf]]:
    * the row count, then the min and max of each column. */
  private def statAggs(numCols: Seq[String],
      strCols: Seq[String]): Seq[(String, Column)] =
    ("__n" -> count(lit(1))) +: (numCols ++ strCols).zipWithIndex.flatMap {
      case (c, i) => Seq(s"__mn_$i" -> min(col(c)), s"__mx_$i" -> max(col(c)))
    }

  /** Numeric stats (with the row count — an EMPTY dir is prunable for
    * every predicate, where "no stats" would force a conservative
    * scan) and string stats from the values of [[statAggs]]. An
    * all-null column has no usable bound and records none. */
  private def statsOf(value: String => Any, numCols: Seq[String],
      strCols: Seq[String]): (Map[String, Seq[Double]], Map[String, Seq[String]]) = {
    val num = countStatOf(value("__n").asInstanceOf[Number].longValue()) ++
      numCols.zipWithIndex.flatMap { case (c, i) =>
        (value(s"__mn_$i"), value(s"__mx_$i")) match {
          case (mn: Number, mx: Number) =>
            Some(c -> Seq(mn.doubleValue(), mx.doubleValue()))
          case _ => None
        }
      }
    val off = numCols.length
    val str = strCols.zipWithIndex.flatMap { case (c, i) =>
      (value(s"__mn_${off + i}"), value(s"__mx_${off + i}")) match {
        case (mn: String, mx: String) => Some(c -> Seq(mn, mx))
        case _ => None
      }
    }.toMap
    (num, str)
  }

  /** Enforce the table's CHECK constraints on a freshly written dir —
    * BEFORE any commit references it, so a violating write aborts with
    * the old snapshot intact (Delta's InvariantViolationException
    * point). Validation reads the WRITTEN FILES, column-pruned to the
    * constraint expressions, rather than re-running the input plan
    * (which may be expensive or nondeterministic); all constraints
    * check in ONE scan via a single aggregate. ANSI CHECK semantics: a
    * row violates only when the predicate evaluates to FALSE — NULL
    * (unknown) passes, and a constraint whose columns are absent from
    * this batch's schema passes vacuously (schema evolution: the
    * merged read surfaces those columns as null). The constraint set
    * is read at write time — same read-check window as Delta. */
  private def validateWrite(spark: SparkSession, table: String,
      abs: String): Unit = {
    // CHECK constraints + generated-column equality share one scan:
    // a generated column the batch PROVIDED must match its expression
    // (null-safe — Delta's GENERATED ALWAYS AS validation)
    val cs = constraints(table) ++
      generatedColumns(table).map { case (name, sql) =>
        s"generated:$name" -> s"$name <=> ($sql)"
      }
    if (cs.isEmpty) return
    val df = spark.read.parquet(abs)
    val checkable = cs.toSeq.sortBy(_._1).flatMap { case (name, pred) =>
      try {
        val c = expr(pred)
        df.select(c).queryExecution.analyzed // unresolvable → vacuous
        Some((name, pred, c))
      } catch {
        case _: org.apache.spark.sql.AnalysisException => None
      }
    }
    if (checkable.isEmpty) return
    val aggs = checkable.map { case (_, _, c) =>
      // coalesce the SUM too: an empty batch dir aggregates to null,
      // which is zero violations, not a crash
      coalesce(sum(when(!coalesce(c, lit(true)), 1L).otherwise(0L)),
        lit(0L)) }
    val row = df.agg(aggs.head, aggs.tail: _*).first()
    checkable.zipWithIndex.foreach { case ((name, pred, _), i) =>
      if (row.getLong(i) > 0L) {
        FsOps.deleteRecursively(new File(abs))
        throw new IllegalStateException(
          s"CHECK constraint '$name' violated by ${row.getLong(i)} " +
            s"row(s): ($pred) — write aborted, no commit")
      }
    }
  }

  /** Side channel rel-dir → string-column [min,max], consumed by
    * [[commitLoopEx]] (rel names are UUIDs, so entries never collide
    * across concurrent writers; stale entries from aborted writes are
    * filtered out by the commit's dirSet). */
  private val pendingStrStats =
    new java.util.concurrent.ConcurrentHashMap[String, Map[String, Seq[String]]]()


  /** Abort-path cleanup for an uncommitted data dir: the files AND the
    * pending string-stats entry (which would otherwise outlive the
    * aborted write in a long-lived instance). */
  private def discardDataDir(table: String, rel: String): Unit = {
    pendingStrStats.remove(rel)
    FsOps.deleteRecursively(new File(s"${tableDir(table)}/$rel"))
  }

  /** A [n, n] count-stat entry — what [[statsOf]] records for
    * data dirs. */
  private def countStatOf(n: Long): Map[String, Seq[Double]] =
    Map(CountStat -> Seq(n.toDouble, n.toDouble))

  private def requireWritable(table: String): Unit =
    if (latestManifest(table).exists(_.properties.get(PropAppendOnly).contains("true")))
      throw new UnsupportedOperationException(
        s"table '$table' is $PropAppendOnly=true: overwrite/merge are " +
          "forbidden (delta.appendOnly enforcement)")

  def append(df: DataFrame, table: String, partitionBy: Seq[String] = Nil): Unit = {
    val (rel, st) = writeDataDir(df, table)
    commitLoop(table, "append")(base =>
      (base.map(_.dataDirs).getOrElse(Nil) :+ rel, Map(rel -> st)))
    ()
  }

  def overwrite(df: DataFrame, table: String, partitionBy: Seq[String] = Nil): Unit = {
    requireWritable(table)
    val (rel, st) = writeDataDir(df, table)
    commitLoop(table, "overwrite")(_ => (Seq(rel), Map(rel -> st)))
    ()
  }

  /** Snapshot rewrite with read-validation: `transform` is computed
    * from version v; the commit only lands if v is STILL the head
    * (otherwise a concurrent append's rows would silently vanish from
    * the rewritten snapshot). On conflict the whole read-transform-
    * write recomputes against the new head — Delta's
    * ConcurrentAppendException semantics, resolved by retry here. */
  private def rewriteSnapshot(spark: SparkSession, table: String,
      op: String)(transform: DataFrame => DataFrame): Unit =
    rewriteSnapshotEx(spark, table, op) { cur =>
      val (rel, st) = writeDataDir(transform(cur), table)
      (Seq(rel), Map(rel -> st))
    }

  /** [[rewriteSnapshot]] generalized to writers that produce SEVERAL
    * data dirs in one commit (e.g. [[compactZOrder]]'s one-dir-per-
    * z-bucket layout). `write` materializes the new snapshot from the
    * current one and returns the written rel dirs + their stats; the
    * commit lands only if the version it read is still the head. */
  private def rewriteSnapshotEx(spark: SparkSession, table: String,
      op: String)(
      write: DataFrame => (Seq[String], Map[String, Map[String, Seq[Double]]])): Unit = {
    var attempts = 0
    while (attempts < 10) {
      val baseVersion = latestVersion(table)
      // a restore and a vacuum landing while the base is read can sweep
      // its dirs: that makes the base stale, not the table broken —
      // recompute on the new head, the same as losing the commit race.
      // Rethrow when the head did NOT move: then the failure is real.
      val written =
        try Some(write(readVersion(spark, table, baseVersion)))
        catch { case NonFatal(_) if latestVersion(table) != baseVersion => None }
      written match {
        case None =>
        case Some((rels, st)) =>
          // a z-order of an empty snapshot materializes NO dirs:
          // committing dataDirs = Nil would make the head unreadable, so
          // bail without a commit
          if (rels.isEmpty) return
          val committed = commitLoopEx(table, op) { base =>
            if (base.map(_.version).contains(baseVersion))
              Some((rels, st, Map.empty[String, String]))
            else None // head moved since we read: stale result, recompute
          }
          if (committed.isDefined) return
          // nested rels (data/<uuid>/__zb=k) share one staging root: drop it
          rels.foreach(r => pendingStrStats.remove(r))
          rels.map(_.split("/").take(2).mkString("/")).distinct.foreach(r =>
            discardDataDir(table, r))
      }
      attempts += 1
    }
    throw new IllegalStateException(
      s"$op on '$table' lost the commit race $attempts times")
  }

  /** S9 as a snapshot rewrite: read current, merge (source wins on key),
    * commit the merged result as the next version. Reading the table
    * being replaced is safe — old data dirs are immutable until VACUUM. */
  override def upsert(spark: SparkSession, source: DataFrame, table: String,
      keys: Seq[String], partitionBy: Seq[String] = Nil): Unit = {
    requireWritable(table)
    if (!exists(spark, table)) { overwrite(source, table, partitionBy); return }
    rewriteSnapshot(spark, table, "merge")(cur => merge(cur, source, keys))
  }

  /** OPTIMIZE analog: rewrite the current snapshot to `numFiles` files
    * as a new version — readers of old versions are unaffected. */
  def compact(spark: SparkSession, table: String, numFiles: Int): Unit =
    rewriteSnapshot(spark, table, "compact")(_.repartition(numFiles))

  /** OPTIMIZE ZORDER analog: range-partition + sort on `clusterCols`
    * so each rewritten file covers a narrow value range. Because the
    * rewrite is a fresh commit, its manifest stats are recomputed over
    * the clustered dir — clustering TIGHTENS the min/max bounds that
    * [[readPruned]] and parquet row-group skipping prune with. */
  def compactClustered(spark: SparkSession, table: String, numFiles: Int,
      clusterCols: Seq[String]): Unit = {
    val cols = clusterCols.map(col)
    rewriteSnapshot(spark, table, "compact")(
      _.repartitionByRange(numFiles, cols: _*).sortWithinPartitions(cols: _*))
  }

  /** OPTIMIZE ZORDER analog — MULTI-dimensional clustering.
    * [[compactClustered]]'s linear sort tightens stats on its leading
    * column only: a predicate on the second column still scans every
    * dir. Z-ordering interleaves the bits of all cluster columns'
    * normalized 8-bit keys into one z-value and cuts the snapshot into
    * `numDirs` z-RANGE buckets, each committed as its own data dir
    * with its own min/max stats — so [[readPruned]] on ANY clustered
    * column skips the dirs whose bit-prefix excludes the range (with 2
    * columns and 16 dirs, a quarter-range predicate on either column
    * scans 4). The reference compacts its Delta tables the same way
    * operationally (OPTIMIZE after ingest); Z-order is the shape that
    * survives 100 TB, where a second-column scan-all is the difference
    * between reading one backfill's worth of files and the whole table.
    *
    * One data pass: normalize (per-column min/max from a single agg,
    * inlined as literals), z-value via codegen'd bit ops, range-
    * partition on the z-bucket, one partitioned write; stats come from
    * parquet footers (metadata I/O). The commit is read-validated like
    * every snapshot rewrite. `numDirs` must be a power of two ≤
    * 2^(8·nCols); cluster columns must be numeric and not all-null
    * (rows with a NULL key cluster at that column's min bucket); an
    * empty snapshot is a no-op. */
  def compactZOrder(spark: SparkSession, table: String,
      clusterCols: Seq[String], numDirs: Int): Unit = {
    requireWritable(table)
    val nCols = clusterCols.size
    require(nCols >= 1, "compactZOrder needs at least one cluster column")
    val totalBits = 8 * nCols
    require(numDirs >= 2 && (numDirs & (numDirs - 1)) == 0 &&
      numDirs <= (1 << math.min(totalBits, 30)),
      s"numDirs must be a power of two in [2, 2^$totalBits], got $numDirs")
    val bucketBits = 31 - Integer.numberOfLeadingZeros(numDirs)
    rewriteSnapshotEx(spark, table, "compact") { cur =>
      // z-keys need a numeric domain: a string/date column would cast
      // its min/max to null and silently collapse every z-value to one
      // bucket — refuse up front instead (cluster on a NUMERIC
      // derivative, e.g. a generated epoch-day column, for dates)
      val bad = clusterCols.filterNot(c => cur.schema.fields.exists(f =>
        f.name == c &&
          f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]))
      require(bad.isEmpty, "compactZOrder cluster columns must exist " +
        s"and be numeric; offending: ${bad.mkString(", ")}")
      val bcols = count(lit(1)) +: clusterCols.indices.flatMap(j => Seq(
        min(col(clusterCols(j))).cast("double"),
        max(col(clusterCols(j))).cast("double")))
      // ONE bounds row, collected (bounded: 2·nCols doubles) and inlined
      // as literals so the z-value expression stays constant-foldable
      val b = cur.agg(bcols.head, bcols.tail: _*).first()
      val rel = s"data/${java.util.UUID.randomUUID()}"
      val abs = s"${tableDir(table)}/$rel"
      val rels: Seq[String] = if (b.getLong(0) == 0L) Nil else {
        val bounds = clusterCols.indices.map { j =>
          require(!b.isNullAt(2 * j + 1) && !b.isNullAt(2 * j + 2),
            s"compactZOrder: cluster column '${clusterCols(j)}' is " +
              "entirely null — no z-range to cluster on")
          (b.getDouble(2 * j + 1), b.getDouble(2 * j + 2))
        }
        // 8-bit key per column: exact when the domain is integral and
        // spans max-min+1 values; a monotone binning otherwise. NULL
        // keys map to the column's min (bucket-0 end) — a null would
        // otherwise propagate into a null z-value and a
        // __HIVE_DEFAULT_PARTITION__ dir the manifest can't name
        val keys = clusterCols.indices.map { j =>
          val (mn, mx) = bounds(j)
          least(lit(255), greatest(lit(0),
            floor((coalesce(col(clusterCols(j)).cast("double"), lit(mn)) - mn)
              * 256.0 / (mx - mn + 1.0))
              .cast("int")))
        }
        val zval = (0 until 8).flatMap { i =>
          keys.zipWithIndex.map { case (k, j) =>
            shiftleft(shiftrightunsigned(k, i).bitwiseAND(lit(1)),
              i * nCols + (nCols - 1 - j))
          }
        }.reduce(_ bitwiseOR _)
        cur
          .withColumn("__zb", shiftrightunsigned(zval, totalBits - bucketBits))
          .repartitionByRange(numDirs, col("__zb"))
          .write.partitionBy("__zb").parquet(abs)
        // each __zb=k subdir becomes its own manifest data dir; reading a
        // leaf dir directly never re-infers __zb, so the schema is clean.
        // Stray non-partition markers (_SUCCESS etc.) are ignored, but a
        // __zb=-prefixed dir that does NOT parse as an int (e.g.
        // __zb=__HIVE_DEFAULT_PARTITION__ from a z-value the coalesce
        // failed to make non-null) holds ROWS the manifest couldn't
        // name — silently dropping it loses data, so fail the
        // compaction loudly before anything commits
        val zbDirs = new File(abs).listFiles().toSeq
          .filter(_.getName.startsWith("__zb="))
        val malformed = zbDirs.filterNot(f =>
          f.getName.length > "__zb=".length &&
            f.getName.stripPrefix("__zb=").forall(_.isDigit))
        require(malformed.isEmpty,
          s"z-order of '$table' produced unparseable partition dirs " +
            s"(${malformed.map(_.getName).mkString(", ")}) — rows would " +
            "be silently dropped; aborting before commit")
        zbDirs.sortBy(_.getName.stripPrefix("__zb=").toInt)
          .map(f => s"$rel/${f.getName}")
      }
      // an empty snapshot still writes an empty staging root (or none
      // at all): drop it; empty rels → rewriteSnapshotEx no-op
      if (rels.isEmpty) FsOps.deleteRecursively(new File(abs))
      (rels, zOrderStats(spark, abs, rel, rels, cur.schema))
    }
  }

  /** Numeric stats of each `rel/__zb=k` dir a z-order rewrite wrote
    * under `abs`, in one grouped scan rather than one scan per dir. */
  private def zOrderStats(spark: SparkSession, abs: String, rel: String,
      rels: Seq[String],
      schema: StructType): Map[String, Map[String, Seq[Double]]] =
    if (rels.isEmpty) Map.empty
    else {
      val numCols = statCols(schema)._1
      val aggs = statAggs(numCols, Nil).map { case (n, c) => c.as(n) }
      val byDir = spark.read.parquet(abs)
        .groupBy(col("__zb").cast("int").as("__zb"))
        .agg(aggs.head, aggs.tail: _*)
        .collect().map(r => s"$rel/__zb=${r.getInt(0)}" ->
          statsOf(n => r.getAs[Any](n), numCols, Nil)._1).toMap
      rels.map(r => r -> byDir.getOrElse(r, countStatOf(0))).toMap
    }

  /** CLONE (Delta `CREATE TABLE ... CLONE src` analog): materialize
    * `dst` as a new table whose first commit is `src`'s snapshot at
    * `version`. How the data files are shared is the BACKEND's
    * honest cheapest primitive ([[CommitBackend.shareFile]]): on a
    * POSIX filesystem they are HARD-LINKED — O(files) metadata
    * operations, zero data bytes, regardless of table size (the
    * 100 TB dev/staging-branch pattern: fork the production table,
    * experiment, throw away); an object store has no link primitive,
    * so the conditional-put backend models server-side COPY (one API
    * call per object, no bytes through the client) — never a
    * pretend-zero-copy that would dangle later.
    *
    * SAFER than Delta's shallow clone under EITHER backend: links
    * keep the underlying inodes alive and copies are independent
    * objects, so VACUUMing the SOURCE can never break the clone
    * (Delta's shallow clones dangle when the source is vacuumed —
    * asserted the other way here in VersionedTableSpec, against both
    * backends). Stats and properties carry over; after the clone the
    * two tables diverge independently.
    *
    * Crash-safe like every write: the shared files land before the
    * commit, so a crash mid-clone leaves only an invisible-and-
    * vacuumable orphan tree, never a half-visible table. A VACUUM
    * racing the clone and dropping the source version mid-copy makes
    * the clone ABORT (post-copy source-manifest check) rather than
    * commit with silently missing rows. */
  def cloneTable(src: String, dst: String,
      version: Option[Long] = None): Unit = {
    val srcVersion = version.getOrElse(latestVersion(src))
    val m = manifest(src, srcVersion)
    require(versions(dst).isEmpty,
      s"clone target '$dst' already has commits")
    try {
      m.dataDirs.foreach { rel =>
        linkTree(new File(s"${tableDir(src)}/$rel"),
          new File(s"${tableDir(dst)}/$rel"))
      }
      // Clone-while-vacuum guard: a concurrent VACUUM that drops
      // `srcVersion` can sweep its data dirs MID-COPY — a vanished
      // file aborts the copy loudly, but a whole dir vanishing between
      // list and copy would yield an empty clone dir and SILENT row
      // loss. Vacuum deletes a version's manifest BEFORE its dirs, so
      // the manifest still existing here proves every dir copied above
      // stayed intact for the whole copy window.
      require(manifestFile(src, srcVersion).exists(),
        s"clone source '$src' v$srcVersion was vacuumed during the copy")
    } catch {
      case t: Throwable =>
        // Abort by deleting ONLY the rel dirs THIS clone linked, never
        // the whole dst table dir: the versions(dst).isEmpty check ran
        // once up front, so a concurrent writer that started creating
        // dst after it could have in-flight dirs — or a just-landed
        // first commit — under the same root; wiping tableDir(dst)
        // would destroy the peer's data. Rel names are UUIDs unique to
        // the source snapshot, so an INDEPENDENT writer's dirs never
        // collide with the ones deleted here (only a second clone of
        // the same src version shares them — and that peer aborts on
        // the same vanished-source condition that aborted us). Without
        // a commit the partial copy was never visible anyway.
        m.dataDirs.foreach { rel =>
          FsOps.deleteRecursively(new File(s"${tableDir(dst)}/$rel"))
        }
        throw t
    }
    Option(m.strStats).getOrElse(Map.empty)
      .foreach { case (d, st) => pendingStrStats.put(d, st) }
    commitLoopEx(dst, "clone") { base =>
      require(base.isEmpty, s"clone target '$dst' already has commits")
      Some((m.dataDirs, m.stats, m.properties))
    }
    ()
  }

  private def linkTree(srcDir: File, dstDir: File): Unit = {
    dstDir.mkdirs()
    Option(srcDir.listFiles()).getOrElse(Array.empty).foreach { f =>
      if (f.isDirectory) linkTree(f, new File(dstDir, f.getName))
      else backend.shareFile(f, new File(dstDir, f.getName))
    }
  }

  /** Metadata-only COUNT(*): the snapshot's row count summed from the
    * per-dir count stats every commit records — zero file opens, zero
    * Spark jobs (a pure log read). At 100 TB this answers the most
    * common query against the biggest tables from kilobytes of
    * manifest. None if any dir predates count stats (caller falls
    * back to a scan). */
  def rowCount(table: String, version: Long): Option[Long] = {
    val m = manifest(table, version)
    val counts = m.dataDirs.map(d =>
      m.stats.get(d).flatMap(_.get(CountStat)).map(_.head.toLong))
    if (counts.forall(_.isDefined)) Some(counts.flatten.sum) else None
  }

  /** Delta DELETE: drop rows matching `predicate` as a snapshot
    * rewrite (read-validated; concurrent appends conflict and
    * recompute rather than vanish). Time travel still sees them. */
  def deleteWhere(spark: SparkSession, table: String,
      predicate: Column): Unit = {
    requireWritable(table)
    // SQL DELETE semantics: only rows where the predicate IS TRUE go —
    // a NULL predicate (e.g. `k = 1` on a NULL k) keeps the row, which
    // plain `!predicate` would silently drop
    rewriteSnapshot(spark, table, "delete")(
      _.filter(!coalesce(predicate, lit(false))))
  }

  /** Delta UPDATE: `assignments` applied to rows matching `predicate`,
    * all other rows carried unchanged, as one snapshot rewrite. */
  def updateWhere(spark: SparkSession, table: String,
      predicate: Column,
      assignments: Map[String, Column]): Unit = {
    requireWritable(table)
    rewriteSnapshot(spark, table, "update") { cur =>
      assignments.foldLeft(cur) { case (df, (c, v)) =>
        df.withColumn(c, when(predicate, v).otherwise(df(c)))
      }
    }
  }

  /** Idempotent append — Delta's txnAppId/txnVersion contract for
    * exactly-once streaming sinks: each (writer id, sequence) pair
    * commits at most once; a replayed batch (foreachBatch is
    * at-least-once around crashes) is detected from the LATEST
    * manifest's properties and skipped, because the watermark rides
    * the same atomic commit as the data it covers. Returns true if the
    * append committed, false if it was a replay. Sequences must be
    * monotonic per writer (streaming batch ids are). */
  def appendIdempotent(df: DataFrame, table: String,
      writerId: String, sequence: Long): Boolean = {
    val key = s"txn:$writerId"
    def appliedIn(m: Option[Manifest]) =
      m.flatMap(_.properties.get(key)).map(_.toLong)
    // cheap pre-check before paying the data write
    if (appliedIn(latestManifest(table)).exists(_ >= sequence)) return false
    val (rel, st) = writeDataDir(df, table)
    val committed = commitLoopEx(table, "append") { base =>
      // re-check inside the race: a concurrent/crashed predecessor may
      // have applied this very sequence — the loser must not re-append
      if (appliedIn(base).exists(_ >= sequence)) None
      else Some((base.map(_.dataDirs).getOrElse(Nil) :+ rel,
        Map(rel -> st), Map(key -> sequence.toString)))
    }
    if (committed.isEmpty) discardDataDir(table, rel)
    committed.isDefined
  }

  /** RESTORE analog: make version `toVersion` current again as a NEW
    * commit that re-references the old data dirs — metadata-only
    * (instant, no data copied), history preserved, and the restored
    * dirs become vacuum-protected again because the head references
    * them. Safe against a VACUUM racing this restore, in four layers:
    *  0. the target dirs' mtimes are TOUCHED before anything else, so
    *     they fall under the same orphan-grace protection that shields
    *     every in-flight writer's uncommitted dirs. Ordering makes
    *     this airtight for any vacuum with a nonzero grace: a vacuum
    *     that would sweep the target deletes its MANIFEST before
    *     filtering candidate dirs by mtime, so either the restore's
    *     pre-claim check (layer 1) observes the deletion and aborts,
    *     or the touch preceded the mtime filter and the dirs read as
    *     fresh — never doomed. (A grace of 0 disables in-flight
    *     protection for ALL writers, restore included — the same
    *     documented hazard as vacuuming under active appends.)
    *  1. the target-manifest existence is re-checked inside the commit
    *     build (re-evaluated on every retry, immediately before the
    *     atomic claim) — vacuum deletes a version's manifest BEFORE its
    *     dirs, so a sweep that already started aborts the restore;
    *  2. vacuum recomputes its keep-set from the live log after
    *     dropping manifests (see [[vacuum]]), so a restore that
    *     committed first re-protects its dirs;
    *  3. if a zero-grace sweep nonetheless lands between the check and
    *     the claim, the post-commit verification below detects the
    *     swept dirs, REPAIRS the head by re-committing the pre-restore
    *     snapshot — whose manifest and dirs the sweeping vacuum
    *     necessarily retained (it was the head at the vacuum's
    *     listing) — and fails loudly. The orphaned restore version
    *     remains as a tombstone whose reads fail loudly; the HEAD
    *     stays readable. (Delta's restore-vs-vacuum has the loud
    *     failure with none of these layers.) */
  def restore(table: String, toVersion: Long): Unit = {
    requireWritable(table)
    val target = manifest(table, toVersion)
    val now = System.currentTimeMillis()
    target.dataDirs.foreach { d =>
      // layer 0: rel dirs may be nested (data/<uuid>/__zb=k); the
      // vacuum candidate is the 2-segment data/<uuid> root — touch it
      val root = d.split("/").take(2).mkString("/")
      new File(s"${tableDir(table)}/$root").setLastModified(now)
    }
    target.dataDirs.foreach { d =>
      require(new File(s"${tableDir(table)}/$d").exists(),
        s"cannot restore '$table' to $toVersion: data dir $d was vacuumed")
    }
    Option(target.strStats).getOrElse(Map.empty)
      .foreach { case (d, st) => pendingStrStats.put(d, st) }
    val committed = commitLoopEx(table, "restore") { _ =>
      require(manifestFile(table, toVersion).exists(),
        s"cannot restore '$table' to $toVersion: version was vacuumed " +
          "during the restore")
      Some((target.dataDirs, target.stats, Map.empty[String, String]))
    }.get
    val missing = target.dataDirs
      .filterNot(d => new File(s"${tableDir(table)}/$d").exists())
    if (missing.nonEmpty) {
      // layer 3: the race landed — repair the head, then fail loudly.
      // NonFatal: the pre-restore manifest itself may be vacuumed away
      // between the exists() check inside manifest() and its read
      val prev =
        try Some(manifest(table, committed.version - 1))
        catch { case NonFatal(_) => None }
      val repaired = prev.filter(_.dataDirs.forall(d =>
        new File(s"${tableDir(table)}/$d").exists())).flatMap { p =>
        Option(p.strStats).getOrElse(Map.empty)
          .foreach { case (d, st) => pendingStrStats.put(d, st) }
        // Roll back ONLY if the doomed restore is still the head: an
        // unrelated writer that committed on top of the tombstone has
        // already replaced it as the visible snapshot, and re-committing
        // the pre-restore state here would clobber that newer commit
        // (it would survive only as a non-head version). In that case
        // abort the rollback build and just throw.
        commitLoopEx(table, "restore-rollback")(base =>
          if (base.exists(_.version == committed.version))
            Some((p.dataDirs, p.stats, Map.empty[String, String]))
          else None)
      }
      throw new IllegalStateException(
        s"restore of '$table' to $toVersion lost to a concurrent vacuum " +
          s"(swept: ${missing.mkString(", ")}); " + (repaired match {
          case Some(r) =>
            s"the pre-restore snapshot was re-committed as head v${r.version}"
          case None =>
            "the head has since moved past the doomed restore, so no " +
              "rollback was committed"
        }))
    }
  }

  // ---- properties ------------------------------------------------------

  def setProperty(table: String, key: String, value: String): Unit = {
    commitLoopEx(table, "setProperty") { base =>
      val b = base.getOrElse(
        throw new IllegalArgumentException(s"no such table '$table'"))
      Some((b.dataDirs, Map.empty, Map(key -> value)))
    }
    ()
  }

  def properties(table: String): Map[String, String] =
    latestManifest(table).map(_.properties).getOrElse(Map.empty)

  // ---- CHECK constraints ----------------------------------------------

  /** `ALTER TABLE ADD CONSTRAINT name CHECK (predicate)` (Delta
    * invariants, stored as `constraint.<name>` properties the way
    * Delta uses `delta.constraints.<name>`): existing rows must
    * already satisfy the predicate (one validation scan, as Delta
    * does), then a metadata commit records it; every subsequent write
    * is validated before its commit and aborts on violation — bad
    * data can never become visible, which at 100 TB replaces the
    * find-the-poisoned-partition fire drill with a failed job. */
  def addConstraint(spark: SparkSession, table: String, name: String,
      predicate: String): Unit = {
    require(name.nonEmpty && !name.contains('='),
      s"bad constraint name '$name'")
    // Validate-then-commit is racy on its own: a writer whose
    // validateWrite read the PRE-constraint property set can land a
    // violating dir after our validation scan but before our property
    // commit — Delta detects this as a metadata conflict and fails one
    // side. Here the commit lands only if the head hasn't moved since
    // the scan; when it has, only the dirs ADDED since are re-scanned
    // (data dirs are immutable, so a dir's verdict stays valid — also
    // when a concurrent restore() re-commits dirs validated earlier).
    var validated = Set.empty[String]
    var attempts = 0
    while (attempts < 10) {
      val head = latestManifest(table)
      val toCheck = head.map(m =>
        m.dataDirs.filterNot(validated)).getOrElse(Nil)
      head.filter(_ => toCheck.nonEmpty).foreach { m =>
        // a predicate over a column the schema doesn't have YET is
        // vacuously satisfied (rows surface it as null once schema
        // evolution introduces it) — Delta refuses these; accepting is
        // the evolution-friendly divergence, enforced the moment a
        // batch actually carries the column.
        val bad =
          try Some(scan(spark, table, m.copy(dataDirs = toCheck))
            .filter(!coalesce(expr(predicate), lit(true))).count())
          catch { case _: org.apache.spark.sql.AnalysisException => None }
        bad.foreach(b => require(b == 0L,
          s"cannot add CHECK constraint '$name': $b existing row(s) " +
            s"violate ($predicate)"))
      }
      validated ++= toCheck
      val headVersion = head.map(_.version)
      val committed = commitLoopEx(table, "setProperty") { base =>
        if (base.map(_.version) != headVersion)
          None // head moved during validation: re-scan the new dirs
        else {
          val b = base.getOrElse(
            throw new IllegalArgumentException(s"no such table '$table'"))
          Some((b.dataDirs, Map.empty,
            Map(s"$PropConstraintPrefix$name" -> predicate)))
        }
      }
      if (committed.isDefined) return
      attempts += 1
    }
    throw new IllegalStateException(
      s"addConstraint('$table', '$name') lost the validation race 10 times")
  }

  /** Remove a CHECK constraint (metadata commit; empty value unsets
    * the property in the merge). */
  def dropConstraint(table: String, name: String): Unit =
    setProperty(table, s"$PropConstraintPrefix$name", "")

  /** Active CHECK constraints: name → predicate SQL. */
  def constraints(table: String): Map[String, String] =
    properties(table).collect {
      case (k, v) if k.startsWith(PropConstraintPrefix) && v.nonEmpty =>
        k.stripPrefix(PropConstraintPrefix) -> v
    }

  /** CREATE TABLE as a metadata-only commit (0 data dirs) — the home
    * for properties that must exist BEFORE the first write, e.g.
    * generated columns and appendOnly. Reads stay refused until data
    * lands (same as any empty version). */
  def createTable(table: String,
      properties: Map[String, String] = Map.empty): Unit = {
    commitLoopEx(table, "create") { base =>
      require(base.isEmpty, s"table '$table' already exists")
      Some((Nil, Map.empty, properties))
    }
    ()
  }

  /** Delta GENERATED ALWAYS AS: declare `name` as `exprSql` over the
    * row's other columns. Every subsequent write COMPUTES the column
    * when the batch lacks it (ingest never hand-maintains
    * derivatives — the partition-date pattern) and VALIDATES it
    * null-safe-equal when the batch carries it (a stale provided
    * value aborts before commit, same machinery as CHECK). Because
    * the column lands in every dir, manifest min/max stats cover it —
    * [[readPruned]] on the generated column is the Delta
    * partition-pruning-on-generated-columns behavior. The expression
    * must be deterministic (caller contract, as in Delta). */
  def addGeneratedColumn(table: String, name: String,
      exprSql: String): Unit = {
    require(name.nonEmpty && exprSql.nonEmpty, "bad generated column")
    setProperty(table, s"$PropGeneratedPrefix$name", exprSql)
  }

  /** Declared generated columns: name → expression SQL. */
  def generatedColumns(table: String): Map[String, String] =
    properties(table).collect {
      case (k, v) if k.startsWith(PropGeneratedPrefix) && v.nonEmpty =>
        k.stripPrefix(PropGeneratedPrefix) -> v
    }

  /** DESCRIBE HISTORY: one row per live version — (version, ts, op,
    * n_rows) — from manifests alone (n_rows via [[rowCount]]; no data
    * I/O, the Delta history surface). */
  def history(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    versions(table)
      .map { v =>
        val m = manifest(table, v)
        (m.version, m.ts, m.op, rowCount(table, v))
      }
      .toDF("version", "ts", "op", "n_rows")
  }

  // ---- vacuum ----------------------------------------------------------

  /** Delete manifests older than the last `retainLast` versions and
    * every data dir no retained manifest references — including crash
    * orphans (dirs written by a failed commit), guarded by
    * `orphanGraceMs` so an in-flight writer's dir is not swept before
    * its commit lands. Returns the number of data dirs removed. */
  def vacuum(table: String, retainLast: Int,
      orphanGraceMs: Long = 24L * 3600 * 1000): Int = {
    require(retainLast >= 1, "must retain at least the current version")
    val vs = versions(table)
    val (drop, keep) = vs.splitAt(math.max(0, vs.size - retainLast))
    val keepSet = keep.toSet
    drop.foreach(v => manifestFile(table, v).delete())
    // Recompute the live dir set from the CURRENT log AFTER dropping
    // manifests: a restore (or any commit) that landed while manifests
    // were being dropped may have re-referenced dirs reachable only
    // through the dropped versions — sweeping those would orphan the
    // new head. Re-listing here pairs with restore's build-time
    // manifest check (restore aborts if its target manifest vanished):
    // either the restore saw the manifest and committed before this
    // listing (its head protects the dirs), or it aborts.
    val lastSeen = vs.lastOption.getOrElse(0L)
    val keepDirs = versions(table)
      .filter(v => keepSet.contains(v) || v > lastSeen)
      .flatMap { v =>
        // a CONCURRENT vacuum can delete a listed manifest before we
        // read it: that version is the peer's responsibility (it will
        // sweep or keep its dirs from ITS re-listing) — skip, don't
        // crash this sweep half-done. NonFatal, not just the require's
        // IllegalArgumentException: the delete can also land BETWEEN
        // manifest()'s exists() check and its readValue, which
        // surfaces as FileNotFoundException/IOException instead
        try manifest(table, v).dataDirs
        catch { case NonFatal(_) => Nil }
      }.toSet
    val dataDir = new File(dataRoot(table))
    val candidates = Option(dataDir.listFiles()).getOrElse(Array.empty)
    val now = System.currentTimeMillis()
    val doomed = candidates.filter { d =>
      // a z-ordered commit's rels are NESTED (data/<uuid>/__zb=k): the
      // <uuid> root is live if any retained rel sits under it
      val name = s"data/${d.getName}"
      !keepDirs.exists(k => k == name || k.startsWith(s"$name/")) &&
        (now - d.lastModified()) >= orphanGraceMs
    }
    doomed.foreach(FsOps.deleteRecursively)
    doomed.length
  }

  /** Commit history, newest first — the DESCRIBE HISTORY analog. */
  def history(table: String): Seq[Manifest] =
    versions(table).reverse.map(manifest(table, _))

  // ---- external readers --------------------------------------------------

  /** Export version `version` as a PLAIN-FILE manifest any parquet
    * reader can consume — Delta's symlink-manifest pattern
    * (`GENERATE symlink_format_manifest`), the piece that lets a
    * second engine read the snapshot the way the reference shares its
    * Delta tables with Trino through the metastore
    * (trino/etc/catalog/delta.properties:1-8,
    * postgresscripts/init-metastore.sql). Writes
    * `<table>/_graft_manifests/<version>/manifest.txt` with one
    * absolute parquet-file path per line (sorted — the export is
    * byte-deterministic for a given snapshot) and returns the list.
    * A reader needs NO VersionedTableIO code: feed the lines to
    * `spark.read.parquet(files)`, Trino's hive connector, or DuckDB's
    * `read_parquet(list)`; parquet footer pushdown/row-group skipping
    * still apply because these are ordinary parquet files. The export
    * is a snapshot view: it pins version N's files, which stay
    * immutable until VACUUM drops that version (same staleness
    * contract as Delta's generated manifests). */
  def exportManifest(table: String, version: Long): Seq[String] = {
    val m = manifest(table, version)
    val files = m.dataDirs.flatMap { d =>
      val dir = new File(s"${tableDir(table)}/$d")
      Option(dir.listFiles((_, n) => n.endsWith(".parquet")))
        .getOrElse(Array.empty[File]).map(_.getAbsolutePath).sorted
    }
    val outDir = new File(s"${tableDir(table)}/_graft_manifests/$version")
    outDir.mkdirs()
    // same put-if-absent discipline as commits — THROUGH the table's
    // backend, so an object-store deployment exports with the same
    // conditional-put primitive it commits with: a concurrent reader
    // never observes a partial export, concurrent exporters race to
    // one winner with identical (deterministic) content
    val target = new File(outDir, "manifest.txt")
    if (!target.exists()) {
      backend.putIfAbsent(target,
        files.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    files
  }

  /** Read an exported manifest back as the file list — the helper a
    * plain-parquet consumer uses; deliberately does NOT touch the
    * commit log (readable even if the log moved on). */
  def readManifestExport(table: String, version: Long): Seq[String] = {
    val f = new File(s"${tableDir(table)}/_graft_manifests/$version/manifest.txt")
    require(f.exists(), s"no exported manifest for '$table' v$version")
    val s = new String(java.nio.file.Files.readAllBytes(f.toPath),
      java.nio.charset.StandardCharsets.UTF_8)
    s.split("\n").toSeq.filter(_.nonEmpty)
  }

  /** Change Data Feed analog: row-level changes between two committed
    * versions, derived as a keyed snapshot diff —
    * `_change_type` ∈ insert | delete | update_preimage |
    * update_postimage (Delta CDF's vocabulary). Derived-not-stored:
    * nothing extra is written at commit time; any pair of retained
    * versions can be diffed after the fact. Cost: one full-outer join
    * of the two snapshots hashed on `keys` — both sides shuffle once
    * on the key, which is the floor for a keyed diff without stored
    * change files.
    *
    * PRECONDITION: `keys` must be unique within each snapshot (the
    * MERGE/upsert write path maintains this; plain `append` can break
    * it) — duplicate keys would cross-multiply in the join and
    * misreport changes, the same contract Delta MERGE has. */
  def readChanges(spark: SparkSession, table: String,
      fromVersion: Long, toVersion: Long, keys: Seq[String]): DataFrame = {
    require(fromVersion < toVersion,
      s"fromVersion $fromVersion must precede toVersion $toVersion")
    val beforeRaw = readVersion(spark, table, fromVersion)
    val afterRaw = readVersion(spark, table, toVersion)
    // Schema evolution across the diffed range: align both snapshots to
    // the UNION of their columns (Delta CDF's "read at the latest
    // schema" contract) — a column added between the versions surfaces
    // as null on the before side, so widened rows whose old columns are
    // unchanged do NOT read as updates (null <=> null holds in the
    // struct compare below). Column order: after's (the evolved
    // schema), then any before-only columns.
    val unionCols: Seq[(String, org.apache.spark.sql.types.DataType)] = {
      val beforeTypes = beforeRaw.schema.map(f => f.name -> f.dataType)
      afterRaw.schema.map(f => f.name -> f.dataType) ++
        beforeTypes.filterNot(c => afterRaw.columns.contains(c._1))
    }
    require(keys.forall(k => unionCols.exists(_._1 == k)),
      s"diff keys ${keys.mkString(",")} missing from both snapshots")
    def align(df: DataFrame): DataFrame =
      df.select(unionCols.map { case (c, t) =>
        if (df.columns.contains(c)) col(c) else lit(null).cast(t).as(c)
      }: _*)
    val before = align(beforeRaw)
    val after = align(afterRaw)
    val valueCols = before.columns.filterNot(keys.contains)
    def packed(df: DataFrame, tag: String): DataFrame =
      df.select(keys.map(col) :+
        struct(valueCols.map(col): _*).as(s"__row_$tag"): _*)
    val joined = packed(before, "b").join(packed(after, "a"), keys, "full_outer")
    val b = col("__row_b")
    val a = col("__row_a")
    val unpackA = valueCols.map(c => a.getField(c).as(c))
    val unpackB = valueCols.map(c => b.getField(c).as(c))
    val inserts = joined.filter(b.isNull)
      .select(keys.map(col) ++ unpackA :+ lit("insert").as("_change_type"): _*)
    val deletes = joined.filter(a.isNull)
      .select(keys.map(col) ++ unpackB :+ lit("delete").as("_change_type"): _*)
    val updated = joined.filter(b.isNotNull && a.isNotNull && !(a <=> b))
    val pre = updated.select(keys.map(col) ++ unpackB :+
      lit("update_preimage").as("_change_type"): _*)
    val post = updated.select(keys.map(col) ++ unpackA :+
      lit("update_postimage").as("_change_type"): _*)
    inserts.unionByName(deletes).unionByName(pre).unionByName(post)
  }
}

object VersionedTableIO {
  val PropAppendOnly = "appendOnly"
  /** Property-key prefix for CHECK constraints (Delta's
    * `delta.constraints.` analog). */
  val PropConstraintPrefix = "constraint."
  /** Property-key prefix for GENERATED ALWAYS AS columns. */
  val PropGeneratedPrefix = "generated."
  /** Reserved stats key: per-dir row count (stored as [n, n]). */
  val CountStat = "__count"
  private val mapper: ObjectMapper = {
    val m = new ObjectMapper()
    m.registerModule(DefaultScalaModule)
    m
  }
}
