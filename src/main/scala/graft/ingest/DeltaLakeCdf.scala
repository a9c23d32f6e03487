package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{LongType, StringType, StructField}
import org.apache.spark.unsafe.types.UTF8String

/** Change Data Feed READER for real Delta tables (PROTOCOL.md § Add
  * CDC File): row-level changes between two versions — what
  * [[DeltaLakeRead.appendsSince]] deliberately refuses to fake when a
  * range contains deletes or rewrites. With
  * `delta.enableChangeDataFeed=true`, every mutating commit carries
  * `cdc` actions naming change-data parquet files under
  * `_change_data/` whose rows are the changed rows plus a
  * `_change_type` column (`insert` / `delete` / `update_preimage` /
  * `update_postimage` — exempt from column mapping per the protocol);
  * this engine's [[DeltaLakeDml]] WRITES them when the property is on,
  * so engine-mutated tables are CDF-consumable by delta-spark's
  * `table_changes` and vice versa.
  *
  * Per-commit semantics (the protocol's reconciliation rule): when a
  * commit carries cdc actions they are AUTHORITATIVE — its add/remove
  * actions are ignored for change derivation; a commit with adds only
  * (pure append) derives `insert` rows from the added files; a commit
  * that removed or rewrote rows WITHOUT cdc files (written before the
  * property was enabled, or by a non-CDF writer) is rejected loudly —
  * deriving its deletes would need the removed files' contents, and
  * guessing is how readers silently drop changes. Metadata-only
  * commits contribute nothing.
  *
  * Scale shape: one driver-side parse of the commits in range, then
  * at most two relations for the whole range through
  * [[DeltaLakeRead.scan]] — the change-data files (their stored
  * `_change_type`) and the added files of pure-append commits (tagged
  * `insert`), each file carrying its `_commit_version` as a per-file
  * value of the log-backed index. Only those files are read —
  * O(rows changed in range), never O(table). Output columns: the
  * table's logical schema + `_change_type` + `_commit_version`. */
object DeltaLakeCdf {

  val ChangeTypeCol = "_change_type"
  val CommitVersionCol = "_commit_version"

  /** Row-level changes in `[fromVersion, toVersion]` (default: to the
    * latest version). Requires `delta.enableChangeDataFeed=true` in
    * the CURRENT table config (per-version property tracking is not
    * reconstructed; a range crossing the enablement point fails on
    * its underivable commits, which is the honest outcome). */
  def changes(spark: SparkSession, tablePath: String, fromVersion: Long,
      toVersion: Option[Long] = None): DataFrame = {
    val st = DeltaLakeRead.state(spark, tablePath)
    require(st.config.get("delta.enableChangeDataFeed").contains("true"),
      "delta.enableChangeDataFeed is not set on this table — no writer " +
      "was obliged to record change data; use snapshot()/appendsSince()")
    val log = DeltaLakeRead.listLog(tablePath)
    val latest = DeltaLakeRead.latestIn(tablePath, log)
    val to = toVersion.getOrElse(latest)
    require(fromVersion >= 0 && fromVersion <= to && to <= latest,
      s"bad version range [$fromVersion, $to] (latest $latest)")
    val root = new java.io.File(tablePath).getAbsolutePath

    // every change-data and every derived-insert file of the range,
    // each with its per-file values
    val (cdc, adds) = (fromVersion to to).map { v =>
      val acts = DeltaLakeRead.commitActions(log._1, v, "changes")
      def all(k: String) =
        acts.flatMap(n => Option(n.get(k)).filterNot(_.isNull))
      val changed = all("cdc").map(DeltaLakeRead.fileAction)
      val added = all("add").filter(DeltaLakeRead.dataChange)
        .map(DeltaLakeRead.fileAction)
      // cdc actions are authoritative: the commit's adds derive nothing
      if (changed.nonEmpty) (changed.map(_ -> Seq[Any](v)), Nil)
      else if (added.exists(_.dv.isDefined) ||
          all("remove").exists(DeltaLakeRead.dataChange))
        throw new IllegalArgumentException(
          s"commit $v removed or rewrote rows without change-data " +
          "files (written before delta.enableChangeDataFeed, or by a " +
          "non-CDF writer) — its row-level changes cannot be derived; " +
          "resync with snapshot()")
      else (Nil, added.map(_ -> Seq[Any](Insert, v)))
    }.unzip match { case (c, a) => (c.flatten, a.flatten) }
    // at most two relations for the whole range: the commit version,
    // and an add-derived row's change type, are per-file values
    val changeType = StructField(ChangeTypeCol, StringType)
    val version = StructField(CommitVersionCol, LongType)
    val inserts = DeltaLakeRead.scan(spark, root, st, adds,
      meta = false, extraPart = Seq(changeType, version))
    if (cdc.isEmpty) inserts
    else {
      val changed = DeltaLakeRead.scan(spark, root, st, cdc,
        meta = false, extraData = Seq(changeType), extraPart = Seq(version))
      if (adds.isEmpty) changed else changed.unionByName(inserts)
    }
  }

  private val Insert = UTF8String.fromString("insert")
}
