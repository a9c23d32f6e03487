package graft.queries

import graft.QueryDef
import graft.core.{Money, Tables}
import graft.ingest.{DeltaLakeDml, DeltaLakeMaintain, DeltaLakeRead, DeltaLakeWrite, VersionedTableIO}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Versioned-table (manifest-log) queries — the Delta-transaction-log
  * capability class the reference relies on everywhere (time travel,
  * ACID upsert, VACUUM: alphavantage/bronze2_to_silver.py:142-152,
  * uber/drop_dup.py:97), re-expressed over [[VersionedTableIO]].
  *
  * Every query BUILDS its table from `orders` with a fixed commit
  * sequence (overwrite → append → merge-upsert, …), so every snapshot
  * is a deterministic function of the source table and the whole
  * version history is DuckDB-oracle-checkable. The deletion-vector
  * queries (q152's `dvt` row, q156–q160) run on Delta tables
  * ([[deltaRoot]]); the rest on the versioned format ([[builtRoot]]). */
object VersionedQueries {

  /** Per-sfDir built-once root: commit sequence
    *   v1 overwrite  keys ≡ 0 (mod 3)
    *   v2 append     keys ≡ 1 (mod 3)
    *   v3 merge      all keys ≤ 1 (mod 3), price + 1000 (source wins)
    * plus a second table that additionally gets v4 compact + VACUUM
    * retaining 2 versions (so q116 proves retention GC keeps the
    * retained snapshots bit-identical). */
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[queries] def builtRoot(s: SparkSession, dir: String): String =
    cache.computeIfAbsent(dir, { d =>
      val root = java.nio.file.Files.createTempDirectory("graft_versioned").toString
      val io = new VersionedTableIO(root)
      // every table here derives from this one narrow projection
      val orders = Tables.load(s, d, "orders")
        .select("o_orderkey", "o_totalprice")
      def build(table: String): Unit = {
        io.overwrite(orders.filter(col("o_orderkey") % 3 === 0), table)
        io.append(orders.filter(col("o_orderkey") % 3 === 1), table)
        io.upsert(s,
          orders.filter(col("o_orderkey") % 3 <= 1)
            .withColumn("o_totalprice", col("o_totalprice") + 1000.0),
          table, keys = Seq("o_orderkey"))
      }
      build("tt")
      build("vac")
      io.compact(s, "vac", numFiles = 4)
      io.vacuum("vac", retainLast = 2, orphanGraceMs = 0L)
      // "pr": three commits over disjoint key ranges (mod-3000 domain so
      // every scale factor populates every range) — the data-skipping
      // shape: a bounded predicate should scan ONE commit dir of three
      val bucketed = Tables.load(s, d, "orders")
        .select((col("o_orderkey") % 3000).as("bucket_key"),
          col("o_orderkey"), col("o_totalprice"))
      io.overwrite(bucketed.filter(col("bucket_key") < 1000), "pr")
      io.append(bucketed.filter(col("bucket_key") >= 1000 &&
        col("bucket_key") < 2000), "pr")
      io.append(bucketed.filter(col("bucket_key") >= 2000), "pr")
      // exported plain-file manifest of tt v2: q140's external read
      io.exportManifest("tt", 2L)
      // "evo": write-side schema evolution — v1 narrow, v2 adds `flag`
      io.overwrite(orders.filter(col("o_orderkey") % 3 === 0), "evo")
      io.append(orders.filter(col("o_orderkey") % 3 === 1)
        .withColumn("flag", col("o_orderkey") % 2), "evo")
      // "zo": OPTIMIZE ZORDER — dense row_number-derived keys so both
      // clustered columns span exactly 0..255 at every SF (rn % 256 and
      // 37·rn % 256, 37 odd so each 256-cycle is a bijection); three
      // interleaved appends (every dir spans the full key range → no
      // pruning), then one z-order rewrite into 16 bucket dirs
      val w = org.apache.spark.sql.expressions.Window.orderBy("o_orderkey")
      val keyed = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
        .withColumn("rn", row_number().over(w) - 1)
        .select(col("o_orderkey"), col("o_totalprice"),
          (col("rn") % 256).cast("long").as("zx"),
          ((col("rn") * 37) % 256).cast("long").as("zy"))
      io.overwrite(keyed.filter(col("zx") % 3 === 0), "zo")
      io.append(keyed.filter(col("zx") % 3 === 1), "zo")
      io.append(keyed.filter(col("zx") % 3 === 2), "zo")
      io.compactZOrder(s, "zo", clusterCols = Seq("zx", "zy"), numDirs = 16)
      // "cl": zero-copy clone of tt@v2 (hard links), then diverge with
      // an append of the keys tt never had — clone ends at ALL orders
      // at original prices while tt's head keeps its upserted prices
      io.cloneTable("tt", "cl", version = Some(2L))
      io.append(orders.filter(col("o_orderkey") % 3 === 2), "cl")
      // "rst": overwrite then roll back — RESTORE as a metadata commit
      io.overwrite(orders.filter(col("o_orderkey") % 3 === 0), "rst")
      io.overwrite(orders, "rst")
      io.restore("rst", toVersion = 1L)
      // "dml": DELETE + UPDATE as history-preserving snapshot rewrites
      io.overwrite(orders, "dml")
      io.deleteWhere(s, "dml", col("o_orderkey") % 5 === 4)
      io.updateWhere(s, "dml", col("o_orderkey") % 5 === 0,
        Map("o_totalprice" -> (col("o_totalprice") + 500.0)))
      // "prs": STRING-stats pruning — a date-string column over three
      // month-range commits; a bounded dt predicate must scan one dir
      val dated = orders.select(col("o_orderkey"), col("o_totalprice"),
        concat(lit("2024-"),
          lpad(((col("o_orderkey") % 12) + 1).cast("string"), 2, "0"),
          lit("-15")).as("dt"))
      io.overwrite(dated.filter(col("o_orderkey") % 12 < 4), "prs")
      io.append(dated.filter(col("o_orderkey") % 12 >= 4 &&
        col("o_orderkey") % 12 < 8), "prs")
      io.append(dated.filter(col("o_orderkey") % 12 >= 8), "prs")
      // "gen": GENERATED ALWAYS AS — bucket derives from the key at
      // write time (batches never carry it); three key-range appends
      // make the generated column the pruning column
      io.createTable("gen",
        Map("generated.bucket" -> "o_orderkey % 3000"))
      io.append(orders.filter(col("o_orderkey") % 3000 < 1000), "gen")
      io.append(orders.filter(col("o_orderkey") % 3000 >= 1000 &&
        col("o_orderkey") % 3000 < 2000), "gen")
      io.append(orders.filter(col("o_orderkey") % 3000 >= 2000), "gen")
      // "con": CHECK constraint enforced on write — the violating
      // append MUST be rejected before any commit (and is: the
      // require below is load-bearing for q153's n_versions contract)
      io.overwrite(orders.filter(col("o_orderkey") % 3 === 0), "con")
      io.addConstraint(s, "con", "price_positive", "o_totalprice > 0")
      io.append(orders.filter(col("o_orderkey") % 3 === 1), "con")
      val rejected =
        try {
          io.append(orders.filter(col("o_orderkey") % 3 === 2)
            .withColumn("o_totalprice", col("o_totalprice") * -1.0), "con")
          false
        } catch { case _: IllegalStateException => true }
      require(rejected, "violating append must be rejected")
      root
    })

  /** Per-sfDir built-once root of the Delta tables behind the
    * deletion-vector queries. Their labels count from 1 like the
    * versioned tables' versions: label = Delta version + 1.
    *   "opt": v0 keys ≡ 0..3 (mod 7), v1–v3 keys ≡ 4, 5, 6 (one
    *          staging job), v4 DELETE ≡ 7 (mod 11), v5 compact
    *   "dvt": v0 all orders, v1 DELETE ≡ 3 (mod 4), v2 DELETE ≡ 6 (mod 10)
    *   "dvu": v0 all orders, v1 UPDATE price + 500 on keys ≡ 0 (mod 5)
    *   "dvm": v0 all orders, v1 upsert of keys ≤ 1 (mod 3) at
    *          price + 1000 (source wins) */
  private val deltaCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[queries] def deltaRoot(s: SparkSession, dir: String): String =
    deltaCache.computeIfAbsent(dir, { d =>
      val root =
        java.nio.file.Files.createTempDirectory("graft_versioned_dv").toString
      val orders = Tables.load(s, d, "orders")
        .select("o_orderkey", "o_totalprice")
      val k = col("o_orderkey")
      DeltaLakeWrite.appendSliced(orders,
        when(k % 7 <= 3, 0L).otherwise(k % 7 - 3), 4, s"$root/opt")
      DeltaLakeDml.delete(s, s"$root/opt", "o_orderkey % 11 = 7")
      DeltaLakeMaintain.compact(s, s"$root/opt")
      DeltaLakeWrite.append(orders, s"$root/dvt")
      DeltaLakeDml.delete(s, s"$root/dvt", "o_orderkey % 4 = 3")
      DeltaLakeDml.delete(s, s"$root/dvt", "o_orderkey % 10 = 6")
      DeltaLakeWrite.append(orders, s"$root/dvu")
      DeltaLakeDml.update(s, s"$root/dvu", "o_orderkey % 5 = 0",
        Map("o_totalprice" -> "o_totalprice + 500.0"))
      DeltaLakeWrite.append(orders, s"$root/dvm")
      DeltaLakeDml.upsert(s, s"$root/dvm",
        orders.filter(k % 3 <= 1)
          .withColumn("o_totalprice", col("o_totalprice") + 1000.0),
        Seq("o_orderkey"))
      root
    })

  /** The replayed states of Delta table `t` at labels 1..`label`. */
  private def deltaStates(s: SparkSession, t: String,
      label: Long): IndexedSeq[DeltaLakeRead.Snapshot] =
    (0L until label).map(v => DeltaLakeRead.state(s, t, Some(v)))

  /** The "dirs" of the last of `states`: its live files grouped by the
    * version that first added each path. A DV re-add keeps its path,
    * so a masked file stays in its group; the facts do not depend on
    * how many files a write landed. */
  private def dirsOf(
      states: Seq[DeltaLakeRead.Snapshot]): Set[(Int, Set[String])] = {
    val firstAdded = states.zipWithIndex
      .flatMap { case (st, v) => st.files.map(_.path -> v) }
      .groupMapReduce(_._1)(_._2)(math.min)
    states.last.files.map(_.path).toSet.groupBy(firstAdded).toSet
  }

  /** How many of the commits behind `states` wrote deletion vectors. */
  private def dvCommits(states: Seq[DeltaLakeRead.Snapshot]): Int = {
    val dvs = states.map(_.files.flatMap(_.dv).toSet)
    (Set.empty[graft.ingest.DeletionVectors.Descriptor] +: dvs).zip(dvs)
      .count { case (before, after) => (after -- before).nonEmpty }
  }

  /** Metadata-only COUNT(*) of a replayed state: each live file's
    * parquet footer row count minus its DV's cardinality — footer
    * reads only, no Spark job. */
  private def metaRows(t: String, st: DeltaLakeRead.Snapshot): Long =
    st.files.map(f => DeltaLakeWrite.footerRows(new java.io.File(t, f.path)) -
      f.dv.fold(0L)(_.cardinality)).sum

  /** Time travel: read versions 1..3 of the same table and aggregate
    * each — the oracle replays the commit sequence declaratively. A
    * crashed/partial write can never corrupt this: only committed
    * manifests are visible (VersionedTableSpec proves the crash path). */
  val qTimeTravel: QueryDef = QueryDef(
    "q115_time_travel",
    s"""SELECT CAST(1 AS BIGINT) AS version, count(*) AS n,
      |  ${Money.moneySumSql("o_totalprice")} AS total
      |FROM orders WHERE o_orderkey % 3 = 0
      |UNION ALL
      |SELECT CAST(2 AS BIGINT), count(*), ${Money.moneySumSql("o_totalprice")}
      |FROM orders WHERE o_orderkey % 3 <= 1
      |UNION ALL
      |SELECT CAST(3 AS BIGINT), count(*),
      |  ${Money.moneySumSql("o_totalprice + 1000.0")}
      |FROM orders WHERE o_orderkey % 3 <= 1""".stripMargin) { (s, dir) =>
    val io = new VersionedTableIO(builtRoot(s, dir))
    (1L to 3L).map { v =>
      io.readVersion(s, "tt", v)
        .agg(count(lit(1)).as("n"),
          Money.moneySum(col("o_totalprice")).as("total"))
        .select(lit(v).as("version"), col("n"), col("total"))
    }.reduce(_.unionByName(_))
  }

  /** VACUUM + retention: after compact(v4) and vacuum(retain 2), the
    * latest snapshot is row-identical to the pre-vacuum state (content
    * oracle) and exactly 2 versions remain readable (`n_versions` comes
    * from the live log, not a constant). */
  val qVersionedVacuum: QueryDef = QueryDef(
    "q116_versioned_vacuum",
    """SELECT o_orderkey, o_totalprice + 1000.0 AS o_totalprice,
      |  CAST(2 AS BIGINT) AS n_versions
      |FROM orders WHERE o_orderkey % 3 <= 1""".stripMargin) { (s, dir) =>
    val io = new VersionedTableIO(builtRoot(s, dir))
    io.read(s, "vac")
      .withColumn("n_versions", lit(io.versions("vac").size.toLong))
  }

  /** Change Data Feed: row-level diff of version 1 → 3 (the merge
    * inserted the ≡1 (mod 3) keys and updated every ≡0 key's price),
    * replayed declaratively by the oracle. Deletes are covered in
    * VersionedTableSpec (this table's history never drops keys). */
  val qChangeFeed: QueryDef = QueryDef(
    "q119_change_feed",
    """SELECT o_orderkey, o_totalprice + 1000.0 AS o_totalprice,
      |  'insert' AS _change_type
      |FROM orders WHERE o_orderkey % 3 = 1
      |UNION ALL
      |SELECT o_orderkey, o_totalprice, 'update_preimage'
      |FROM orders WHERE o_orderkey % 3 = 0
      |UNION ALL
      |SELECT o_orderkey, o_totalprice + 1000.0, 'update_postimage'
      |FROM orders WHERE o_orderkey % 3 = 0""".stripMargin) { (s, dir) =>
    val io = new VersionedTableIO(builtRoot(s, dir))
    io.readChanges(s, "tt", fromVersion = 1L, toVersion = 3L,
      keys = Seq("o_orderkey"))
  }

  /** Data skipping via commit-dir stats: the bounded predicate selects
    * 1 of 3 commit dirs from the manifest's min/max (the live counts
    * ride along as columns); content equals the plain filter. */
  val qStatsPrune: QueryDef = QueryDef(
    "q120_stats_prune",
    """SELECT o_orderkey % 3000 AS bucket_key, o_orderkey, o_totalprice,
      |  CAST(1 AS INT) AS n_dirs_scanned, CAST(3 AS INT) AS n_dirs_total
      |FROM orders
      |WHERE o_orderkey % 3000 BETWEEN 1200 AND 1800""".stripMargin) { (s, dir) =>
    val io = new VersionedTableIO(builtRoot(s, dir))
    val (scanned, total) = io.pruneCounts("pr", "bucket_key", 1200, 1800)
    io.readPruned(s, "pr", "bucket_key", 1200, 1800)
      .withColumn("n_dirs_scanned", lit(scanned))
      .withColumn("n_dirs_total", lit(total))
  }

  /** RESTORE: after overwrite-all then restore-to-v1, the head reads
    * as version 1's content and history shows three commits. */
  val qRestore: QueryDef = QueryDef(
    "q121_restore",
    """SELECT o_orderkey, o_totalprice, CAST(3 AS BIGINT) AS n_versions
      |FROM orders WHERE o_orderkey % 3 = 0""".stripMargin) { (s, dir) =>
    val io = new VersionedTableIO(builtRoot(s, dir))
    io.read(s, "rst")
      .withColumn("n_versions", lit(io.versions("rst").size.toLong))
  }

  /** DELETE + UPDATE on the versioned table — declaratively replayed:
    * ≡4 (mod 5) keys deleted, ≡0 keys repriced, the rest untouched;
    * version 1 remains fully readable (n_versions proves the history
    * grew instead of mutating). */
  val qVersionedDml: QueryDef = QueryDef(
    "q122_versioned_dml",
    """SELECT o_orderkey,
      |  CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 500.0
      |       ELSE o_totalprice END AS o_totalprice,
      |  CAST(3 AS BIGINT) AS n_versions
      |FROM orders WHERE o_orderkey % 5 <> 4""".stripMargin) { (s, dir) =>
    val io = new VersionedTableIO(builtRoot(s, dir))
    io.read(s, "dml")
      .withColumn("n_versions", lit(io.versions("dml").size.toLong))
  }

  /** Incremental view maintenance from the change feed: gold at v1
    * (full agg) + weighted CDF deltas 1→3 must equal the direct
    * aggregation of the head — O(changes) refresh, base never
    * re-scanned. The oracle replays the DML history declaratively and
    * aggregates the final state. */
  val qCdfIncrementalGold: QueryDef = QueryDef(
    "q125_cdf_incremental_gold",
    """WITH head AS (
      |  SELECT o_orderkey,
      |    CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 500.0
      |         ELSE o_totalprice END AS o_totalprice
      |  FROM orders WHERE o_orderkey % 5 <> 4)
      |SELECT CAST(o_orderkey % 7 AS BIGINT) AS grp, count(*) AS n,
      |  round(sum(o_totalprice), 2) AS total
      |FROM head GROUP BY 1""".stripMargin) { (s, dir) =>
    val io = new VersionedTableIO(builtRoot(s, dir))
    val grp = col("o_orderkey") % 7
    val goldV1 = graft.ingest.IncrementalView.aggregate(
      io.readVersion(s, "dml", 1L), grp, "grp", Seq("o_totalprice"))
    graft.ingest.IncrementalView.refresh(s, io, "dml",
      keys = Seq("o_orderkey"), fromVersion = 1L, toVersion = 3L,
      goldAtFrom = goldV1, groupExpr = grp, groupName = "grp",
      valueCols = Seq("o_totalprice"))
      .select(col("grp"), col("n"),
        round(col("o_totalprice_sum"), 2).as("total"))
  }

  /** The STREAMING form of q125: the table's commit log drives a
    * Structured Streaming file source; one AvailableNow drain folds
    * every commit's change feed into the gold view via foreachBatch
    * (stream.ChangeFeedGold). Same oracle as q125 — the maintained
    * view must equal direct re-aggregation of the head, however the
    * backlog was chunked into micro-batches. */
  val qStreamCdfGold: QueryDef = QueryDef(
    "q131_stream_cdf_gold",
    """WITH head AS (
      |  SELECT o_orderkey,
      |    CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 500.0
      |         ELSE o_totalprice END AS o_totalprice
      |  FROM orders WHERE o_orderkey % 5 <> 4)
      |SELECT CAST(o_orderkey % 7 AS BIGINT) AS grp, count(*) AS n,
      |  round(sum(o_totalprice), 2) AS total
      |FROM head GROUP BY 1""".stripMargin) { (s, dir) =>
    val io = new VersionedTableIO(builtRoot(s, dir))
    // fresh checkpoint + gold per invocation: batch ids are only
    // meaningful within one checkpoint lineage
    val scratch = java.nio.file.Files
      .createTempDirectory("graft_cdf_stream").toString
    val goldIo = new graft.ingest.ParquetTableIO(s"$scratch/gold")
    graft.stream.ChangeFeedGold.run(s, io, "dml",
      keys = Seq("o_orderkey"),
      groupExpr = col("o_orderkey") % 7, groupName = "grp",
      valueCols = Seq("o_totalprice"),
      checkpointDir = s"$scratch/ck", goldIo = goldIo, goldTable = "g")
    graft.stream.ChangeFeedGold.read(s, goldIo, "g")
      .select(col("grp"), col("n"),
        round(col("o_totalprice_sum"), 2).as("total"))
  }

  /** External-reader contract (the reference's defining trait: Trino
    * reads every Delta table Spark writes, via the shared metastore —
    * trino/etc/catalog/delta.properties:1-8). The DuckDB ORACLE is the
    * foreign engine here: its SQL is derived AT DUMP TIME from the
    * exported `manifest.txt` file list (`read_parquet([...])` — no
    * VersionedTableIO code, no Spark, just the plain-file export), and
    * the Spark side independently REPLAYS snapshot v2's semantics from
    * the source table (pre-merge: the ≡0 overwrite + ≡1 append,
    * original prices). The hash match therefore proves in one check
    * that a genuinely foreign engine consumes the export AND that the
    * exported bytes equal the committed semantics. Spark-side export
    * reads (+ kept filter pushdown) are asserted in
    * VersionedTableSpec. */
  val qManifestExport: QueryDef = QueryDef.dynamicOracle(
    "q140_manifest_export")(manifestExportOracle) { (s, dir) =>
    builtRoot(s, dir) // ensure the table history + export exist
    Tables.load(s, dir, "orders")
      .filter(col("o_orderkey") % 3 <= 1)
      .select("o_orderkey", "o_totalprice")
  }

  /** q140's dump-time oracle: DuckDB reads EXACTLY the exported file
    * list. Falls back to the semantic replay if no export was built in
    * this JVM (e.g. a dev run that never invoked the query). */
  private def manifestExportOracle: String = {
    import scala.jdk.CollectionConverters._
    val replay =
      """SELECT o_orderkey, o_totalprice
        |FROM orders WHERE o_orderkey % 3 <= 1""".stripMargin
    cache.values().asScala.toSeq match {
      case Seq(root) =>
        val f = new java.io.File(s"$root/tt/_graft_manifests/2/manifest.txt")
        if (!f.exists()) replay
        else {
          val files = java.nio.file.Files.readAllLines(f.toPath)
            .asScala.filter(_.nonEmpty)
          if (files.isEmpty) replay
          else files.map(p => s"'$p'")
            .mkString("SELECT o_orderkey, o_totalprice FROM read_parquet([",
              ", ", "])")
        }
      case _ => replay // zero or several roots: ambiguous, replay
    }
  }

  /** Schema evolution across versioned commits (the reference evolves
    * schema on every append — uber/csv_to_delta.py:95,
    * coin/convert_to_delta.py:163): v2 appends a `flag` column the v1
    * overwrite lacks. The head snapshot surfaces v1 rows with null
    * flag (read-side mergeSchema); the change feed diffs ACROSS the
    * schema boundary at the evolved schema — widened-but-unchanged
    * rows are NOT updates (null-safe struct compare), the appended
    * keys are inserts carrying the new column. Old-version reads
    * staying narrow is asserted in VersionedTableSpec. */
  val qSchemaEvolution: QueryDef = QueryDef(
    "q143_schema_evolution",
    """SELECT o_orderkey, o_totalprice,
      |  CASE WHEN o_orderkey % 3 = 1 THEN CAST(o_orderkey % 2 AS BIGINT) END
      |    AS flag,
      |  'snapshot' AS part
      |FROM orders WHERE o_orderkey % 3 <= 1
      |UNION ALL
      |SELECT o_orderkey, o_totalprice, CAST(o_orderkey % 2 AS BIGINT),
      |  'insert'
      |FROM orders WHERE o_orderkey % 3 = 1""".stripMargin) { (s, dir) =>
    val io = new VersionedTableIO(builtRoot(s, dir))
    val head = io.read(s, "evo").withColumn("part", lit("snapshot"))
    val cdf = io.readChanges(s, "evo", fromVersion = 1L, toVersion = 2L,
        keys = Seq("o_orderkey"))
      .withColumnRenamed("_change_type", "part")
    head.unionByName(cdf)
  }

  /** OPTIMIZE ZORDER (multi-dimensional clustering): after
    * [[VersionedTableIO.compactZOrder]] cuts the snapshot into 16
    * z-range dirs on (zx, zy), a quarter-range predicate on EITHER
    * column scans exactly 4 of 16 dirs — the literal contract columns
    * are the q120 pattern, deterministic because the keys span 0..255
    * exactly and bucket membership is the bit-prefix (zx7 zy7 zx6 zy6).
    * Linear clustering would give 16/16 on zy (asserted in
    * VersionedTableSpec); at 100 TB that is the difference between a
    * second-dimension query reading one backfill's worth of files and
    * the whole table. Content equals the plain filter (oracle replays
    * the key derivation). */
  val qZorder: QueryDef = QueryDef(
    "q148_zorder",
    """WITH t AS (SELECT o_orderkey, o_totalprice,
      |    row_number() OVER (ORDER BY o_orderkey) - 1 AS rn FROM orders),
      |k AS (SELECT o_orderkey, o_totalprice,
      |    CAST(rn % 256 AS BIGINT) AS zx,
      |    CAST((rn * 37) % 256 AS BIGINT) AS zy FROM t)
      |SELECT o_orderkey, o_totalprice, zx, zy,
      |  CAST(4 AS INT) AS n_dirs_scanned_zx,
      |  CAST(4 AS INT) AS n_dirs_scanned_zy,
      |  CAST(16 AS INT) AS n_dirs_total
      |FROM k WHERE zx BETWEEN 64 AND 127""".stripMargin) { (s, dir) =>
    val io = new VersionedTableIO(builtRoot(s, dir))
    val (sx, tot) = io.pruneCounts("zo", "zx", 64, 127)
    val (sy, _) = io.pruneCounts("zo", "zy", 128, 191)
    io.readPruned(s, "zo", "zx", 64, 127)
      .withColumn("n_dirs_scanned_zx", lit(sx))
      .withColumn("n_dirs_scanned_zy", lit(sy))
      .withColumn("n_dirs_total", lit(tot))
  }

  /** Zero-copy CLONE + divergence: the clone of tt@v2 plus its own
    * append reads as ALL orders at original prices, while the source
    * head keeps the upserted prices — two independent futures over
    * the same physical files (hard-linked, `n_shared_dirs` of the
    * clone's first commit point at the source's bytes). Vacuum-safety
    * of the sharing is proved in VersionedTableSpec; content equality
    * is oracle-checked here. */
  val qClone: QueryDef = QueryDef(
    "q151_clone",
    s"""SELECT 'cl' AS tbl, CAST(count(*) AS BIGINT) AS n,
      |  ${Money.moneySumSql("o_totalprice")} AS total,
      |  CAST(2 AS INT) AS n_shared_dirs
      |FROM orders
      |UNION ALL
      |SELECT 'tt', CAST(count(*) AS BIGINT),
      |  ${Money.moneySumSql("o_totalprice + 1000.0")}, CAST(2 AS INT)
      |FROM orders WHERE o_orderkey % 3 <= 1""".stripMargin) { (s, dir) =>
    val io = new VersionedTableIO(builtRoot(s, dir))
    val shared = io.manifest("cl", 1L).dataDirs.toSet
      .intersect(io.manifest("tt", 2L).dataDirs.toSet).size
    Seq("cl", "tt").map { t =>
      io.read(s, t)
        .agg(count(lit(1)).as("n"),
          Money.moneySum(col("o_totalprice")).as("total"))
        .select(lit(t).as("tbl"), col("n"), col("total"),
          lit(shared).as("n_shared_dirs"))
    }.reduce(_.unionByName(_))
  }

  /** Metadata-only COUNT(*): the `tt` and `dml` counts come from
    * [[VersionedTableIO.rowCount]] — a pure manifest read, no Spark
    * job, no file opens (the history's counts from kilobytes of log,
    * Delta's numRecords-from-stats answer shape). The `dvt` row is a
    * Delta table counted THROUGH two live deletion vectors: each live
    * file's parquet footer row count minus its DV's cardinality
    * ([[metaRows]]) — deletes don't cost the metadata answer either.
    * The oracle recounts each snapshot from the source table. */
  val qMetaCount: QueryDef = QueryDef(
    "q152_meta_count",
    """SELECT 'tt' AS tbl, CAST(1 AS BIGINT) AS version,
      |  CAST(count(*) AS BIGINT) AS n_rows
      |FROM orders WHERE o_orderkey % 3 = 0
      |UNION ALL
      |SELECT 'tt', CAST(2 AS BIGINT), CAST(count(*) AS BIGINT)
      |FROM orders WHERE o_orderkey % 3 <= 1
      |UNION ALL
      |SELECT 'tt', CAST(3 AS BIGINT), CAST(count(*) AS BIGINT)
      |FROM orders WHERE o_orderkey % 3 <= 1
      |UNION ALL
      |SELECT 'dml', CAST(3 AS BIGINT), CAST(count(*) AS BIGINT)
      |FROM orders WHERE o_orderkey % 5 <> 4
      |UNION ALL
      |SELECT 'dvt', CAST(3 AS BIGINT), CAST(count(*) AS BIGINT)
      |FROM orders
      |WHERE o_orderkey % 4 <> 3 AND o_orderkey % 10 <> 6""".stripMargin) { (s, dir) =>
    import s.implicits._
    val io = new VersionedTableIO(builtRoot(s, dir))
    val dvt = s"${deltaRoot(s, dir)}/dvt"
    val rows = ((1L to 3L).map(v => ("tt", v, io.rowCount("tt", v).get)) :+
      ("dml", 3L, io.rowCount("dml", 3L).get) :+
      ("dvt", 3L, metaRows(dvt, DeltaLakeRead.state(s, dvt, Some(2L))))).toSeq
    rows.toDF("tbl", "version", "n_rows")
  }

  /** CHECK constraints (Delta invariants): after a valid overwrite +
    * append under `o_totalprice > 0`, a violating append was REJECTED
    * before its commit — the head holds exactly the valid rows and
    * the version count proves the rejected write left no trace
    * (1 overwrite + 1 addConstraint metadata commit + 1 append = 3).
    * The oracle replays the surviving content. */
  val qConstraints: QueryDef = QueryDef(
    "q153_check_constraint",
    s"""SELECT CAST(count(*) AS BIGINT) AS n,
      |  ${Money.moneySumSql("o_totalprice")} AS total,
      |  CAST(3 AS INT) AS n_versions, CAST(1 AS INT) AS n_constraints
      |FROM orders WHERE o_orderkey % 3 <= 1""".stripMargin) { (s, dir) =>
    val io = new VersionedTableIO(builtRoot(s, dir))
    io.read(s, "con")
      .agg(count(lit(1)).as("n"),
        Money.moneySum(col("o_totalprice")).as("total"))
      .select(col("n"), col("total"),
        lit(io.versions("con").size).as("n_versions"),
        lit(io.constraints("con").size).as("n_constraints"))
  }

  /** DESCRIBE HISTORY from manifests alone (no data I/O): version,
    * operation, and metadata row count for every live commit of the
    * DML table — the oracle recomputes each snapshot's count from the
    * source. */
  val qHistory: QueryDef = QueryDef(
    "q154_history",
    """SELECT CAST(1 AS BIGINT) AS version, 'overwrite' AS op,
      |  CAST(count(*) AS BIGINT) AS n_rows FROM orders
      |UNION ALL
      |SELECT CAST(2 AS BIGINT), 'delete', CAST(count(*) AS BIGINT)
      |FROM orders WHERE o_orderkey % 5 <> 4
      |UNION ALL
      |SELECT CAST(3 AS BIGINT), 'update', CAST(count(*) AS BIGINT)
      |FROM orders WHERE o_orderkey % 5 <> 4""".stripMargin) { (s, dir) =>
    val io = new VersionedTableIO(builtRoot(s, dir))
    io.history(s, "dml").select("version", "op", "n_rows")
  }

  /** OPTIMIZE with live deletion vectors, on Delta: after 1 big + 3
    * small appends (4 dirs) and a DV delete spanning all of them,
    * [[DeltaLakeMaintain.compact]] rewrites every small or DV-bearing
    * file — here all of them — into one file: the deletes are
    * materialized, so no live file carries a DV, nothing is carried
    * and one dir remains. The metadata-only count (meta_n: footer
    * rows minus DV cardinalities, no scan) still equals the scanned
    * count; the oracle replays content, dir arithmetic and both
    * counts. */
  val qOptimize: QueryDef = QueryDef(
    "q156_optimize_binpack",
    s"""SELECT CAST(count(*) AS BIGINT) AS n,
      |  ${Money.moneySumSql("o_totalprice")} AS total,
      |  CAST(4 AS INT) AS n_dirs_before, CAST(1 AS INT) AS n_dirs_after,
      |  CAST(0 AS INT) AS n_dirs_carried,
      |  CAST(0 AS INT) AS n_dv_dirs_after,
      |  CAST(count(*) AS BIGINT) AS meta_n
      |FROM orders WHERE o_orderkey % 11 <> 7""".stripMargin) { (s, dir) =>
    val t = s"${deltaRoot(s, dir)}/opt"
    val states = deltaStates(s, t, 6L)
    val (before, after) = (dirsOf(states.take(5)), dirsOf(states))
    DeltaLakeRead.snapshot(s, t)
      .agg(count(lit(1)).as("n"),
        Money.moneySum(col("o_totalprice")).as("total"))
      .select(col("n"), col("total"),
        lit(before.size).as("n_dirs_before"),
        lit(after.size).as("n_dirs_after"),
        lit(after.intersect(before).size).as("n_dirs_carried"),
        lit(states.last.files.count(_.dv.isDefined)).as("n_dv_dirs_after"),
        lit(metaRows(t, states.last)).as("meta_n"))
  }

  /** Head and v1 of a DV-mutated Delta table, each aggregated, with
    * its structural facts at `label` (the head) as literal columns:
    * dirs and DV commits from [[dirsOf]]/[[dvCommits]], and the dirs
    * carried identical from v1. */
  private def dvScopes(s: SparkSession, t: String,
      label: Long): org.apache.spark.sql.DataFrame = {
    val states = deltaStates(s, t, label)
    val dirs = dirsOf(states)
    Seq(("head", DeltaLakeRead.snapshot(s, t)),
        ("v1", DeltaLakeRead.snapshot(s, t, Some(0L))))
      .map { case (scope, df) =>
        df.agg(count(lit(1)).as("n"),
            Money.moneySum(col("o_totalprice")).as("total"))
          .select(lit(scope).as("scope"), col("n"), col("total"),
            lit(dirs.size).as("n_dirs"),
            lit(dvCommits(states)).as("n_dv_dirs"),
            lit(dirs.intersect(dirsOf(states.take(1))).size)
              .as("n_dirs_carried"))
      }.reduce(_.unionByName(_))
  }

  /** Deletion vectors: two stacked DELETEs mask rows by position while
    * the data files ride through IDENTICAL (n_dirs_carried) —
    * deleting k rows cost O(k) positions, not a table rewrite — and
    * time travel to v1 still sees every row. The oracle replays both
    * predicates and the full v1 content. */
  val qDeletionVectors: QueryDef = QueryDef(
    "q157_deletion_vectors",
    s"""SELECT 'head' AS scope, CAST(count(*) AS BIGINT) AS n,
      |  ${Money.moneySumSql("o_totalprice")} AS total,
      |  CAST(2 AS INT) AS n_dv_dirs, CAST(1 AS INT) AS n_dirs_carried
      |FROM orders WHERE o_orderkey % 4 <> 3 AND o_orderkey % 10 <> 6
      |UNION ALL
      |SELECT 'v1', CAST(count(*) AS BIGINT), ${Money.moneySumSql("o_totalprice")},
      |  CAST(2 AS INT), CAST(1 AS INT)
      |FROM orders""".stripMargin) { (s, dir) =>
    dvScopes(s, s"${deltaRoot(s, dir)}/dvt", 3L).drop("n_dirs")
  }

  /** UPDATE via deletion vectors: the head shows the assignment
    * applied, v1 the original — with the ORIGINAL data files carried
    * untouched (the update cost O(matched): one DV + one new dir of
    * updated images, n_dirs 1→2). Oracle replays the CASE form of the
    * assignment. */
  val qDvUpdate: QueryDef = QueryDef(
    "q158_dv_update",
    s"""SELECT 'head' AS scope, CAST(count(*) AS BIGINT) AS n,
      |  ${Money.moneySumSql(
           "CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 500.0 " +
           "ELSE o_totalprice END")} AS total,
      |  CAST(2 AS INT) AS n_dirs, CAST(1 AS INT) AS n_dv_dirs,
      |  CAST(1 AS INT) AS n_dirs_carried
      |FROM orders
      |UNION ALL
      |SELECT 'v1', CAST(count(*) AS BIGINT), ${Money.moneySumSql("o_totalprice")},
      |  CAST(2 AS INT), CAST(1 AS INT), CAST(1 AS INT)
      |FROM orders""".stripMargin) { (s, dir) =>
    dvScopes(s, s"${deltaRoot(s, dir)}/dvu", 2L)
  }

  /** MERGE via deletion vectors: the head equals the rewrite-based
    * upsert's answer (source wins on matched keys) while the original
    * data files are carried untouched — the merge cost O(batch +
    * matched positions). Same content as q115's v3 plus the ≡2 keys,
    * so the oracle is the same CASE replay. */
  val qDvMerge: QueryDef = QueryDef(
    "q159_dv_merge",
    s"""SELECT 'head' AS scope, CAST(count(*) AS BIGINT) AS n,
      |  ${Money.moneySumSql(
           "CASE WHEN o_orderkey % 3 <= 1 THEN o_totalprice + 1000.0 " +
           "ELSE o_totalprice END")} AS total,
      |  CAST(2 AS INT) AS n_dirs, CAST(1 AS INT) AS n_dv_dirs,
      |  CAST(1 AS INT) AS n_dirs_carried
      |FROM orders
      |UNION ALL
      |SELECT 'v1', CAST(count(*) AS BIGINT), ${Money.moneySumSql("o_totalprice")},
      |  CAST(2 AS INT), CAST(1 AS INT), CAST(1 AS INT)
      |FROM orders""".stripMargin) { (s, dir) =>
    dvScopes(s, s"${deltaRoot(s, dir)}/dvm", 2L)
  }

  /** Streaming CDC apply ([[graft.stream.StreamCdcApply]]): a keyed
    * change stream drains into a Delta table as one DV-merge per
    * micro-batch — batch 0 seeds the table, batch 1 carries TWO change sets for overlapping
    * keys (seq 1: +1000 on keys ≡0,1 mod 3; seq 2: +7777 on keys ≡0
    * mod 5) so in-batch latest-wins must pick seq 2 where they
    * collide. Final content = the CASE fold the oracle replays;
    * version count (Delta versions 0..1) proves one commit per
    * non-empty batch (no rewrite, no extra versions). Replay
    * idempotence is StreamingSpec's. */
  val qStreamCdc: QueryDef = QueryDef(
    "q160_stream_cdc_apply",
    s"""SELECT CAST(count(*) AS BIGINT) AS n,
      |  ${Money.moneySumSql(
           "CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 7777.0 " +
           "WHEN o_orderkey % 3 <= 1 THEN o_totalprice + 1000.0 " +
           "ELSE o_totalprice END")} AS total,
      |  CAST(2 AS INT) AS n_versions
      |FROM orders""".stripMargin) { (s, dir) =>
    import java.nio.file.{Files => JFiles}
    val orders = Tables.load(s, dir, "orders")
      .select("o_orderkey", "o_totalprice")
    val b0 = orders.withColumn("seq", lit(0L))
    val b1 = orders.filter(col("o_orderkey") % 3 <= 1)
      .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
      .withColumn("seq", lit(1L))
      .unionByName(orders.filter(col("o_orderkey") % 5 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 7777.0)
        .withColumn("seq", lit(2L)))
    val srcDir = JFiles.createTempDirectory("graft_cdc_src").toString
    // r15: both ordered micro-batch files staged from ONE job
    graft.core.StageSlices.writeBatches(Seq(b0, b1), srcDir)
    val t = s"${JFiles.createTempDirectory("graft_cdc_tbl")}/t"
    graft.stream.StreamCdcApply.run(s, srcDir,
      JFiles.createTempDirectory("graft_cdc_ck").toString, t,
      keys = Seq("o_orderkey"), seqCol = "seq", schema = b0.schema,
      maxFilesPerTrigger = Some(1))
    DeltaLakeRead.snapshot(s, t)
      .agg(count(lit(1)).as("n"),
        Money.moneySum(col("o_totalprice")).as("total"))
      .select(col("n"), col("total"),
        lit((DeltaLakeRead.latestVersion(t) + 1).toInt).as("n_versions"))
  }

  /** GENERATED ALWAYS AS: the writer computed `bucket` on every
    * append (no batch carried it), and because it lands in every dir
    * with stats, a range predicate on the GENERATED column prunes to
    * one commit dir of three + the empty create — Delta's
    * partition-pruning-on-generated-columns behavior. Oracle replays
    * the derivation and the dir arithmetic. */
  val qGenerated: QueryDef = QueryDef(
    "q161_generated_column",
    """SELECT o_orderkey, o_totalprice,
      |  CAST(o_orderkey % 3000 AS BIGINT) AS bucket,
      |  CAST(1 AS INT) AS n_dirs_scanned, CAST(3 AS INT) AS n_data_dirs
      |FROM orders
      |WHERE o_orderkey % 3000 BETWEEN 1200 AND 1800""".stripMargin) { (s, dir) =>
    val io = new VersionedTableIO(builtRoot(s, dir))
    val (scanned, total) = io.pruneCounts("gen", "bucket", 1200, 1800)
    io.readPruned(s, "gen", "bucket", 1200, 1800)
      .withColumn("n_dirs_scanned", lit(scanned))
      .withColumn("n_data_dirs", lit(total))
  }

  /** STRING-column stats pruning: the `dt BETWEEN '2024-05-01' AND
    * '2024-08-31'` shape — lexicographic min/max per commit dir skips
    * the other two month ranges entirely (1 of 3 dirs scanned, the
    * contract columns). Oracle replays the date derivation and the
    * range. */
  val qStrPrune: QueryDef = QueryDef(
    "q162_string_pruning",
    """SELECT o_orderkey, o_totalprice,
      |  '2024-' || lpad(CAST(o_orderkey % 12 + 1 AS VARCHAR), 2, '0')
      |    || '-15' AS dt,
      |  CAST(1 AS INT) AS n_dirs_scanned, CAST(3 AS INT) AS n_data_dirs
      |FROM orders
      |WHERE o_orderkey % 12 + 1 BETWEEN 5 AND 8""".stripMargin) { (s, dir) =>
    val io = new VersionedTableIO(builtRoot(s, dir))
    val (scanned, total) =
      io.pruneCountsStr("prs", "dt", "2024-05-01", "2024-08-31")
    io.readPrunedStr(s, "prs", "dt", "2024-05-01", "2024-08-31")
      .withColumn("n_dirs_scanned", lit(scanned))
      .withColumn("n_data_dirs", lit(total))
  }

  val all: Seq[QueryDef] = Seq(qTimeTravel, qVersionedVacuum, qChangeFeed,
    qStatsPrune, qRestore, qVersionedDml, qCdfIncrementalGold,
    qStreamCdfGold, qManifestExport, qSchemaEvolution, qZorder,
    qClone, qMetaCount, qConstraints, qHistory, qOptimize,
    qDeletionVectors, qDvUpdate, qDvMerge, qStreamCdc, qGenerated,
    qStrPrune)
}
