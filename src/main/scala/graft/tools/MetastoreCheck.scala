package graft.tools

import org.apache.spark.sql.SparkSession

/** Persistent-catalog probe — proves which catalog guarantees survive a
  * METASTORE-BACKED session across JVMs (the reference shares a Hive
  * Metastore between Spark and Trino: trino/etc/catalog/
  * delta.properties:1-8, postgresscripts/init-metastore.sql; the
  * harness has no external metastore, so an embedded-derby one stands
  * in — same Hive catalog code path, file-backed instead of
  * Postgres-backed).
  *
  * Run once with `write` then once with `read` in SEPARATE JVMs
  * (catalogImplementation is a static conf — it cannot be flipped
  * inside the test JVM, which is why CatalogSpec forks this main):
  *
  *   runMain graft.tools.MetastoreCheck write <metastoreDir> <warehouseDir>
  *   runMain graft.tools.MetastoreCheck read  <metastoreDir> <warehouseDir>
  *
  * `write` registers a partitioned table + TBLPROPERTIES; `read`, in a
  * fresh JVM with NO prior knowledge of the table, must resolve it by
  * catalog name, see the properties, and prune partitions. Output
  * lines are machine-checked by CatalogSpec. */
object MetastoreCheck {

  private def session(metastoreDir: String, warehouseDir: String): SparkSession =
    graft.core.SessionFactory.builder("local[2]", Some(4))
      .config("spark.sql.warehouse.dir", warehouseDir)
      .config("javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=$metastoreDir/metastore_db;create=true")
      .enableHiveSupport()
      .getOrCreate()

  def main(args: Array[String]): Unit = {
    val Array(mode, metastoreDir, warehouseDir) = args
    val spark = session(metastoreDir, warehouseDir)
    try {
      mode match {
        case "write" =>
          import spark.implicits._
          spark.sql("CREATE DATABASE IF NOT EXISTS graft_ms")
          (1 to 100).map(i => (i.toLong, s"v$i", i % 4))
            .toDF("k", "v", "part")
            .write.mode("overwrite").partitionBy("part")
            .format("parquet").saveAsTable("graft_ms.t")
          spark.sql("ALTER TABLE graft_ms.t SET TBLPROPERTIES " +
            "('graft.layer'='silver')")
          println(s"WROTE ${spark.table("graft_ms.t").count()}")
        case "read" =>
          val t = spark.table("graft_ms.t")
          val pruned = t.filter(org.apache.spark.sql.functions.col("part") === 2)
          val planHasPruning = pruned.queryExecution.executedPlan.toString
            .contains("PartitionFilters: [isnotnull(part")
          val prop = spark.sql("SHOW TBLPROPERTIES graft_ms.t")
            .collect().map(r => r.getString(0) -> r.getString(1)).toMap
            .getOrElse("graft.layer", "MISSING")
          println(s"READ ${t.count()} pruned=${pruned.count()} " +
            s"prunedPlan=$planHasPruning prop=$prop")
      }
    } finally spark.stop()
  }
}
