package graft

import org.apache.spark.sql.SparkSession

/** One shared session for the whole forked test JVM, built by the
  * engine's factory so the suite runs the confs and extensions every
  * entrypoint runs. */
object SparkTestSession {
  lazy val spark: SparkSession = {
    // keep Derby's log out of the repo root (CatalogSpec side effect)
    System.setProperty("derby.stream.error.file", "target/derby.log")
    val s = graft.core.SessionFactory.builder("local[4]", Some(4))
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"

  /** A child of [[spark]] in plan-evidence mode ([[graft.core.Ckpt]]):
    * checkpoints are skipped, so a returned frame's plan shows the
    * whole lineage instead of a `Scan ExistingRDD` stub. */
  lazy val planEvidence: SparkSession = graft.core.SessionFactory.child(
    spark, Map("spark.graft.explain.noCheckpoint" -> "true"))
}
