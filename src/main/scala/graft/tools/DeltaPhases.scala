package graft.tools

import org.apache.spark.sql.functions._

/** Round-14 measurement tool: wall-clock per phase of the q209 CDF
  * cycle (append, delete, upsert, log replay, cdf read, snapshot read)
  * so the Delta-family driver overhead can be attributed: `state` is
  * the driver-side log replay alone, `snapshot+noop` the replay plus
  * the DV-masked scan. Measurement only.
  * Usage: runMain graft.tools.DeltaPhases [sfDir]
  */
object DeltaPhases {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.core.SessionFactory.build(s"local[$cpus]", Some(cpus))
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000000).selectExpr("sum(id)").collect()
    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"DP $label%-28s ${(System.nanoTime() - t0) / 1e9}%7.3f s")
      r
    }
    (0 until 2).foreach { round =>
      println(s"--- round $round ${if (round == 0) "(cold)" else "(warm)"}")
      val t0 = java.nio.file.Files.createTempDirectory("dp_cdf").toString
      val orders = graft.core.Tables.load(spark, sfDir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      t("append") { graft.ingest.DeltaLakeWrite.append(orders, t0,
        tableConfig = Map("delta.enableChangeDataFeed" -> "true")) }
      t("delete") { graft.ingest.DeltaLakeDml.delete(spark, t0,
        "o_orderkey % 10 = 3") }
      val src = orders.filter(col("o_orderkey") % 10 === 4)
        .withColumn("o_totalprice", col("o_totalprice") + 1000)
        .unionByName(orders.filter(col("o_orderkey") % 10 === 5)
          .withColumn("o_orderkey", col("o_orderkey") + 1000000000L))
      t("upsert") { graft.ingest.DeltaLakeDml.upsert(spark, t0, src,
        Seq("o_orderkey")) }
      t("state") { graft.ingest.DeltaLakeRead.state(spark, t0) }
      t("cdf-read+noop") {
        graft.ingest.DeltaLakeCdf.changes(spark, t0, 1L)
          .write.format("noop").mode("overwrite").save()
      }
      t("snapshot+noop") {
        graft.ingest.DeltaLakeRead.snapshot(spark, t0)
          .write.format("noop").mode("overwrite").save()
      }
    }
    spark.stop()
  }
}
