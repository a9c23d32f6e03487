package graft.tools

import org.apache.spark.sql.streaming.Trigger

/** Round-14/15 measurement tool: where does the fixed per-query
  * streaming-machinery cost go? Times minimal AvailableNow drains in
  * several configurations (stateful vs stateless, shuffle-partition
  * counts, candidate session confs) and prints the per-micro-batch
  * durationMs breakdown (triggerExecution, addBatch, walCommit,
  * commitOffsets, queryPlanning, getBatch, latestOffset) from the
  * progress events, so the fixed cost is attributed to a phase rather
  * than guessed at. Measurement only — not a query path.
  * Usage: runMain graft.tools.StreamOverhead
  */
object StreamOverhead {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.core.SessionFactory.build(s"local[$cpus]", Some(cpus))
    spark.sparkContext.setLogLevel("ERROR")
    val combo = graft.core.SessionFactory.drainConfs
    // the factory sets these drain confs; the "default" runs measure
    // Spark's own defaults, so the session starts without them
    combo.keys.foreach(spark.conf.unset)
    val tmp = java.nio.file.Files.createTempDirectory("so").toString
    spark.range(10).toDF("v").write.parquet(s"$tmp/in")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.LongType)))

    var n = 0
    def run(label: String, stateful: Boolean,
        confs: Map[String, String] = Map.empty,
        breakdown: Boolean = false): Unit = {
      n += 1
      val prev = confs.keys.map(k =>
        k -> scala.util.Try(spark.conf.get(k)).toOption).toMap
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val t0 = System.nanoTime()
      val src = spark.readStream.schema(schema).parquet(s"$tmp/in")
      val q = (if (stateful) src.groupBy().count() else src)
      val sink = s"so_sink_$n"
      val st = q.writeStream.format("memory").queryName(sink)
        .outputMode(if (stateful) "complete" else "append")
        .option("checkpointLocation", s"$tmp/ck$n")
        .trigger(Trigger.AvailableNow()).start()
      st.awaitTermination()
      val el = (System.nanoTime() - t0) / 1e9
      println(f"SO $label%-46s $el%7.3f s")
      if (breakdown) {
        st.recentProgress.foreach { p =>
          val d = p.durationMs
          import scala.jdk.CollectionConverters._
          val parts = d.asScala.toSeq.sortBy(-_._2)
            .map { case (k, v) => s"$k=$v" }.mkString(" ")
          println(s"SO   batch=${p.batchId} rows=${p.numInputRows} $parts")
        }
      }
      spark.catalog.dropTempView(sink)
      confs.keys.foreach { k =>
        prev(k) match {
          case Some(v) => spark.conf.set(k, v)
          case None => spark.conf.unset(k)
        }
      }
    }
    // watermarked complete-mode aggregation — the q36/q37 shape: the
    // watermark advance after the data batch schedules a NO-DATA batch
    // whose complete-mode re-emission doubles the machinery cost
    def runWm(label: String, confs: Map[String, String] = Map.empty,
        breakdown: Boolean = false): Unit = {
      n += 1
      val prev = confs.keys.map(k =>
        k -> scala.util.Try(spark.conf.get(k)).toOption).toMap
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val t0 = System.nanoTime()
      val src = spark.readStream.schema(schema).parquet(s"$tmp/in")
        .withColumn("ts",
          org.apache.spark.sql.functions.timestamp_seconds(
            org.apache.spark.sql.functions.col("v")))
        .withWatermark("ts", "1 hour")
      val q = src.groupBy(org.apache.spark.sql.functions.window(
          org.apache.spark.sql.functions.col("ts"), "10 seconds"))
        .count()
      val sink = s"so_sink_$n"
      val st = q.writeStream.format("memory").queryName(sink)
        .outputMode("complete")
        .option("checkpointLocation", s"$tmp/ck$n")
        .trigger(Trigger.AvailableNow()).start()
      st.awaitTermination()
      val el = (System.nanoTime() - t0) / 1e9
      println(f"SO $label%-46s $el%7.3f s  batches=${st.recentProgress.length}")
      if (breakdown) {
        st.recentProgress.foreach { p =>
          val d = p.durationMs
          import scala.jdk.CollectionConverters._
          val parts = d.asScala.toSeq.sortBy(-_._2)
            .map { case (k, v) => s"$k=$v" }.mkString(" ")
          println(s"SO   batch=${p.batchId} rows=${p.numInputRows} $parts")
        }
      }
      spark.catalog.dropTempView(sink)
      confs.keys.foreach { k =>
        prev(k) match {
          case Some(v) => spark.conf.set(k, v)
          case None => spark.conf.unset(k)
        }
      }
    }
    // warm-up (classloading)
    run("warmup (stateful, 32 parts)", stateful = true)
    run("stateful, default parts", stateful = true, breakdown = true)
    run("stateful, default parts (again)", stateful = true, breakdown = true)
    run("stateless", stateful = false, breakdown = true)
    run("stateless (again)", stateful = false, breakdown = true)
    runWm("watermark complete, default", breakdown = true)
    runWm("watermark complete, default (again)")
    val noNoData = Map(
      "spark.sql.streaming.noDataMicroBatches.enabled" -> "false")
    runWm("watermark complete, noDataBatches=off", confs = noNoData,
      breakdown = true)
    runWm("watermark complete, noDataBatches=off (again)", confs = noNoData)
    run("stateful, noDataMicroBatches=false", stateful = true,
      confs = noNoData, breakdown = true)
    run("stateful, combo confs", stateful = true, confs = combo)
    run("stateful, combo confs (again)", stateful = true, confs = combo)
    runWm("watermark complete, combo", confs = combo)
    runWm("watermark complete, combo (again)", confs = combo)
    spark.stop()
  }
}
