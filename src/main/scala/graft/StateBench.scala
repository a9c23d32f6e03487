package graft

import org.apache.spark.sql.functions._

/** Micro-bench for [[graft.ingest.DeltaLakeRead.state]]'s two file-
  * state paths: builds a synthetic N-add classic checkpoint (plus a
  * DV-update commit on top) and times driver replay (`off`) vs
  * executor reconciliation (`force`), asserting identical results.
  *
  * Usage: runMain graft.StateBench [nAdds] — prints one JSON line.
  * The fixture is metadata-only (no data files), so this measures
  * exactly the log-replay cost a million-file table pays per
  * snapshot. */
object StateBench {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(200000)
    val spark = graft.core.SessionFactory.build(
      s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]", Some(32))
    try {
      val t = java.nio.file.Files.createTempDirectory("statebench")
        .toFile
      val log = new java.io.File(t, "_delta_log"); log.mkdirs()
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.StringType)))
      val adds = spark.range(n).select(struct(
        concat_ws("", lit("part="), (col("id") % 64).cast("string"),
          lit("/f"), col("id").cast("string"), lit(".parquet"))
          .as("path"),
        map(lit("part"), (col("id") % 64).cast("string"))
          .as("partitionValues"),
        (col("id") + 1000).as("size"),
        col("id").as("modificationTime"),
        lit(true).as("dataChange")).as("add"))
      val meta = spark.sql(
        s"""SELECT named_struct('id', 'sb', 'format',
          named_struct('provider', 'parquet'),
          'schemaString', '${schema.json.replace("'", "\\'")}',
          'partitionColumns', array('part'),
          'configuration', map()) AS metaData,
          named_struct('minReaderVersion', 1, 'minWriterVersion', 2)
            AS protocol""")
      val tmp = java.nio.file.Files.createTempDirectory("sbcp").toFile
      adds.unionByName(meta.withColumn("add",
          lit(null).cast(adds.schema("add").dataType))
        .select("add", "metaData", "protocol"),
        allowMissingColumns = true)
        .coalesce(4).write.mode("overwrite").parquet(tmp.getPath)
      val parts = tmp.listFiles().filter(f =>
        f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      parts.zipWithIndex.foreach { case (f, i) =>
        java.nio.file.Files.move(f.toPath, new java.io.File(log,
          f"${0L}%020d.checkpoint.${i + 1}%010d.${parts.length}%010d.parquet")
          .toPath)
      }
      // one DV-update commit on top: replay must reconcile it
      java.nio.file.Files.write(
        new java.io.File(log, f"${1L}%020d.json").toPath,
        (Seq(
          """{"remove":{"path":"part=1/f1.parquet","deletionTimestamp":1,"dataChange":true}}""",
          """{"add":{"path":"part=1/f1.parquet","partitionValues":{"part":"1"},"size":1001,"modificationTime":1,"dataChange":true,"deletionVector":{"storageType":"u","pathOrInlineDv":"ab^-aaaaaaaaaaaaaaaa","offset":1,"sizeInBytes":40,"cardinality":6}}}""")
          .mkString("\n")).getBytes("UTF-8"))

      def time(mode: String): (Double, Int, Int) = {
        spark.conf.set("spark.graft.delta.distributedState", mode)
        try {
          val t0 = System.nanoTime()
          val st = graft.ingest.DeltaLakeRead.state(spark, t.getPath)
          val secs = (System.nanoTime() - t0) / 1e9
          (secs, st.files.size, st.tombstones.size)
        } finally {
          spark.conf.unset("spark.graft.delta.distributedState")
        }
      }
      // warm both paths once (codegen, parquet footer caches), then
      // measure min-of-2
      time("off"); time("force")
      val offs = Seq(time("off"), time("off"))
      val forces = Seq(time("force"), time("force"))
      val off = offs.minBy(_._1); val force = forces.minBy(_._1)
      require(off._2 == force._2 && off._3 == force._3,
        s"path divergence: $off vs $force")
      require(off._2 == n, s"expected $n files, got ${off._2}")
      println(s"""{"metric":"state_bench","n_adds":$n,""" +
        s""""driver_sec":${off._1},"distributed_sec":${force._1},""" +
        s""""files":${off._2},"tombstones":${off._3}}""")
    } finally spark.stop()
  }
}
