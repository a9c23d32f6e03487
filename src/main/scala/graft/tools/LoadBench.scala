package graft.tools

/** Round-14 measurement: per-call cost of Tables.load (footer/schema
  * read + file listing + reader resolution). Measurement only. */
object LoadBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.core.SessionFactory.build("local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    // warm
    (0 until 5).foreach(_ => graft.core.Tables.load(spark, sfDir, "lineitem"))
    val t0 = System.nanoTime()
    val n = 200
    (0 until n).foreach { _ =>
      graft.core.Tables.load(spark, sfDir, "lineitem")
      graft.core.Tables.load(spark, sfDir, "documents")
    }
    val el = (System.nanoTime() - t0) / 1e9
    println(f"LB ${2 * n} loads in $el%.3f s = ${el / (2 * n) * 1000}%.2f ms/load")
    spark.stop()
  }
}
