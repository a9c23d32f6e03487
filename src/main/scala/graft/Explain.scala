package graft

/** Plan-inspection tool: prints the formatted physical plan for the
  * named queries (or a default set of scale-critical ones) so pushdown,
  * broadcast choices and WholeStageCodegen spans can be reviewed.
  * Usage: runMain graft.Explain [--full] [sfDir] [queryName...]
  *
  * `--full` sets `spark.graft.explain.noCheckpoint=true` so the
  * composed pipelines' `localCheckpoint` boundaries ([[graft.core.Ckpt]])
  * do NOT sever the plan into a `Scan ExistingRDD` stub — the dumped
  * tree then shows the real upstream operators (scans, joins,
  * aggregates) those queries execute stage by stage. Evidence mode
  * only; production runs keep the checkpoints.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val full = args.headOption.contains("--full")
    val rest = if (full) args.drop(1) else args
    val sfDir = rest.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (rest.length > 1) rest.drop(1).toSeq
      else Seq("q1_kpi_agg", "q2_star_join", "q9_watermark_join",
        "q14_collect_capped", "q40_dedup_exact", "q44_ann_cosine")
    val spark = graft.core.SessionFactory.build("local[4]", Some(4))
    spark.sparkContext.setLogLevel("ERROR")
    if (full) spark.conf.set("spark.graft.explain.noCheckpoint", "true")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
