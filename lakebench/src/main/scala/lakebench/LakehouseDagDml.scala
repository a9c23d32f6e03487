package lakebench

import org.apache.spark.sql.SparkSession

/** The lakehouse's table work in one closed loop: each cycle runs the
  * medallion DAG over its days, then the Delta DML mix. The two share
  * a session the way one orchestrator's tasks do, and neither touches
  * the corpus operators or the custom kernels. */
final class LakehouseDagDml(dag: MedallionDag, dml: DeltaDmlMix) extends Workload {
  def generate(seed: Long): Unit = { dag.generate(seed); dml.generate(seed) }

  override def bootstrap(spark: SparkSession): Unit = dml.bootstrap(spark)

  def warmUp(spark: SparkSession, tracer: Tracer): Unit = {
    dag.warmUp(spark, tracer)
    dml.warmUp(spark, tracer)
  }

  def cycle(spark: SparkSession, tracer: Tracer): Seq[Op] =
    dag.cycle(spark, tracer) ++ dml.cycle(spark, tracer)

  def cycleSeconds: Double = 20.0
  def jobKinds: Set[String] = Set("backfill", "incremental", "noop")
  def callKinds: Set[String] = dml.kinds

  def summarize(spark: SparkSession, ops: Seq[Op]): Summary = {
    val a = dag.summarize(spark, ops)
    val b = dml.summarize(spark, ops)
    Summary(a.opMetrics ++ b.opMetrics, a.layerMetrics ++ b.layerMetrics)
  }
}
