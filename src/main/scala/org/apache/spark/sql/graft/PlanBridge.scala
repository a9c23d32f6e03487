package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.LogicalRDD

/** Spark 4 moved Dataset.ofRows behind private[sql] (classic.Dataset);
  * the bridge exposes "DataFrame from a hand-built LogicalPlan" to the
  * engine's custom operators — same pattern as [[ColumnBridge]]. */
object PlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `RDD.unpersist` of a frame `localCheckpoint` made, less its warning
    * that the dropped blocks cannot be recomputed. */
  def release(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case r: LogicalRDD => releaseRdd(r.rdd)
  }

  /** [[release]] of the checkpointed RDD itself. */
  def releaseRdd(rdd: RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
