package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** The Spark jobs a block submits, from any thread (stream threads
  * included), named by their result stage: `site` is the short call
  * site (`parquet at TableIO.scala:58`), `stack` the long one, whose
  * frames name the engine method that submitted the job. */
object JobLog {
  final case class Job(site: String, stack: String)

  def during(spark: SparkSession)(body: => Unit): Seq[Job] = {
    val jobs = new ConcurrentLinkedQueue[Job]()
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val last = j.stageInfos.maxByOption(_.stageId)
        jobs.add(Job(last.fold("")(_.name), last.fold("")(_.details)))
        ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      // the listener bus is asynchronous: wait for it to go quiet
      var prev = -1; var spins = 0
      while (prev != jobs.size && spins < 20) {
        prev = jobs.size; Thread.sleep(100); spins += 1
      }
    } finally spark.sparkContext.removeSparkListener(l)
    jobs.asScala.toSeq
  }
}
