package lakebench

import org.apache.spark.LakebenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Per-layer call spans measured from outside the engine.
  *
  * Jobs are attributed to a span by the time they were submitted, not by
  * job group or job tag: `core.Overlap`'s pooled threads and streaming
  * query threads do not carry the caller's local properties, so only the
  * submission time ties their jobs to the call that caused them. The
  * benchmark runs one client at a time, so at most one span is open.
  *
  * A disabled tracer registers no listener and records nothing: `span`
  * only runs its body. */
final class Tracer(spark: SparkSession, enabled: Boolean) {
  import Tracer._

  private final class JobRec(val start: Long) {
    var end: Long = -1L
    var tasks = 0L
    var cpuNs = 0L
    var runMs = 0L
    var shuffleBytes = 0L
  }

  private val jobs = mutable.Map[Int, JobRec]()
  private val stageJob = mutable.Map[Int, Int]()
  private val totals = mutable.LinkedHashMap[String, Counters]()
  /** Spans closed while false are measured and dropped (warm-up). */
  var recording = true

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
      jobs(e.jobId) = new JobRec(e.time)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = jobs.synchronized {
      for (id <- stageJob.get(e.stageId); j <- jobs.get(id)) {
        j.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          j.cpuNs += m.executorCpuTime
          j.runMs += m.executorRunTime
          j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        }
      }
    }
  }
  if (enabled) spark.sparkContext.addSparkListener(listener)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val t0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      try body
      finally {
        val wall = (System.nanoTime() - n0) / 1e9
        LakebenchBus.drain(spark.sparkContext)
        close(name, t0, System.currentTimeMillis(), wall)
      }
    }

  private def close(name: String, t0: Long, t1: Long, wall: Double): Unit = {
    val mine = jobs.synchronized {
      val done = jobs.filter(_._2.start <= t1).toSeq
      done.foreach { case (id, _) => jobs.remove(id) }
      val ids = done.map(_._1).toSet
      stageJob.filterInPlace((_, j) => !ids.contains(j))
      done.map(_._2).filter(_.start >= t0)
    }
    if (recording) {
      // union of the job intervals, clipped to the span
      val iv = mine.map(j => (math.max(j.start, t0),
          math.min(if (j.end < 0) t1 else j.end, t1)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curS = -1L
      var curE = -1L
      iv.foreach { case (a, b) =>
        if (a > curE) { covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      covered += curE - curS
      val c = totals.getOrElseUpdate(name, new Counters)
      c.calls += 1
      c.wall += wall
      c.driverOnly += math.max(0.0, wall - covered / 1e3)
      c.jobs += mine.size
      c.tasks += mine.map(_.tasks).sum
      c.cpu += mine.map(_.cpuNs).sum / 1e9
      c.waitS += mine.map(j => math.max(0.0, j.runMs / 1e3 - j.cpuNs / 1e9)).sum
      c.shuffle += mine.map(_.shuffleBytes).sum
    }
  }

  /** Counters of every span name, zero for a span this run never
    * called (the layer is not on this workload's path). */
  def metrics(spanNames: Seq[String]): Seq[Metric] =
    spanNames.flatMap { n =>
      val c = totals.getOrElse(n, new Counters)
      Seq(
        Metric(s"$n.wall_s", c.wall, "s"),
        Metric(s"$n.driver_only_s", c.driverOnly, "s"),
        Metric(s"$n.jobs", c.jobs.toDouble, "count"),
        Metric(s"$n.tasks", c.tasks.toDouble, "count"),
        Metric(s"$n.task_cpu_s", c.cpu, "s"),
        Metric(s"$n.task_wait_s", c.waitS, "s"),
        Metric(s"$n.shuffle_bytes", c.shuffle.toDouble, "B"))
    }

  def spanWall(spanNames: Seq[String]): Double =
    spanNames.flatMap(totals.get).map(_.wall).sum

  /** (span, calls, driver-only s, wall s), most driver-only first. */
  def topDriverOnly: Seq[(String, Long, Double, Double)] =
    totals.toSeq.map { case (n, c) => (n, c.calls, c.driverOnly, c.wall) }
      .sortBy(-_._3)
}

object Tracer {
  final class Counters {
    var calls = 0L
    var wall = 0.0
    var driverOnly = 0.0
    var jobs = 0L
    var tasks = 0L
    var cpu = 0.0
    var waitS = 0.0
    var shuffle = 0L
  }

  /** Every span the benchmark records, in workload order. */
  val Spans: Seq[String] = Seq(
    "pipeline.Medallion.runBronze",
    "pipeline.Medallion.runSilver",
    "pipeline.Medallion.runGold",
    "dq.AuditRunner.runAll",
    "dq.AlertRenderer.renderReport",
    "scale.Curation.curateV2",
    "scale.Retrieval.bm25Queries",
    "scale.Similarity.ivfTopK",
    "ingest.DeltaLakeWrite.append",
    "ingest.DeltaLakeDml.upsert",
    "ingest.DeltaLakeDml.delete",
    "ingest.DeltaLakeRead.snapshot",
    "ingest.DeltaLakeCdf.changes",
    "ingest.DeltaLakeMaintain.compact")
}
