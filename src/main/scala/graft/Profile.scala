package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Deterministic per-query profile: job/stage/task counts, shuffle
  * bytes, spill, summed executor run/CPU time, and the generated
  * classes Janino compiled (`compiles`, `compileMs`: codegen-cache
  * misses, so a warm pass of a repeating query should compile next to
  * none). These metrics are stable across host-contention windows
  * (unlike wall-clock), so they are the optimization round's primary
  * before/after evidence. Below each query's totals it lists every
  * Spark job, slowest first, with its call site — which action inside
  * a multi-job operator (streaming drains, DML, the curation
  * pipelines' stages) actually costs.
  * Usage: runMain graft.Profile [sfDir] [queryName...]
  */
object Profile {
  /** One job of the profiled pass; times are listener-event ms. */
  final case class Job(site: String, submitMs: Long, endMs: Long = -1L,
      taskTimeMs: Long = 0L, inputBytes: Long = 0L, tasks: Int = 0) {
    def wallMs: Long = if (endMs >= submitMs) endMs - submitMs else -1L
  }

  final class M {
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val shufRead = new AtomicLong
    val shufWrite = new AtomicLong
    val spillDisk = new AtomicLong
    val runTimeMs = new AtomicLong
    val cpuTimeNs = new AtomicLong
    val inputBytes = new AtomicLong
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val sqlSites = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    def reset(): Unit = {
      stages.set(0); tasks.set(0); shufRead.set(0)
      shufWrite.set(0); spillDisk.set(0); runTimeMs.set(0); cpuTimeNs.set(0)
      inputBytes.set(0); jobs.clear(); stageToJob.clear()
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q100_curation_pipeline")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.core.SessionFactory.build(s"local[$cpus]", Some(cpus))
    spark.sparkContext.setLogLevel("ERROR")
    val m = new M
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        // a SQL job is named by its query's action call site (AQE runs
        // the query's stages as jobs on its own threads); any other job
        // by its result stage, which is created last
        val site = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(id => Option(m.sqlSites.get(id.toLong)))
          .orElse(j.stageInfos.maxByOption(_.stageId).map(_.name))
          .getOrElse("")
        m.jobs.put(j.jobId, Job(site, j.time))
        j.stageIds.foreach(sid => m.stageToJob.put(sid, j.jobId))
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          m.sqlSites.put(s.executionId, s.description); ()
        case _ =>
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        m.jobs.computeIfPresent(j.jobId, (_, job) => job.copy(endMs = j.time))
        ()
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        m.stages.incrementAndGet(); ()
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        m.tasks.incrementAndGet()
        val tm = t.taskMetrics
        if (tm != null) {
          m.shufRead.addAndGet(tm.shuffleReadMetrics.totalBytesRead)
          m.shufWrite.addAndGet(tm.shuffleWriteMetrics.bytesWritten)
          m.spillDisk.addAndGet(tm.diskBytesSpilled)
          m.runTimeMs.addAndGet(tm.executorRunTime)
          m.cpuTimeNs.addAndGet(tm.executorCpuTime)
          m.inputBytes.addAndGet(tm.inputMetrics.bytesRead)
          m.jobs.computeIfPresent(m.stageToJob.getOrDefault(t.stageId, -1),
            (_, job) => job.copy(
              taskTimeMs = job.taskTimeMs + tm.executorRunTime,
              inputBytes = job.inputBytes + tm.inputMetrics.bytesRead,
              tasks = job.tasks + 1))
        }
        ()
      }
    })
    // warm up JVM/codegen
    spark.range(1000000).selectExpr("sum(id)").collect()
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      // warm pass (C2, file listing, page cache)
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      Thread.sleep(200)
      m.reset()
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val compileNs0 = CodeGenerator.compileTime
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      val compileMs = (CodeGenerator.compileTime - compileNs0) / 1e6
      Thread.sleep(300) // let the listener bus deliver the last events
      import scala.jdk.CollectionConverters._
      val jobs = m.jobs.asScala.toSeq
      println(f"PROFILE $n%-32s wall=$wall%7.3f jobs=${jobs.size}%3d " +
        f"stages=${m.stages.get}%3d tasks=${m.tasks.get}%5d " +
        f"shufRead=${m.shufRead.get / 1e6}%9.2fMB " +
        f"shufWrite=${m.shufWrite.get / 1e6}%9.2fMB " +
        f"spill=${m.spillDisk.get / 1e6}%7.1fMB " +
        f"taskTime=${m.runTimeMs.get / 1e3}%8.2fs " +
        f"cpu=${m.cpuTimeNs.get / 1e9}%8.2fs " +
        f"input=${m.inputBytes.get / 1e6}%8.2fMB " +
        f"compiles=$compiles%4d compileMs=$compileMs%8.1f " +
        f"sumJobWall=${jobs.map(_._2.wallMs).filter(_ >= 0).sum / 1e3}%.3fs")
      jobs.sortBy { case (jid, j) => (-j.wallMs, jid) }.foreach {
        case (jid, j) =>
          println(f"  JOB $jid%4d wall=${j.wallMs / 1e3}%7.3f " +
            f"taskTime=${j.taskTimeMs / 1e3}%8.2fs tasks=${j.tasks}%4d " +
            f"input=${j.inputBytes / 1e6}%8.2fMB  ${j.site.take(110)}")
      }
    }
    spark.stop()
  }
}
