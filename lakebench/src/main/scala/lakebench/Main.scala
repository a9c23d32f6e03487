package lakebench

import graft.core.SessionFactory
import org.apache.spark.sql.SparkSession

import java.io.File
import java.util.Locale
import scala.collection.mutable

final case class Metric(name: String, value: Double, unit: String)

/** One call the client waited for, and whether its output checked out. */
final case class Op(kind: String, seconds: Double, ok: Boolean)

/** A workload's own named end-to-end figures (printed, not gated) and
  * per-layer figures, from its timed ops. */
final case class Summary(opMetrics: Seq[Metric], layerMetrics: Seq[Metric])

/** A workload: inputs made from the seed, a fixed sequence of ops
  * against the engine's public functions, output checks against the
  * generator's ground truth. */
trait Workload {
  /** Untimed: make the inputs from the seed. */
  def generate(seed: Long): Unit
  /** Timed as set-up: whatever state the first cycle needs, built fresh
    * on every call. */
  def bootstrap(spark: SparkSession): Unit = ()
  /** Untimed and not recorded: lets JIT and lazy engine state settle. */
  def warmUp(spark: SparkSession, tracer: Tracer): Unit
  /** One pass over the fixed op sequence. */
  def cycle(spark: SparkSession, tracer: Tracer): Seq[Op]
  /** About how long one cycle takes on a 4-core host. A run of `s`
    * seconds runs round(s / cycleSeconds) whole cycles: every run of
    * one program replays the same op history, however fast it goes. */
  def cycleSeconds: Double
  def summarize(spark: SparkSession, ops: Seq[Op]): Summary
  /** The workload's batch jobs (their rate is `jobs_per_s`) and its
    * short calls (`calls_per_s`), by op kind. */
  def jobKinds: Set[String]
  def callKinds: Set[String]
  /** Per-layer figures that need extra untimed work (traced runs). */
  def layerExtras(spark: SparkSession): Seq[Metric] = Nil
}

object Main {
  val SetupReps = 5

  /** Per-layer figures besides the call spans, with their units. */
  val LayerFigures: Seq[(String, String)] = Seq(
    "functions.minhash.rows_per_s" -> "1/s",
    "functions.simhash.rows_per_s" -> "1/s",
    "functions.quality.rows_per_s" -> "1/s",
    "functions.cosine.rows_per_s" -> "1/s",
    "scale.lsh.candidate_precision" -> "ratio",
    "scale.ivf.recall_at_10" -> "ratio",
    "ingest.delta.files_changed_per_op" -> "files/op",
    "ingest.delta.log_entries" -> "count",
    "ingest.delta.disk_bytes_per_live_byte" -> "ratio")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def opt(k: String) = opts.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    val name = opt("--workload")
    val seed = opt("--seed").toLong
    val seconds = opt("--seconds").toDouble
    val trace = opt("--trace") == "1"
    val work = new File(opt("--work"))
    // one core is left to the driver thread, JIT and GC: the driver-bound
    // workloads are otherwise at the mercy of their scheduling
    val cores = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors() - 1))
    val master = s"local[$cores]"

    val wl: Workload = name match {
      case "lakehouse_dag_dml" => new LakehouseDagDml(
        new MedallionDag(new File(work, "medallion")),
        new DeltaDmlMix(new File(work, "delta")))
      case "corpus_curation" => new CorpusCuration(new File(work, "corpus"))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val canary = Stats.cpuCanary()
    var mark = System.nanoTime()
    def phase(what: String): Unit = {
      val now = System.nanoTime()
      System.err.println(f"lakebench: $what took ${(now - mark) / 1e9}%.1f s")
      mark = now
    }
    wl.generate(seed)
    phase("generate")

    // set-up: the session from the engine's factory (cores-sized shuffle
    // partitions, as every engine entrypoint runs) plus the workload's
    // starting state, several times; the last session is kept
    val setups = mutable.Buffer[Double]()
    var spark: SparkSession = null
    (1 to SetupReps).foreach { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = SessionFactory.build(master, shufflePartitions = Some(cores))
      wl.bootstrap(spark)
      setups += (System.nanoTime() - t0) / 1e9
    }
    phase("set-up")

    val tracer = new Tracer(spark, trace)
    tracer.recording = false
    wl.warmUp(spark, tracer)
    tracer.recording = true
    phase("warm-up")

    val cycles = math.max(1, math.round(seconds / wl.cycleSeconds).toInt)
    val steal0 = Stats.stealS()
    val ops = (1 to cycles).flatMap(_ => wl.cycle(spark, tracer))
    val steal = Stats.stealS() - steal0
    phase("timed loop")
    val res = wl.summarize(spark, ops)
    val extras = if (trace) wl.layerExtras(spark) else Nil
    spark.stop()
    phase("extras and stop")

    val times = ops.map(_.seconds)
    val failed = ops.count(!_.ok)
    val opWall = times.sum
    val jobs = ops.filter(o => wl.jobKinds(o.kind)).map(_.seconds).toSeq
    val calls = ops.filter(o => wl.callKinds(o.kind)).map(_.seconds).toSeq
    val (jobTail, jobTailPct) = Stats.tail(jobs)
    def rate(xs: Seq[Double]) = if (xs.nonEmpty) xs.size / xs.sum else 0.0
    // rates, not medians, are gated: a run holds few jobs, and their
    // mean moves less from run to run than their median
    val e2e = Seq(
      Metric("setup_s", Stats.median(setups.toSeq), "s"),
      Metric("jobs_per_s", rate(jobs), "1/s"),
      Metric("calls_per_s", rate(calls), "1/s"))
    // every per-layer figure in every run: zero where this workload does
    // not reach the layer
    val found = (res.layerMetrics ++ extras).map(m => m.name -> m).toMap
    val layer = tracer.metrics(Tracer.Spans) ++ LayerFigures.map { case (n, u) =>
      found.getOrElse(n, Metric(n, 0.0, u))
    } ++ Seq(
      Metric("bench.span_coverage",
        if (opWall > 0) tracer.spanWall(Tracer.Spans) / opWall else 0.0, "ratio")) ++
      e2e.tail.map(m => m.copy(name = s"traced.${m.name}"))

    val detail = Seq(
      "workload" -> Json.str(name), "seed" -> seed.toString,
      "master" -> Json.str(master), "trace" -> trace.toString,
      "cpu_canary_s" -> Json.num(canary),
      "cpu_steal_s" -> Json.num(steal),
      "ops" -> times.size.toString, "failed_ops_frac" ->
        Json.num(if (ops.isEmpty) 0.0 else failed.toDouble / ops.size),
      "jobs" -> jobs.size.toString,
      "job_p50_s" -> Json.num(Stats.median(jobs)),
      "job_tail_s" -> Json.num(jobTail),
      "job_tail_pct" -> Json.num(jobTailPct),
      "calls" -> calls.size.toString,
      "ops_per_s" -> Json.num(rate(times)),
      "rss_peak_mb" -> Json.num(Stats.rssPeakMb()),
      "setup_samples_s" -> setups.map(Json.num).mkString("[", ",", "]"),
      "cycles" -> cycles.toString,
      "op_s" -> Json.obj(ops.groupBy(_.kind).toSeq
        .sortBy(_._1).map { case (k, os) =>
          k -> os.map(o => Json.num(o.seconds)).mkString("[", ",", "]") }),
      "workload_metrics" -> Json.metrics(res.opMetrics),
      "top_driver_only_spans" -> tracer.topDriverOnly.take(10).map {
        case (n, calls, d, w) =>
          s"[${Json.str(n)},$calls,${Json.num(d)},${Json.num(w)}]"
      }.mkString("[", ",", "]"))
    println("lakebench " + Json.obj(detail))
    val correct = failed == 0 && times.nonEmpty
    println(Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> math.max(1, ops.size).toString,
      "failed" -> (if (ops.isEmpty) 1 else failed).toString,
      "metrics" -> Json.metrics(if (trace) layer else e2e))))
  }
}

object Json {
  def str(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else String.format(Locale.ROOT, "%.9g", Double.box(d))
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def metrics(ms: Seq[Metric]): String =
    obj(ms.map(m => m.name -> obj(Seq("value" -> num(m.value), "unit" -> str(m.unit)))))
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The highest percentile with at least 10 samples beyond it, and
    * that percentile; below 11 samples, the maximum (100). */
  def tail(xs: Seq[Double]): (Double, Double) =
    if (xs.isEmpty) (0.0, 0.0)
    else {
      val s = xs.sorted
      val n = s.size
      if (n < 11) (s.last, 100.0) else (s(n - 11), 100.0 * (n - 10) / n)
    }

  /** Peak resident set of this JVM, from the kernel. */
  def rssPeakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  /** CPU time the hypervisor gave to other guests, in seconds summed
    * over cores, from the kernel's counters (0 where they are absent): a
    * label for a noisy host, never used to scale results. */
  def stealS(): Double = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().trim.split("\\s+")(8).toDouble / 100
    finally src.close()
  }.getOrElse(0.0)

  /** A fixed CPU task, timed: a label for the host's speed during the
    * run, never used to scale results. */
  def cpuCanary(): Double = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = new Array[Byte](1 << 20)
    val t0 = System.nanoTime()
    var i = 0
    while (i < 64) { md.update(buf); buf(i) = md.digest()(0); i += 1 }
    (System.nanoTime() - t0) / 1e9
  }
}

object Files {
  /** Bytes under `f`, recursively. */
  def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(du).sum).getOrElse(0L)
    else f.length()

  def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
  }
}
