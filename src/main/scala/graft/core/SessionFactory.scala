package graft.core

import graft.functions.RollingHashExpr
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import scala.collection.concurrent.TrieMap

/** The engine's one session constructor (SURVEY §7 core/): every main,
  * lakebench and the test suite build their session here, so
  * the plans the oracle gates are the plans the bench times. Each conf,
  * and why:
  *
  *  - `spark.sql.session.timeZone=UTC`: timestamp parsing, `date_trunc`
  *    and the oracle's DuckDB compare all assume UTC; a host-zone
  *    session shifts every timestamp-derived key.
  *  - `spark.ui.enabled=false`: no driver web server or its per-job
  *    status bookkeeping; nothing reads it (SQL metrics come from the
  *    status store, which works with the UI off).
  *  - [[GraftExtensions]]: `rolling_hash` in SQL and the AsOfJoin
  *    planner strategy, injected once at construction.
  *  - `spark.sql.optimizer.canChangeCachedPlanOutputPartitioning=true`:
  *    applies AQE to cached plans. Spark 4 defaults it to
  *    false only for cached-partitioning stability, which nothing here
  *    relies on: [[graft.ingest.SurrogateId.attachDistributed]] (behind
  *    Delta identity columns) is the one partition-sensitive op, and it
  *    persists an RDD, which this conf does not touch. Without it every
  *    cached frame materializes at the static shuffle-partition count
  *    and its consumers inherit that fan-out; with it the cache adopts
  *    AQE-coalesced partitioning. Measured at sf0.1: q130 taskTime
  *    91 s → 6.9 s, q100 30 s → 3.2 s.
  *  - `spark.sql.codegen.cache.maxEntries=4096`: the JVM-wide LRU
  *    cache of Janino-compiled generated classes. At Spark's default
  *    of 100 a repeating workload misses on almost every lookup: one
  *    `curateV2` pass alone generates about 200 classes, and Bench's
  *    three passes over the 211 queries at sf0.01 compiled 3,957,
  *    3,664 and 3,661 classes. At 4096 they compile 2,744, 274 and
  *    196: the first pass is the working set, and the warm passes'
  *    residue is code that inlines per-call values as literals (BM25's
  *    corpus statistics, `current_timestamp()`, DML predicates) or an
  *    AQE plan variant. Those one-off classes age out first, because
  *    every pass touches the stable set. Retention with ~3,000 entries
  *    against 100 (full-GC class histogram after Bench's second pass):
  *    about 80 MB more heap, mostly byte arrays (the generated source
  *    the cache keys hold, the class bytes their loaders keep), and
  *    20 MB more metaspace. The conf is static and the cache
  *    is sized once, when `CodeGenerator` first loads, so it is set
  *    here, before the first session exists.
  *  - `spark.hadoop.fs.file.impl` and
  *    `spark.hadoop.fs.AbstractFileSystem.file.impl`: `file:` resolves
  *    to [[LocalFs]], Hadoop's checksummed local filesystem for the
  *    `FileSystem` and the `FileContext` API with its two forking calls
  *    answered through `java.nio`. Without libhadoop (none ships with
  *    the Spark distribution), stock Hadoop starts a `chmod` process for
  *    every mkdir and file create, `.crc` side files included, and two
  *    `readlink`s for every `FileContext.rename`, which is how Spark's
  *    checkpoint file manager commits each offset, commit, source and
  *    state file. One 18 s `lakehouse_dag_dml` lakebench run started
  *    632 processes with the stock classes (480 `chmod`, 136
  *    `readlink`) and 17 with these, all Spark's own: `rm -rf` of its
  *    temp dirs at stop, one `setsid` probe and one `getconf`
  *    (`tools/bench_local_fs.json`). Modes, `.crc` files and rename
  *    semantics are stock (`LocalFsSpec` compares them call for call);
  *    other schemes keep their own filesystems. Caveat: Hadoop caches
  *    one `file:` `FileSystem` per JVM, keyed without its conf, so one
  *    resolved before the first session exists (a `FileSystem.get`
  *    over a bare `Configuration`) stays the stock class for that
  *    JVM's life; `FileContext` resolves per call and always binds.
  *  - `spark.sql.parquet.fieldId.read.enabled=true`: Delta tables in
  *    column-mapping `id` mode resolve parquet columns by field id
  *    ([[graft.ingest.DeltaLakeRead]]). Spark's field-id matching only
  *    engages for read schemas that carry `parquet.field.id` metadata,
  *    and only that reader's id-mode schemas do, so every other read
  *    resolves by name exactly as before. A session conf, not a
  *    per-read switch, so no read changes the session it runs on.
  *  - `spark.sql.parquet.fieldId.write.enabled=true`: the writer half
  *    of the same handle. Staging writes for an id-mode table put
  *    `parquet.field.id` into the file footers, which is what id-mode
  *    readers resolve by ([[graft.ingest.DeltaLakeWrite.toPhysical]]).
  *    Spark 4.1 already defaults it to true; pinning it here keeps the
  *    guarantee without a save-and-restore around every id-mode write.
  *    It engages only for write schemas that carry the metadata.
  *  - `spark.sql.legacy.parquet.nanosAsLong=true`: `events.parquet`
  *    has shipped with a TIMESTAMP(NANOS) `ts`, which Spark's
  *    vectorized reader rejects outright; with this conf it surfaces
  *    as LONG and [[Tables]] converts it. It affects only NANOS-typed
  *    columns, and it must be live at physical-planning time, not only
  *    while the frame is built, so it is a session conf.
  *  - `spark.sql.streaming.noDataMicroBatches.enabled=false`,
  *    `spark.sql.streaming.stateStore.maintenanceInterval=1h` and
  *    `spark.sql.streaming.minBatchesToRetain=2`: every stream the
  *    engine starts is a `Trigger.AvailableNow` drain (`.start()` then
  *    `awaitTermination()`): start, consume the backlog, stop.
  *    Three long-lived-query defaults are pure overhead in that shape
  *    (measured with `tools/StreamOverhead`: stateful drain
  *    0.92 → 0.64 s, watermarked complete shape 1.54 → 1.33 s):
  *     - the trailing zero-row batch exists to let watermark-gated
  *       operators emit or evict with no new data. Every operator the
  *       engine drains emits its rows in DATA batches (foreachBatch
  *       sinks guard on empty batches; complete-mode aggregation
  *       re-emits the full result each batch; stream-stream inner
  *       joins emit at match time; flatMapGroupsWithState and
  *       dropDuplicatesWithinWatermark emit on first sight), so the
  *       no-data batch only evicts state, which the next drain's first
  *       data batch does identically from the persisted watermark. No
  *       append-mode watermarked aggregation exists in the engine; that
  *       shape would NOT be drain-safe, so one must not be added
  *       without revisiting this conf;
  *     - background snapshot and cleanup threads are for day-long
  *       queries; a drain's state is final at its last commit, and the
  *       next drain restores from the delta files;
  *     - checkpoint GC breadth is not correctness: a restart only
  *       needs the last committed batch (+1 in flight).
  *
  *    None of these is a local-mode tuning: they remove fixed
  *    per-query machinery that costs the same on a 1000-core cluster.
  *  - `spark.sql.shuffle.partitions`, when given: callers size it to
  *    their core count so every core gets one shuffle task wave (the
  *    200 default made one curateV2 pass take 36 s on 4 cores).
  *
  * AQE and its skew-join handling are on by default in Spark 4. The
  * reference's corrupt/missing-file tolerance
  * (transform_into_delta.py:42-43) is NOT session-wide: it would let a
  * table snapshot silently drop a damaged or vanished data file, so it
  * rides only the landing-zone readers ([[graft.ingest.Readers]],
  * [[graft.stream.StreamIngest]]).
  */
object SessionFactory {

  /** The three drain confs above; `tools/StreamOverhead` measures
    * against them. */
  private[graft] val drainConfs = Map(
    "spark.sql.streaming.noDataMicroBatches.enabled" -> "false",
    "spark.sql.streaming.stateStore.maintenanceInterval" -> "1h",
    "spark.sql.streaming.minBatchesToRetain" -> "2")

  /** The runtime SQL confs above. */
  private val runtimeConfs = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.sql.parquet.fieldId.read.enabled" -> "true",
    "spark.sql.parquet.fieldId.write.enabled" -> "true",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true") ++ drainConfs

  /** The factory's builder, for callers that must add static
    * deployment confs (warehouse dir, Hive catalog) before the session
    * exists. Runtime SQL confs a single tool needs go through
    * `spark.conf.set` after [[build]] instead; library code never sets
    * one (it uses [[child]]). */
  def builder(master: String,
      shufflePartitions: Option[Int] = None): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(master)
      .withExtensions(new GraftExtensions)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.hadoop.fs.file.impl", classOf[LocalFs].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[LocalFs.Context].getName)
    runtimeConfs.foreach { case (k, v) => b.config(k, v) }
    shufflePartitions.foreach(n =>
      b.config("spark.sql.shuffle.partitions", n.toString))
    b
  }

  /** Children by parent session, then by overrides. Weak in the parent,
    * like [[Tables]]' memo; a child does not reference its parent. */
  private val children = new java.util.WeakHashMap[SparkSession,
    TrieMap[Map[String, String], SparkSession]]()

  /** A session on `spark`'s context (shared cache and catalog of
    * tables, its own temp views) running under `spark`'s runtime confs
    * as they are now, then `overrides`. The one way library code runs a
    * plan under different runtime confs without changing the caller's
    * session. One child per parent and overrides, reused: each session
    * that starts a stream adds a listener bus to the context for good. */
  def child(spark: SparkSession,
      overrides: Map[String, String]): SparkSession = {
    val c = children.synchronized(
      children.computeIfAbsent(spark, _ => TrieMap.empty))
      .getOrElseUpdate(overrides, spark.newSession())
    val want = spark.conf.getAll ++ overrides
    (c.conf.getAll.keySet -- want.keySet).foreach(c.conf.unset)
    want.foreach { case (k, v) =>
      if (!c.conf.getOption(k).contains(v)) c.conf.set(k, v)
    }
    c
  }

  def build(master: String,
      shufflePartitions: Option[Int] = None): SparkSession = {
    val s = builder(master, shufflePartitions).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** SparkSessionExtensions hook — the registration path for the
  * engine's custom Catalyst work (builder-prompt case (c)): today one
  * codegen expression exposed to SQL; optimizer rules / planner
  * strategies plug in at the same point. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((new FunctionIdentifier("rolling_hash"),
      new ExpressionInfo(classOf[RollingHashExpr].getName, "rolling_hash"),
      (args: Seq[Expression]) => RollingHashExpr(args.head)))
    // custom whole-operator path: AsOfJoin logical node → AsOfJoinExec
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}
