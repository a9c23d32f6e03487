package lakebench

import graft.ingest.{DeltaLakeCdf, DeltaLakeDml, DeltaLakeMaintain,
  DeltaLakeRead, DeltaLakeWrite}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.io.File
import scala.collection.mutable

/** Writes beside reads on one change-data-feed Delta table: a fixed,
  * seeded sequence of appends, upserts, deletes, snapshot aggregates,
  * change-feed reads and a periodic compaction. Every run replays the
  * same op history from the same starting table, because op cost
  * depends on the history (log length, deletion vectors, file count).
  *
  * Ground truth is an in-memory model of the table, advanced by every
  * op; each op's result is checked against it. */
final class DeltaDmlMix(dir: File) {
  import DeltaDmlMix._

  private val BaseRows = 60000
  private val BatchRows = 2000
  /** The op cycle; the seed picks each op's rows and predicates. */
  private val Cycle = Seq("append", "upsert", "delete", "snapshot", "cdf",
    "compact", "snapshot", "append", "delete", "cdf", "snapshot")

  private var seed = 0L
  private var base: Vector[Rec] = Vector.empty
  private var path: String = _
  private val model = mutable.LongMap[Rec]()
  private var version = 0L
  private var nextId = 0L
  /** Expected change-feed rows per committed version. */
  private val changes = mutable.Map[Long, Map[String, Long]]()
  private val filesChanged = mutable.Buffer[Double]()
  private var opIndex = 0

  def generate(seed: Long): Unit = {
    this.seed = seed
    val rnd = new scala.util.Random(seed)
    base = Vector.tabulate(BaseRows)(i => rec(i.toLong, rnd))
  }

  private def rec(id: Long, rnd: scala.util.Random): Rec =
    Rec(id, rnd.nextInt(Groups), rnd.nextInt(1000000).toLong,
      s"t${rnd.nextInt(100000)}")

  private def frame(spark: SparkSession, rows: Seq[Rec]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map(r => Row(r.id, r.grp, r.v, r.tag)): _*),
      Schema)

  /** A fresh table holding the base rows (version 0). */
  def bootstrap(spark: SparkSession): Unit = {
    Option(path).foreach(p => Files.rm(new File(p)))
    dir.mkdirs()
    path = new File(dir, s"t${System.nanoTime()}").getAbsolutePath
    DeltaLakeWrite.append(frame(spark, base), path, tableConfig = Cdf)
    model.clear()
    base.foreach(r => model(r.id) = r)
    version = 0L
    nextId = BaseRows.toLong
    changes.clear()
    changes(0L) = Map("insert" -> BaseRows.toLong)
    opIndex = 0
  }

  def warmUp(spark: SparkSession, tracer: Tracer): Unit = {
    // the first three ops (the costly kinds) on a throw-away table,
    // then a fresh table for the timed history
    (1 to 3).foreach(_ => step(spark, tracer))
    bootstrap(spark)
    filesChanged.clear()
  }

  def kinds: Set[String] = Cycle.toSet

  def cycle(spark: SparkSession, tracer: Tracer): Seq[Op] =
    Cycle.map(_ => step(spark, tracer))

  def summarize(spark: SparkSession, all: Seq[Op]): Summary = {
    val ops = all.filter(o => Cycle.contains(o.kind))
    def p50(k: String) = Stats.median(ops.filter(_.kind == k).map(_.seconds))
    val st = DeltaLakeRead.state(spark, path)
    val live = st.files.map(_.size).sum.toDouble
    val disk = Files.du(new File(path)).toDouble
    val logEntries = Option(new File(path, "_delta_log").listFiles())
      .map(_.length).getOrElse(0)
    Summary(Seq(Metric("dml_ops_per_s", ops.size / ops.map(_.seconds).sum, "1/s"),
        Metric("append_p50_s", p50("append"), "s"),
        Metric("upsert_p50_s", p50("upsert"), "s"),
        Metric("delete_p50_s", p50("delete"), "s"),
        Metric("snapshot_read_p50_s", p50("snapshot"), "s"),
        Metric("dml_op_tail_s", Stats.tail(ops.map(_.seconds))._1, "s")),
      Seq(Metric("ingest.delta.files_changed_per_op",
          Stats.mean(filesChanged.toSeq), "files/op"),
        Metric("ingest.delta.log_entries", logEntries.toDouble, "count"),
        Metric("ingest.delta.disk_bytes_per_live_byte",
          if (live > 0) disk / live else 0.0, "ratio")))
  }

  /** Runs the next op of the cycle: prepares its input (untimed), times
    * the call, then checks its output against the model (untimed). */
  private def step(spark: SparkSession, tracer: Tracer): Op = {
    val kind = Cycle(opIndex % Cycle.size)
    val rnd = new scala.util.Random(seed * 1000003L + opIndex)
    opIndex += 1
    val live = model.keysIterator.toArray
    def timed[T](span: String)(f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val out = tracer.span(span)(f)
      (out, (System.nanoTime() - t0) / 1e9)
    }
    val (ok, secs) = try kind match {
      case "append" =>
        val rows = (0 until BatchRows).map(i => rec(nextId + i, rnd))
        nextId += BatchRows
        val df = frame(spark, rows)
        val (v, s) = timed("ingest.DeltaLakeWrite.append")(
          DeltaLakeWrite.append(df, path, tableConfig = Cdf))
        rows.foreach(r => model(r.id) = r)
        commit(Map("insert" -> rows.size.toLong))
        (v == version, s)
      case "upsert" =>
        // the seed sets the share of source keys that hit live rows
        val hitShare = 0.45 + 0.1 * rnd.nextDouble()
        val nHit = (BatchRows * hitShare).toInt
        val hits = pick(live, nHit, rnd).map(id => rec(id, rnd))
        val fresh = (0 until BatchRows - nHit).map(i => rec(nextId + i, rnd))
        nextId += fresh.size
        val df = frame(spark, hits ++ fresh)
        val (r, s) = timed("ingest.DeltaLakeDml.upsert")(
          DeltaLakeDml.upsert(spark, path, df, Seq("id")))
        (hits ++ fresh).foreach(x => model(x.id) = x)
        commit(Map("update_preimage" -> hits.size.toLong,
          "update_postimage" -> hits.size.toLong,
          "insert" -> fresh.size.toLong))
        filesChanged += r.filesChanged
        (r.version == version && r.rowsDeleted == hits.size &&
          r.rowsInserted == BatchRows, s)
      case "delete" =>
        val g = rnd.nextInt(Groups)
        val cut = 350000L + rnd.nextInt(100000)
        val (r, s) = timed("ingest.DeltaLakeDml.delete")(
          DeltaLakeDml.delete(spark, path, s"grp = $g AND v < $cut"))
        val gone = model.valuesIterator.filter(x => x.grp == g && x.v < cut)
          .map(_.id).toSeq
        gone.foreach(model.remove)
        if (gone.nonEmpty) commit(Map("delete" -> gone.size.toLong))
        filesChanged += r.filesChanged
        (r.version == version && r.rowsDeleted == gone.size, s)
      case "snapshot" =>
        val (row, s) = timed("ingest.DeltaLakeRead.snapshot")(
          DeltaLakeRead.snapshot(spark, path).agg(digestCols.head,
            digestCols.tail: _*).first())
        (digestOf(row) == modelDigest, s)
      case "cdf" =>
        // the change feed of the last few commits, counted per type
        val from = math.max(0L, version - 3)
        val (rows, s) = timed("ingest.DeltaLakeCdf.changes")(
          DeltaLakeCdf.changes(spark, path, from)
            .groupBy(col(DeltaLakeCdf.ChangeTypeCol)).count().collect())
        val got = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
        val want = (from to version).flatMap(v => changes.getOrElse(v, Map.empty))
          .groupMapReduce(_._1)(_._2)(_ + _).filter(_._2 > 0)
        (got == want, s)
      case "compact" =>
        val (r, s) = timed("ingest.DeltaLakeMaintain.compact")(
          DeltaLakeMaintain.compact(spark, path))
        if (r.version > version) commit(Map.empty)
        (r.version == version && r.filesWritten >= 1, s)
    } catch {
      case e: Exception =>
        System.err.println(s"lakebench: $kind op failed: $e")
        (false, 0.0)
    }
    if (!ok) System.err.println(s"lakebench: $kind output check failed")
    Op(kind, secs, ok)
  }

  private def commit(change: Map[String, Long]): Unit = {
    version += 1
    changes(version) = change
  }

  private def pick(ids: Array[Long], n: Int, rnd: scala.util.Random): Seq[Long] = {
    val out = mutable.LinkedHashSet[Long]()
    while (out.size < math.min(n, ids.length)) out += ids(rnd.nextInt(ids.length))
    out.toSeq
  }

  private def modelDigest: (Long, Long, Long, Long) = {
    var n, h, h2, t = 0L
    model.valuesIterator.foreach { r =>
      val x = r.hash
      n += 1; h += x; h2 += (x % 65521) * (x % 65519); t += r.tag.length
    }
    (n, h, h2, t)
  }
}

object DeltaDmlMix {
  val Groups = 50
  val Cdf = Map("delta.enableChangeDataFeed" -> "true")
  val Schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("grp", IntegerType, nullable = false),
    StructField("v", LongType, nullable = false),
    StructField("tag", StringType, nullable = false)))

  final case class Rec(id: Long, grp: Int, v: Long, tag: String) {
    def hash: Long = id * 1000003L + v * 31L + grp
  }

  /** Order-independent digest of a table: row count, the sum of a
    * per-row hash, the sum of a second moment of it, the tag lengths. */
  private val h = col("id") * 1000003L + col("v") * 31L + col("grp")
  val digestCols: Seq[org.apache.spark.sql.Column] = Seq(
    count(lit(1)), sum(h), sum(pmod(h, lit(65521L)) * pmod(h, lit(65519L))),
    sum(length(col("tag"))))

  def digestOf(r: Row): (Long, Long, Long, Long) =
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
}
