package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet-backed table access for the test star schema (TESTDATA.md).
  *
  * Mirrors the reference's catalog-table source (S6,
  * uber/bronze2_to_silver.py:43) without a Hive metastore: tables are
  * resolved by name under a scale-factor directory. At cluster scale the
  * same code path works against any `spark.read.parquet`-able location
  * (S3A, HDFS); nothing here is local-mode specific.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Per-session memo of resolved source frames (round-14): every
    * `spark.read.parquet` call re-resolves the datasource — footer
    * schema read + file listing, measured ~60 ms per call — and a
    * bench pass calls load() hundreds of times for the same ten
    * immutable tables. The memo returns the SAME lazy plan object
    * (no data is cached — every action still scans the parquet), so
    * this is deduplicated plan RESOLUTION, not result caching.
    * Contract (ENFORCED below, r14 verdict item 4): only the ten
    * star-schema source names may flow through the memo — they are
    * immutable for a session's lifetime; anything else would risk
    * silently serving a stale file listing and must resolve fresh.
    * Keyed weakly by session, and the VALUES are SOFT references
    * (r14 ADVICE): a DataFrame strongly references its SparkSession,
    * so strong map values would pin the weak KEY forever and no
    * retired session could ever be collected. Soft values survive
    * ordinary GC (the memo keeps amortizing across a bench run) but
    * are cleared under heap pressure — worst case a retired session
    * lingers until the next memory squeeze instead of forever. A
    * cleared value just re-resolves (~60 ms, the cost the memo
    * amortizes). */
  private val resolved =
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[(String, String),
        java.lang.ref.SoftReference[DataFrame]]]()

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    require(names.contains(name),
      s"Tables.load memoizes IMMUTABLE star-schema sources only; '$name'" +
      " is not one (resolve mutable locations with spark.read directly)")
    val perSession = resolved.synchronized {
      var m = resolved.get(spark)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[(String, String),
          java.lang.ref.SoftReference[DataFrame]]()
        resolved.put(spark, m)
      }
      m
    }
    val key = (dir, name)
    val cached = Option(perSession.get(key)).flatMap(r => Option(r.get()))
    cached.getOrElse {
      val df = loadUncached(spark, dir, name)
      perSession.put(key, new java.lang.ref.SoftReference(df))
      df
    }
  }

  private def loadUncached(spark: SparkSession, dir: String,
      name: String): DataFrame = {
    // events.parquet's `ts` column has shipped as TIMESTAMP(NANOS) —
    // which Spark's vectorized reader rejects outright — and as plain
    // TIMESTAMP(MICROS). Handle both by inspecting the read schema:
    // nanos surface as LONG (legacy.parquet.nanosAsLong, a
    // SessionFactory conf) and convert with integral division (floor —
    // matches DuckDB's ns→us truncation); micros surface as
    // TIMESTAMP_NTZ and cast to session-tz TIMESTAMP (UTC everywhere
    // here, so the instants are identical and downstream
    // watermarks/windows see one type).
    if (name == "events") {
      val raw = spark.read.parquet(s"$dir/$name.parquet")
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          // integral `div` — double division would lose precision above
          // 2^53 (epoch-nanos ≈ 1.7e18)
          raw.withColumn("ts",
            org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
        case _ =>
          raw.withColumn("ts", org.apache.spark.sql.functions.col("ts")
            .cast(org.apache.spark.sql.types.TimestampType))
      }
    } else spark.read.parquet(s"$dir/$name.parquet")
  }

  /** The dir each session last registered, keyed weakly by session
    * like [[resolved]]; a String value does not pin the session. */
  private val registered = new java.util.WeakHashMap[SparkSession, String]()

  /** Register every table as a temp view so `spark.sql` works against
    * the same names the DuckDB oracle uses. Idempotent per (session,
    * dir) — repeated callers pay the view-creation planning cost once,
    * and a session whose views were dropped (catalog probe) or that
    * registered another dir re-registers. Synchronized so concurrent
    * callers with different dirs cannot interleave view creation and
    * leave a mixed catalog behind. */
  def registerAll(spark: SparkSession, dir: String): Unit = synchronized {
    if (registered.get(spark) != dir || !spark.catalog.tableExists(names.last)) {
      names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
      registered.put(spark, dir)
    }
  }
}
