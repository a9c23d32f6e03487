package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Deterministic synthetic-data generator for scale-sweep evidence
  * BEYOND the driver-provided SFs (TESTDATA.md caps at sf0.1 ≈ 600k
  * lineitem rows). Reproduces the same ten-table star schema with the
  * same column types, key ranges that embed sf0.1's (literals like
  * `doc_id < 60` keep selecting the same logical slice), and the same
  * shape parameters (5 langs at the same mix, ~250 docs/source, 30-day
  * event window, ~0.16% planted duplicate documents, label-clustered
  * unit-norm 64-dim embeddings) so per-query work scales the way the
  * driver generator's would.
  *
  * Every value is a pure hash of (row id, salt) — no rand(), so output
  * is byte-stable across partitionings, re-runs, and Spark versions.
  * Usage: runMain graft.GenScale <outDir> [multiplier-vs-sf0.1] [docWords] [tables]
  * (default multiplier 10 = "sf1": 6M lineitem / 50k docs / 1M events;
  * `tables` is an optional comma list — e.g. `documents,embeddings` —
  * for corpus-kernel-only audits where generating a 600M-row lineitem
  * would waste most of the disk and wall-clock).
  * `docWords` scales words-per-document (default 1 = the driver's
  * 10-100 words ≈ 120 B/doc; 10 = 100-1000 words ≈ 1-6 KB/doc — the
  * realistic-web-document regime for shuffle-ratio evidence: the
  * curation kernels' per-doc wire constant is fixed, so KB docs put
  * shuffle/source well below the tiny-doc ratios). Writes parquet
  * DIRECTORIES named <table>.parquet, which the same `Tables.load`
  * path reads transparently. Never touches /root/testdata
  * (read-only). */
object GenScale {
  private val Vocab: Seq[String] = Seq(
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window")

  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("target/testdata_sf1")
    val mult = args.lift(1).map(_.toDouble).getOrElse(10.0)
    val docWords = args.lift(2).map(_.toInt).getOrElse(1)
    val tables = args.lift(3).map(_.split(",").map(_.trim).toSet)
    val spark = graft.core.SessionFactory.build(
      s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]", Some(32))
    // the test data's files carry TIMESTAMP(MICROS); Spark's default
    // INT96 would read back as nanos and change query plans
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    generate(spark, outDir, mult, docWords, tables)
    spark.stop()
  }

  def generate(spark: SparkSession, outDir: String, mult: Double,
      docWords: Int = 1, tables: Option[Set[String]] = None): Unit = {
    // sequence(1, 0) in Spark is the DESCENDING [1, 0], not empty — a
    // non-positive docWords would silently generate 2-word documents
    require(docWords >= 1, s"docWords must be >= 1, got $docWords")
    def n(sf01: Long): Long = math.max(1L, math.round(sf01 * mult))
    val nCustomer = n(15000)
    val nSupplier = n(1000)
    val nPart = n(20000)
    val nOrders = n(150000)
    val nLineitem = n(600000)
    val nEvents = n(100000)
    val nDocs = n(5000)
    // the driver scales embeddings ~4x per data decade (sf0.01: 500 →
    // sf0.1: 2000), i.e. mult^log10(4) — sf1 lands at 8000 vectors
    val nVecs =
      math.max(1L, math.round(2000 * math.pow(mult, math.log10(4.0))))

    def write(df: DataFrame, table: String, parts: Int): Unit =
      if (tables.forall(_.contains(table)))
        df.repartition(parts)
          .write.mode("overwrite").parquet(s"$outDir/$table.parquet")

    // fixed dimensions — identical at every SF, like TPC-H
    write(spark.createDataFrame(Seq(
      (0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"),
      (4, "MIDDLE EAST"))).toDF("r_regionkey", "r_name"), "region", 1)
    write(spark.range(25).selectExpr(
      "int(id) AS n_nationkey", "concat('NATION_', id) AS n_name",
      "int(id % 5) AS n_regionkey"), "nation", 1)

    write(spark.range(nCustomer).selectExpr(
      "id AS c_custkey",
      "format_string('Customer#%09d', id) AS c_name",
      "int(pmod(xxhash64(id, 101), 25)) AS c_nationkey",
      "round((pmod(xxhash64(id, 102), 1000000) + 0.5) / 100.0D, 2) AS c_acctbal",
      "element_at(array('AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY'), " +
        "int(pmod(xxhash64(id, 103), 5)) + 1) AS c_mktsegment"),
      "customer", 4)

    write(spark.range(nSupplier).selectExpr(
      "id AS s_suppkey",
      "format_string('Supplier#%09d', id) AS s_name",
      "int(pmod(xxhash64(id, 111), 25)) AS s_nationkey",
      "round((pmod(xxhash64(id, 112), 1000000) + 0.5) / 100.0D, 2) AS s_acctbal"),
      "supplier", 1)

    write(spark.range(nPart).selectExpr(
      "id AS p_partkey",
      "concat(element_at(array('large','small','hot','cold','shiny','dull','new','old'), " +
        "int(pmod(xxhash64(id, 121), 8)) + 1), ' ', " +
        "element_at(array('ring','bolt','nut','gear','cam','rod','pin','cap'), " +
        "int(pmod(xxhash64(id, 122), 8)) + 1)) AS p_name",
      "concat('Brand#', pmod(xxhash64(id, 123), 20) + 1) AS p_brand",
      "element_at(array('LARGE','ECONOMY','STANDARD','SMALL','PROMO'), " +
        "int(pmod(xxhash64(id, 124), 5)) + 1) AS p_type",
      "int(pmod(xxhash64(id, 125), 50)) + 1 AS p_size",
      "900.0D + (id % 1000) * 0.1D AS p_retailprice"),
      "part", 4)

    write(spark.range(nOrders).selectExpr(
      "id AS o_orderkey",
      s"pmod(xxhash64(id, 131), $nCustomer) AS o_custkey",
      "element_at(array('O','F','P'), int(pmod(xxhash64(id, 132), 3)) + 1) AS o_orderstatus",
      "round((pmod(xxhash64(id, 133), 40000000) + 0.5) / 100.0D, 2) AS o_totalprice",
      "cast(to_timestamp(date_add(date'1996-01-01', int(pmod(xxhash64(id, 134), 821)))) AS timestamp_ntz) AS o_orderdate",
      "element_at(array('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'), " +
        "int(pmod(xxhash64(id, 135), 5)) + 1) AS o_orderpriority"),
      "orders", 8)

    write(spark.range(nLineitem).selectExpr(
      s"pmod(xxhash64(id, 141), $nOrders) AS l_orderkey",
      s"pmod(xxhash64(id, 142), $nPart) AS l_partkey",
      s"pmod(xxhash64(id, 143), $nSupplier) AS l_suppkey",
      "int(pmod(xxhash64(id, 144), 7)) + 1 AS l_linenumber",
      "cast(int(pmod(xxhash64(id, 145), 50)) + 1 AS double) AS l_quantity",
      "round((pmod(xxhash64(id, 146), 10000000) + 0.5) / 100.0D, 2) AS l_extendedprice",
      "int(pmod(xxhash64(id, 147), 11)) / 100.0D AS l_discount",
      "int(pmod(xxhash64(id, 148), 9)) / 100.0D AS l_tax",
      "element_at(array('N','A','R'), int(pmod(xxhash64(id, 149), 3)) + 1) AS l_returnflag",
      "element_at(array('O','F'), int(pmod(xxhash64(id, 150), 2)) + 1) AS l_linestatus",
      "cast(to_timestamp(date_add(date'1992-01-01', int(pmod(xxhash64(id, 151), 3653)))) AS timestamp_ntz) AS l_shipdate"),
      "lineitem", 16)

    // events: ~30-day window at every SF (group counts per day-bucket
    // stay fixed; rows per bucket scale), ts monotone-ish in event_id,
    // users scale with volume so per-user-per-window density is flat
    // (keeps stream-stream join output linear, as the driver data does)
    val nUsers = math.max(1L, math.round(1500 * mult))
    val gapUs = 2592000000000L / math.max(1L, nEvents)
    write(spark.range(nEvents).selectExpr(
      "id AS event_id",
      s"cast(timestamp_micros(1704067200000000 + id * $gapUs + pmod(xxhash64(id, 161), 30000000)) AS timestamp_ntz) AS ts",
      s"pmod(xxhash64(id, 162), $nUsers) AS user_id",
      "element_at(array('click','view','purchase','signup','error'), " +
        "int(pmod(xxhash64(id, 163), 5)) + 1) AS event_type",
      "round((pmod(xxhash64(id, 164), 15000) + 0.5) / 100.0D, 2) AS value",
      "format_string('{\"k\": %d}', pmod(xxhash64(id, 165), 100)) AS props"),
      "events", 8)

    // documents: word-salad over the 31-term vocab, 10-100 words/doc;
    // ~1-in-625 docs copies its predecessor's text (planted exact/near
    // dups at sf0.1's observed ~0.16% rate, scaling linearly)
    val vocabSql = Vocab.map(w => s"'$w'").mkString("array(", ",", ")")
    write(spark.range(nDocs)
      .selectExpr("id",
        "CASE WHEN id % 625 = 1 THEN id - 1 ELSE id END AS seed")
      .selectExpr("id",
        s"$docWords * (10 + int(pmod(xxhash64(seed, 171), 91))) AS nw",
        "seed")
      .selectExpr(
        "id AS doc_id",
        s"array_join(transform(sequence(1, nw), j -> " +
          s"element_at($vocabSql, int(pmod(xxhash64(seed, j, 172), 31)) + 1)), ' ') AS text",
        "CASE WHEN pmod(xxhash64(id, 173), 100) < 41 THEN 'en' " +
          "WHEN pmod(xxhash64(id, 173), 100) < 56 THEN 'zh' " +
          "WHEN pmod(xxhash64(id, 173), 100) < 71 THEN 'fr' " +
          "WHEN pmod(xxhash64(id, 173), 100) < 86 THEN 'es' " +
          "ELSE 'de' END AS lang",
        "concat('src', bigint(id / 250)) AS source")
      .selectExpr("doc_id", "text", "lang", "source",
        "bigint(length(text)) AS n_chars"),
      "documents", 4)

    // embeddings: unit-norm 64-dim vectors clustered around one of 10
    // label centroids (hash-derived) with gaussian (Box-Muller) noise —
    // preserves the cluster structure the KMeans/IVF/PQ recall gates
    // measure against
    write(spark.range(nVecs)
      .selectExpr("id", "int(pmod(xxhash64(id, 181), 10)) AS label")
      .selectExpr("id", "label",
        "transform(sequence(0, 63), j -> " +
          "(pmod(xxhash64(bigint(label), j, 182), 1000) / 1000.0D - 0.5D) " +
          "+ 0.35D * sqrt(-2.0D * ln((pmod(xxhash64(id, j, 183), 1000000) + 0.5D) / 1000000.0D)) " +
          "* cos(6.283185307179586D * (pmod(xxhash64(id, j, 184), 1000000) + 0.5D) / 1000000.0D)) AS raw")
      .selectExpr("id AS vec_id",
        "transform(raw, x -> float(x / sqrt(aggregate(raw, 0.0D, (acc, v) -> acc + v * v)))) AS embedding",
        "label")
      .select("vec_id", "embedding", "label"),
      "embeddings", 2)

    println(s"generated mult=$mult docWords=$docWords under $outDir: " +
      s"lineitem=$nLineitem orders=$nOrders events=$nEvents docs=$nDocs " +
      s"vecs=$nVecs")
  }
}
