package graft.queries

import graft.QueryDef
import graft.core.Tables
import graft.ingest.ParquetTableIO
import org.apache.spark.sql.functions._

/** Join queries (SURVEY §2.3 J1-J4, S9 merge fallback).
  *
  * Scale notes: the anti/semi joins against small "log" sides broadcast
  * (the reference's J1 file-log is tiny by construction); the watermark
  * join J2 shuffles on the key — its skew mitigation at 100 TB is AQE
  * skew-join (on by default in Spark 4) or key salting.
  */
object JoinQueries {

  /** J1: left-anti new-key detection — customers with no orders. */
  val qAntiJoin: QueryDef = QueryDef(
    "q7_anti_join",
    """SELECT c_custkey, c_name, c_mktsegment FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""".stripMargin) { (s, dir) =>
    val c = Tables.load(s, dir, "customer")
    val o = Tables.load(s, dir, "orders")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select("c_custkey", "c_name", "c_mktsegment")
  }

  /** Left-semi (EXISTS): customers with at least one high-value order. */
  val qSemiJoin: QueryDef = QueryDef(
    "q8_semi_join",
    """SELECT c_custkey, c_name FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)""".stripMargin) { (s, dir) =>
    val c = Tables.load(s, dir, "customer")
    val o = Tables.load(s, dir, "orders").filter(col("o_totalprice") > 100000)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
  }

  /** J2: per-key high-watermark incremental join — keep orders newer
    * than the per-customer max date of the already-processed slice
    * (alphavantage/bronze2_to_silver.py:175-189). */
  val qWatermarkJoin: QueryDef = QueryDef(
    "q9_watermark_join",
    """WITH processed AS (
      |  SELECT o_custkey, max(o_orderdate) AS max_od FROM orders
      |  WHERE o_orderdate < TIMESTAMP '1995-01-01' GROUP BY 1)
      |SELECT o.o_orderkey, o.o_custkey, o.o_orderdate FROM orders o
      |LEFT JOIN processed p ON o.o_custkey = p.o_custkey
      |WHERE p.max_od IS NULL OR o.o_orderdate > p.max_od""".stripMargin) { (s, dir) =>
    val o = Tables.load(s, dir, "orders")
    val processed = o
      .filter(col("o_orderdate") < lit("1995-01-01").cast("timestamp"))
      .groupBy(col("o_custkey")).agg(max(col("o_orderdate")).as("max_od"))
    o.join(processed, Seq("o_custkey"), "left")
      .filter(col("max_od").isNull || col("o_orderdate") > col("max_od"))
      .select("o_orderkey", "o_custkey", "o_orderdate")
  }

  /** J3: left join preserving existing ids (null where absent). */
  val qLeftJoin: QueryDef = QueryDef(
    "q10_left_join",
    """SELECT o.o_orderkey, o.o_custkey, c.c_name, c.c_acctbal
      |FROM orders o LEFT JOIN customer c
      |ON o.o_custkey = c.c_custkey AND c.c_acctbal > 0""".stripMargin) { (s, dir) =>
    val o = Tables.load(s, dir, "orders")
    val c = Tables.load(s, dir, "customer")
    o.join(c, o("o_custkey") === c("c_custkey") && c("c_acctbal") > 0, "left")
      .select(o("o_orderkey"), o("o_custkey"), c("c_name"), c("c_acctbal"))
  }

  /** S9: MERGE-upsert semantics via the TableIO fallback
    * (source-wins ∪ target-anti-source). */
  val qMergeUpsert: QueryDef = QueryDef(
    "q11_merge_upsert",
    """WITH t AS (SELECT o_orderkey, o_totalprice, o_orderstatus
      |           FROM orders WHERE o_orderkey % 3 <> 0),
      |     s AS (SELECT o_orderkey, o_totalprice + 1000.0 AS o_totalprice,
      |                  'U' AS o_orderstatus
      |           FROM orders WHERE o_orderkey % 2 = 0)
      |SELECT * FROM s
      |UNION ALL
      |SELECT t.* FROM t
      |WHERE NOT EXISTS (SELECT 1 FROM s WHERE s.o_orderkey = t.o_orderkey)""".stripMargin) { (s, dir) =>
    val o = Tables.load(s, dir, "orders")
    val target = o.filter(col("o_orderkey") % 3 =!= 0)
      .select("o_orderkey", "o_totalprice", "o_orderstatus")
    val source = o.filter(col("o_orderkey") % 2 === 0)
      // exact IEEE add — round(x*1.1, 2) would diverge from DuckDB at
      // binary .xx5 boundaries
      .select(col("o_orderkey"),
        (col("o_totalprice") + 1000.0).as("o_totalprice"),
        lit("U").as("o_orderstatus"))
    new ParquetTableIO("/tmp/graft_unused").merge(target, source, Seq("o_orderkey"))
  }

  val all: Seq[QueryDef] = Seq(qAntiJoin, qSemiJoin, qWatermarkJoin,
    qLeftJoin, qMergeUpsert)
}
