package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Money-sum accumulator contract for the gate queries.
  *
  * Default (flag off — the driver's contract): `round(sum(double), 2)`.
  * Summing millions of doubles is order-dependent at machine epsilon,
  * and once the sum magnitude passes ~1e11 the round(·,2) freezes that
  * ULP divergence into the last cent — the documented sf1/sf3 gate
  * exceptions (SCALE.md). Not a bug, but not bit-exact either.
  *
  * With SPARK_GRAFT_DECIMAL_SUMS=1 (the big-SF evidence mode): each
  * row's double is cast to DECIMAL(38,6) — exact, because the money
  * values are within ~1e-12 of 4-decimal quantities, far from any
  * 6th-decimal rounding boundary — then summed EXACTLY (decimal adds
  * are associative), rounded to cents, and cast back to double. The
  * final decimal(·,2) → double conversion is correctly rounded in both
  * engines (the scaled integer is < 2^53, so `v/100.0` is a single
  * IEEE-correct rounding), making the result independent of partition
  * count, merge order, and engine — THE fix a 100 TB deployment would
  * ship for money columns. The flag flips the ORACLE the same way, so
  * the DuckDB gate checks the decimal path end-to-end rather than
  * special-casing it; that is why it is an environment variable, which
  * the engine and the oracle script both read, not a constant.
  */
object Money {
  val decimal: Boolean = sys.env.get("SPARK_GRAFT_DECIMAL_SUMS").contains("1")

  /** The exact path: decimal accumulation, partition-order invariant. */
  def moneySumDecimal(e: Column, scale: Int = 2): Column =
    round(sum(e.cast(DecimalType(38, 6))), scale).cast("double")

  /** The driver-contract path: double accumulation. */
  def moneySumDouble(e: Column, scale: Int = 2): Column =
    round(sum(e), scale)

  /** round(sum(money), scale), exact-decimal-accumulated under the flag. */
  def moneySum(e: Column, scale: Int = 2): Column =
    if (decimal) moneySumDecimal(e, scale) else moneySumDouble(e, scale)

  /** The same contract as a SQL fragment — valid in BOTH Spark SQL and
    * DuckDB, so SQL-defined queries and their oracles share it. */
  def moneySumSql(expr: String, scale: Int = 2): String =
    if (decimal)
      s"CAST(round(sum(CAST(($expr) AS DECIMAL(38,6))), $scale) AS DOUBLE)"
    else s"round(sum($expr), $scale)"
}
