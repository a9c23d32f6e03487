package graft

import graft.core.Cols
import graft.clean.Cleaning
import graft.ingest.SurrogateId
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import org.scalatest.funsuite.AnyFunSuite

class CoreSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("sanitizeNames strips spaces, parens, dots") {
    val df = Seq((1, 2, 3)).toDF("Booking ID", "Avg (VTAT)", "quote.usd")
    assert(Cols.sanitizeNames(df).columns.toSeq ===
      Seq("Booking_ID", "Avg_VTAT", "quote_usd"))
  }

  test("safeCol backticks dotted names; reorderFront keeps all columns") {
    val df = Seq((1, 2.0, "x")).toDF("id", "quote.usd", "name")
    assert(df.select(Cols.safeCol("quote.usd")).first().getDouble(0) === 2.0)
    val re = Cols.reorderFront(df, Seq("name"))
    assert(re.columns.toSeq === Seq("name", "id", "quote.usd"))
  }

  test("nullNormalizedCast: dirty markers → null, numbers survive (P4)") {
    val dirty = Seq("null", "NULL ", " none", "NaN", "", "  ", "3.5", "0")
      .toDF("v")
    val out = dirty.select(
      Cols.nullNormalizedCast(col("v"), DoubleType).as("d")).collect()
    assert(out.take(6).forall(_.isNullAt(0)))
    assert(out(6).getDouble(0) === 3.5 && out(7).getDouble(0) === 0.0)
  }

  test("nullNormalizedCast property: round-trips double renderings (seeded sample)") {
    val rnd = new scala.util.Random(42)
    val ds = Seq.fill(200)(rnd.nextDouble() * math.pow(10, rnd.nextInt(12) - 6))
    val got = ds.map(_.toString).toDF("v")
      .select(Cols.nullNormalizedCast(col("v"), DoubleType)).as[Double]
      .collect()
    assert(got.toSeq === ds)
  }

  test("dedupLatestWins keeps exactly the newest row per key (W2)") {
    val df = Seq(
      ("k1", 1, "old"), ("k1", 3, "new"), ("k1", 2, "mid"),
      ("k2", 5, "only")).toDF("k", "ts", "tag")
    val out = Cleaning.dedupLatestWins(df, Seq("k"), Seq(col("ts").desc))
      .orderBy("k").collect()
    assert(out.map(r => (r.getString(0), r.getString(2))).toSeq ===
      Seq(("k1", "new"), ("k2", "only")))
  }

  test("dedupFirstByKey (agg-based) picks the same rows as the window form") {
    val li = graft.core.Tables.load(spark, SparkTestSession.sfDir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_shipdate", "l_quantity")
    val win = Cleaning.dedupLatestWins(li, Seq("l_orderkey"),
      Seq(col("l_linenumber").asc, col("l_shipdate").asc, col("l_quantity").asc))
      .select("l_orderkey", "l_linenumber", "l_shipdate", "l_quantity")
    val agg = Cleaning.dedupFirstByKey(li, Seq("l_orderkey"),
      Seq("l_linenumber", "l_shipdate", "l_quantity"))
      .select("l_orderkey", "l_linenumber", "l_shipdate", "l_quantity")
    assert(win.except(agg).count() === 0 && agg.except(win).count() === 0)
  }

  test("dedupLastByKey (agg-based) picks the same rows as the all-desc " +
      "window form, incl. null order values") {
    val li = graft.core.Tables.load(spark, SparkTestSession.sfDir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_shipdate", "l_quantity")
    val win = Cleaning.dedupLatestWins(li, Seq("l_orderkey"),
      Seq(col("l_linenumber").desc, col("l_shipdate").desc,
        col("l_quantity").desc))
      .select("l_orderkey", "l_linenumber", "l_shipdate", "l_quantity")
    val agg = Cleaning.dedupLastByKey(li, Seq("l_orderkey"),
      Seq("l_linenumber", "l_shipdate", "l_quantity"))
      .select("l_orderkey", "l_linenumber", "l_shipdate", "l_quantity")
    assert(win.except(agg).count() === 0 && agg.except(win).count() === 0)
    // nulls in an order column lose under BOTH forms (.desc is
    // nulls-last; struct-max ranks null fields smallest)
    val nd = Seq[(String, java.lang.Integer, String)](
      ("k1", null, "nullv"), ("k1", 2, "two"), ("k2", null, "onlynull"))
      .toDF("k", "o", "tag")
    val w2 = Cleaning.dedupLatestWins(nd, Seq("k"), Seq(col("o").desc))
    val a2 = Cleaning.dedupLastByKey(nd, Seq("k"), Seq("o"))
      .select("k", "o", "tag")
    assert(w2.except(a2).count() === 0 && a2.except(w2).count() === 0)
    // output column order is the input order
    assert(Cleaning.dedupLastByKey(nd, Seq("k"), Seq("o")).columns.toSeq ===
      Seq("k", "o", "tag"))
  }

  test("imputeMean fills nulls with rounded mean; imputeMode with smallest modal value") {
    val df = Seq[(java.lang.Double, String)](
      (1.0, "a"), (3.0, null), (null, "b"), (null, "a"), (2.0, "b"))
      .toDF("v", "c")
    val m = Cleaning.imputeMean(df, "v")
    assert(m.filter(col("v").isNull).count() === 0)
    assert(m.agg(sum("v")).first().getDouble(0) === 1.0 + 3.0 + 2.0 + 2 * 2.0)
    // modes: a=2, b=2 → tie → "a" (smallest)
    val md = Cleaning.imputeMode(df, "c")
    assert(md.filter(col("c") === "a").count() === 3)
  }

  test("imputation edge cases: all-null / empty frames are left unfilled, not crashed") {
    val allNull = Seq[(Int, java.lang.Double, String)]((1, null, null))
      .toDF("k", "v", "c")
    assert(Cleaning.imputeMean(allNull, "v").filter(col("v").isNull).count() === 1)
    assert(Cleaning.imputeMode(allNull, "c").filter(col("c").isNull).count() === 1)
    val empty = allNull.limit(0)
    assert(Cleaning.imputeMean(empty, "v").count() === 0)
    assert(Cleaning.imputeMode(empty, "c").count() === 0)
  }

  test("surrogate ids: dense, unique, continue from max (W1)") {
    val df = Seq("c", "a", "b").toDF("k")
    val out = SurrogateId.attachOrdered(df, "id", Seq(col("k")), startAfter = 100L)
      .orderBy("id").collect()
    assert(out.map(_.getLong(1)).toSeq === Seq(101L, 102L, 103L))
    assert(out.map(_.getString(0)).toSeq === Seq("a", "b", "c"))
  }

  test("observe metrics ride the job: counts/nulls surfaced without a second scan") {
    import org.apache.spark.sql.functions._
    val df = Seq(("a", Some(1.0)), ("b", None), ("c", Some(3.0)))
      .toDF("k", "v")
    val (observed, obs) = graft.core.Metrics.observed(df, "stage",
      "rows" -> count(lit(1)),
      "null_v" -> sum(when(col("v").isNull, 1L).otherwise(0L)),
      "max_v" -> max(col("v")))
    // the action that was going to run anyway
    assert(observed.filter(col("v").isNotNull).count() === 2)
    val m = obs.get
    assert(m("rows") === 3L)
    assert(m("null_v") === 1L)
    assert(m("max_v") === 3.0)
  }

  test("distributed surrogate ids: unique, dense, row count preserved") {
    val df = spark.range(1000).toDF("x").repartition(7)
    val ids = graft.core.Ckpt.scoped { pins =>
      SurrogateId.attachDistributed(df, "id", pins, startAfter = 10L)
        .select("id").as[Long].collect().sorted
    }
    assert(ids.length === 1000)
    assert(ids.head === 11L && ids.last === 1010L)
    assert(ids.distinct.length === 1000)
  }

  test("Money.moneySumDecimal: partition-order invariant where doubles are not") {
    import graft.core.Money
    // money-like values: 2-decimal prices scaled so the double sum's
    // low bits depend on add order once magnitude ~1e11 is reached
    val rnd = new scala.util.Random(7)
    val vals = Seq.fill(20000)(
      math.round(rnd.nextDouble() * 1e9 * 100).toDouble / 100)
    val variants = Seq(1, 7, 32).map { parts =>
      vals.toDF("v").repartition(parts)
        .agg(Money.moneySumDecimal(col("v")).as("s"))
        .first().getDouble(0)
    }
    // decimal accumulation: bit-identical at every partitioning
    assert(variants.distinct.length === 1)
    // and equals the exact BigDecimal ground truth
    val exact = vals.map(BigDecimal(_)).sum
      .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(variants.head === exact)
    // flag off keeps the driver contract: plain double sum
    assert(!Money.decimal)
  }
}
