package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{SparkEntry, SparkSpec, Tables}

/** The money kernel ([[Relational.cents]], [[Relational.sumMoney]])
  * against the DECIMAL(18,2) arithmetic it replaced. The oracle gate
  * compares every converted query with DuckDB's DECIMAL sums; these
  * cases pin the per-row rule on every fixture money value, the result
  * bit-for-bit against the old Spark expression, and the overflow
  * behaviour, none of which a passing oracle run shows directly. */
class MoneySpec extends SparkSpec {

  private val sfs = Seq(sf001, "/root/testdata/sf0.01")

  /** Rows where the kernel's cents differ from CAST(x AS DECIMAL(18,2))'s
    * unscaled value (null-safe), and the number of rows checked. */
  private def mismatches(df: DataFrame, c: String): (Long, Long) = {
    val r = df.select(
        Relational.cents(col(c)).as("k"),
        (col(c).cast("decimal(18,2)") * lit(100)).cast("long").as("d"))
      .agg(count(when(!(col("k") <=> col("d")), 1)), count(lit(1)))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  test("kernel cents equal CAST(x AS DECIMAL(18,2)) on every fixture money value") {
    val columns = Seq(
      "lineitem" -> Seq("l_quantity", "l_extendedprice", "l_discount"),
      "orders" -> Seq("o_totalprice"),
      "customer" -> Seq("c_acctbal"),
      "supplier" -> Seq("s_acctbal"),
      "part" -> Seq("p_retailprice"))
    for (d <- sfs; (t, cs) <- columns; c <- cs) {
      val df = Tables(spark, d, t)
      val (bad, n) = mismatches(df, c)
      assert(n > 0, s"$t.$c at $d is empty")
      assert(bad === 0, s"$bad of $n values of $t.$c at $d differ from the DECIMAL cast")
    }
    // the sign split is exercised by the fixtures, not only by the
    // synthetic case below
    assert(Tables(spark, sf001, "customer").filter(col("c_acctbal") < 0).count() > 0)
  }

  test("kernel cents round half-cents away from zero, like the cast, on both signs") {
    import spark.implicits._
    // exact binary half-cents: x·100 is exactly k + ½, so only the
    // rounding direction decides; a bare ⌊x·100 + ½⌋ fails the negatives
    val xs = Seq(0.125, -0.125, 0.375, -0.375, 1.625, -1.625, -1024.875,
      0.0, -0.0, -0.01, 0.01, -99999.99, 104949.5)
    val (bad, n) = mismatches(xs.toDF("x"), "x")
    assert(n === xs.size)
    assert(bad === 0, s"$bad of $n synthetic values differ from the DECIMAL cast")
  }

  // The replaced DECIMAL expressions, kept here only as the reference.
  private def dec(c: Column): Column = c.cast("decimal(18,2)")
  private def discounted(price: Column, discount: Column): Column =
    price.cast("decimal(12,2)") *
      (lit(1).cast("decimal(4,2)") - discount.cast("decimal(4,2)"))

  private def decimalPricingSummary(d: String): DataFrame =
    Tables.lineitem(spark, d)
      .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
        sum(discounted(col("l_extendedprice"), col("l_discount")))
          .cast("double").as("sum_disc_price"),
        count(lit(1)).as("count_order"))

  private def decimalSaltedRevenue(d: String): DataFrame =
    Tables.lineitem(spark, d)
      .withColumn("salt", pmod(col("l_orderkey"), lit(8)))
      .groupBy(col("l_returnflag"), col("salt"))
      .agg(sum(dec(col("l_extendedprice"))).as("rev_part"), count(lit(1)).as("n_part"))
      .groupBy(col("l_returnflag"))
      .agg(sum(col("rev_part")).cast("double").as("revenue"), sum(col("n_part")).as("n_items"))

  private def decimalRunningSpend(d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(spark, d)
      .withColumn("cum_spend", sum(dec(col("o_totalprice"))).over(w).cast("double"))
      .select(col("o_custkey"), col("o_orderkey"), col("cum_spend"))
  }

  /** Rows as comparable values: doubles by their bit pattern. */
  private def bitRows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map((r: Row) => r.toSeq.map {
      case x: Double => java.lang.Double.doubleToRawLongBits(x)
      case x => x
    }).sortBy(_.mkString("\u0001"))

  test("kernel results equal the old DECIMAL expressions bit for bit") {
    val cases = Seq(
      "q_pricing_summary" -> (decimalPricingSummary _),
      "q_agg_salted" -> (decimalSaltedRevenue _),
      "q_window_running" -> (decimalRunningSpend _))
    for (d <- sfs; (q, old) <- cases) {
      val got = SparkEntry.queries(q)(spark, d)
      val want = old(d)
      assert(got.columns.toSeq === want.columns.toSeq)
      val (g, w) = (bitRows(got), bitRows(want))
      assert(g.nonEmpty, s"$q at $d is empty")
      assert(g === w, s"$q at $d differs from the DECIMAL expression")
    }
  }

  test("an overflowing money sum raises under the session's ANSI arithmetic, never wraps") {
    import spark.implicits._
    // GraftSession sets no ANSI key, so it runs Spark 4's default, as
    // this shared test session does
    assert(spark.conf.get("spark.sql.ansi.enabled") === "true")
    val half = Long.MaxValue / 2 + 1
    val units = Seq(half, half).toDF("u")
    val e = intercept[Exception](units.agg(Relational.sumMoney(col("u"))).collect())
    assert(e.getMessage.contains("ARITHMETIC_OVERFLOW"), e.getMessage)
    // grouped (partial + final) sums as well as the global one
    val grouped = Seq((1, half), (1, half)).toDF("g", "u")
      .groupBy(col("g")).agg(Relational.sumMoney(col("u"), 4))
    assert(intercept[Exception](grouped.collect()).getMessage.contains("ARITHMETIC_OVERFLOW"))
  }
}
