package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Relational operator surface: aggregations, joins, windows, sorts,
  * top-k, set ops. The reference pipeline itself has no joins/group-bys
  * (SURVEY.md §2.6-2.7); these are the scale-out analytic operators the
  * engine adds over the star schema.
  *
  * Determinism-for-oracle notes (driver hash-compares vs DuckDB):
  *  - Money sums are exact and order-independent on integer units:
  *    the money kernel ([[cents]], [[sumMoney]]) turns each ≤2-decimal
  *    money double into exact integer cents, sums them as bigint and
  *    divides once at the end. The oracles keep their DECIMAL(18,2)
  *    casts, so every Verify run proves the two bit-equal.
  *  - Every query's output is a deterministic *set* (no LIMIT without a
  *    total order).
  *
  * Scale notes: group-bys here are partial-aggregated map-side by Spark
  * automatically. Dimension-join policy distinguishes two classes:
  *  - BOUNDED-BY-CONSTRUCTION sides keep an explicit `broadcast` hint:
  *    nation (25 rows) and region (5 rows) in the TPC-H data model,
  *    slices derived from them, and single-row scalar aggregates.
  *    These are constant-size at ANY scale factor, so the hint is safe
  *    and saves the optimizer a size estimate.
  *  - SF-SCALING sides (customer, supplier, part, and filtered slices
  *    of them) carry NO hint: they grow linearly with scale factor
  *    (customer is ~15 B rows at 100 TB), and a hard hint would
  *    override Spark's size threshold and force-OOM the build side at
  *    100×. Un-hinted, Catalyst's size estimate (and AQE's runtime
  *    re-plan) picks BroadcastHashJoin while the side is genuinely
  *    under the threshold — which it is at every test SF, asserted in
  *    PlanSpec — and degrades gracefully to a shuffled join at scales
  *    where broadcasting would be wrong.
  * Only fact-fact joins (lineitem⋈orders) shuffle, on their join key.
  */
object Relational {

  /** Money kernel, step 1 (per row): a money double's exact integer
    * cents. Rounds half away from zero, sign(x)·⌊|x|·100 + ½⌋, which is
    * the unscaled value of `CAST(x AS DECIMAL(18,2))` (HALF_UP, away
    * from zero) for every x with at most two decimals and
    * |x| < 2^53/100. The money domain is exactly that: MoneySpec checks
    * every money column of the fixtures (l_quantity, l_extendedprice,
    * l_discount, o_totalprice, c_acctbal, s_acctbal, p_retailprice)
    * against the cast with zero mismatches. The sign split matters for
    * the negative account balances: a bare ⌊x·100 + ½⌋ rounds a
    * negative half-cent toward zero, where the cast rounds away. On
    * non-negative inputs it is that bare floor, the rule the offer-book
    * and part-value queries share with their FLOOR-based oracles. */
  private[graft] def cents(c: Column): Column = {
    def halfUp(x: Column): Column = floor(x * lit(1.0e2) + lit(5.0e-1))
    when(c < lit(0.0), -halfUp(-c)).otherwise(halfUp(c))
  }

  /** price × (1 − discount) in exact 1e-4 units (scale 4): integer
    * cents times integer (100 − discount cents), the exact product the
    * oracle's DECIMAL(18,2) factors multiply to. */
  private def netUnits(price: Column, discount: Column): Column =
    cents(price) * (lit(100L) - cents(discount))

  /** Money kernel, step 2 (sum): integer units summed on Spark's
    * primitive bigint aggregate, then [[money]]. DECIMAL(18,2) inputs
    * summed as DECIMAL(28,2) buffers instead pay BigInteger round-trips
    * per row (any precision above 18 is stored as bytes).
    * Overflow bound: |Σ| < 2^63 units per group — ≈9e9 max-value
    * lineitem rows (1.05e9 units each) for the scale-4 product, 10×
    * fewer at scale 5. Past it the session's ANSI arithmetic (Spark 4's
    * default, which [[graft.GraftSession]] keeps) raises
    * ARITHMETIC_OVERFLOW; the sum never wraps silently. Bit-identity
    * with the DECIMAL result needs the tighter |Σ| < 2^53 units
    * (≈9e11 money at scale 4); the largest fixture sum,
    * q_pricing_summary's sum_disc_price at sf0.1 (2.7e13 units), stays
    * 330× under it. */
  private[graft] def sumMoney(units: Column, scale: Int = 2): Column = money(sum(units), scale)

  /** Money kernel, step 3 (result): a sum of exact integer units at
    * `scale` (2 for cents, 4 for a cents × cents product) back to a
    * money double by ONE IEEE division, `Σ.cast(double) / 10^scale`.
    * While |Σ| < 2^53 both operands are exact doubles and the quotient
    * is correctly rounded, so it is bit-identical to `CAST(SUM(CAST(x
    * AS DECIMAL(18,2))) AS DOUBLE)` in Spark and to DuckDB's own
    * decimal→double cast, which computes this same quotient. */
  private def money(units: Column, scale: Int): Column =
    units.cast("double") / lit(math.pow(10, scale))

  /** TPC-H Q1-shaped pricing summary: the canonical wide aggregation.
    * Whole-stage-codegen'd hash aggregate with map-side partial agg. */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sumMoney(cents(col("l_quantity"))).as("sum_qty"),
        sumMoney(cents(col("l_extendedprice"))).as("sum_base_price"),
        sumMoney(netUnits(col("l_extendedprice"), col("l_discount")), 4)
          .as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** Broadcast dimension join: revenue by part brand.
    * `part` is small relative to lineitem but SF-scaling, so it is
    * un-hinted — Catalyst's size gate plans a broadcast hash join at
    * every test SF (PlanSpec-asserted), with no shuffle of the fact
    * side beyond the final aggregation, and would fall back to a
    * shuffled join at scales where part outgrows the threshold. */
  def revenueByBrand(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val p  = Tables.part(spark, dir)
    li.join(p, li("l_partkey") === p("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(
        sumMoney(netUnits(col("l_extendedprice"), col("l_discount")), 4)
          .as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("p_brand"))
  }

  /** Multi-way star join (TPC-H Q5 shape): customer→nation→region dims
    * broadcast; orders⋈lineitem is the only shuffled join. */
  def revenueByNation(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o  = Tables.orders(spark, dir)
    val c  = Tables.customer(spark, dir)
    val n  = Tables.nation(spark, dir)
    val r  = Tables.region(spark, dir)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(sumMoney(netUnits(col("l_extendedprice"), col("l_discount")), 4)
        .as("revenue"))
      .orderBy(col("r_name"), col("n_name"))
  }

  /** Left semi join: customers that have at least one order (EXISTS). */
  def customersWithOrders(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  /** Left anti join: customers with no large order (NOT EXISTS with a
    * pushed-down predicate on the probe side). */
  def customersWithoutOrders(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir).filter(col("o_totalprice") > 450000.0)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  /** Window ranking: order sequence number per customer by date.
    * One shuffle on the partition key; rank ties broken by orderkey so
    * the result is deterministic. */
  def orderRankPerCustomer(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(spark, dir)
      .withColumn("order_seq", row_number().over(w))
      .select(col("o_custkey"), col("o_orderkey"), col("order_seq"))
      .orderBy(col("o_custkey"), col("order_seq"))
  }

  /** Running aggregation window frame: cumulative spend per customer. */
  def runningCustomerSpend(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(spark, dir)
      .withColumn("cum_spend", money(sum(cents(col("o_totalprice"))).over(w), 2))
      .select(col("o_custkey"), col("o_orderkey"), col("cum_spend"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** Top-k per group via window rank: 3 most expensive orders per
    * customer. At scale this beats a global sort: the shuffle is on
    * o_custkey and each partition keeps only k rows. */
  def top3OrdersPerCustomer(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(spark, dir)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("rk"))
      .orderBy(col("o_custkey"), col("rk"))
  }

  /** Top-3 orders per customer via the typed [[graft.functions.TopK]]
    * Aggregator — same semantics as [[top3OrdersPerCustomer]] but with
    * a bounded per-group buffer: partial aggregation ships ≤ k rows per
    * group per map task instead of shuffling the whole table to window
    * partitions. */
  def top3ViaAggregator(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val topk = new graft.functions.TopK(3)
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .mapValues(t => (t._2, t._3))
      .agg(topk.toColumn.name("top"))
      .flatMap { case (cust, top) =>
        top.zipWithIndex.map { case ((okey, _), i) => (cust, okey, i + 1) }
      }
      .toDF("o_custkey", "o_orderkey", "rk")
      .orderBy(col("o_custkey"), col("rk"))
  }

  /** Global top-k with a total order (sort + limit → Spark TakeOrdered,
    * which is O(k) memory per partition, no full sort at scale). */
  def top10Orders(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)
      .select(col("o_orderkey"), col("o_totalprice"))

  /** Distinct aggregation: exact distinct counts per order status. */
  def distinctCustomersByStatus(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderstatus"))
      .agg(countDistinct(col("o_custkey")).as("n_customers"),
           count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderstatus"))

  /** Approximate distinct (HLL++): the 100 TB-scale path for
    * cardinality — constant memory vs exact distinct's shuffle of all
    * keys. The sketch estimate itself is engine-specific, so the query
    * outputs the EXACT count plus an in-query assertion that the
    * sketch landed within 5× its configured 1% relative error; the
    * oracle checks the exact count and expects the assertion TRUE —
    * turning the sketch's accuracy contract itself into an
    * oracle-checked property. */
  def approxDistinctParts(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        approx_count_distinct(col("l_partkey"), 0.01).as("approx"))
      .select(col("l_returnflag"), col("n_parts"),
        (abs(col("approx") - col("n_parts")).cast("double") / col("n_parts") <= 0.05)
          .as("approx_within_5pct"))
      .orderBy(col("l_returnflag"))

  /** Approximate quantiles (GK-style sketch): the constant-memory
    * scale path for distribution profiling — the exact form shuffles
    * and sorts every value per group, the sketch is bounded mergeable
    * map-side state. The estimate is engine-specific, so the query
    * outputs the EXACT integer-cent percentiles (cross-engine-stable
    * interpolation, the q_percentiles recipe) plus an in-query
    * assertion that the sketch landed within 1% relative value error
    * (accuracy 10000 → rank error ≤ 1e-4; exact below 10k rows/group)
    * — the sketch's accuracy contract itself is oracle-checked, like
    * q_approx_distinct. */
  def approxQuantilesOrders(spark: SparkSession, dir: String): DataFrame = {
    val cents = "CAST(FLOOR(o_totalprice * 100 + 5.0e-1) AS BIGINT)"
    Tables.orders(spark, dir)
      .groupBy(col("o_orderstatus"))
      .agg(
        expr(s"percentile($cents, array(0.5D, 0.99D))").as("ex"),
        expr(s"approx_percentile($cents, array(0.5D, 0.99D), 10000)").as("ap"))
      .select(col("o_orderstatus"),
        (element_at(col("ex"), 1) / lit(1.0e2)).as("p50"),
        (element_at(col("ex"), 2) / lit(1.0e2)).as("p99"),
        ((abs(element_at(col("ap"), 1) - element_at(col("ex"), 1)) / element_at(col("ex"), 1) <= 0.01) &&
         (abs(element_at(col("ap"), 2) - element_at(col("ex"), 2)) / element_at(col("ex"), 2) <= 0.01))
          .as("sketch_within_1pct"))
      .orderBy(col("o_orderstatus"))
  }

  /** Mergeable-sketch distinct over time: per-day HLL sketches of
    * user ids union-merged into a weekly estimate — the reaggregation
    * property (merge(sketch(A), sketch(B)) ≡ sketch(A ∪ B)) that lets
    * a 100 TB pipeline maintain daily sketches and answer
    * weekly/monthly distincts without rescanning raw events. The
    * estimates are engine-specific, so the output carries the EXACT
    * weekly distinct plus two in-query contracts: the merged estimate
    * EQUALS the directly-built weekly sketch's estimate (the merge
    * identity — HLL registers merge by max, so this is exact, not
    * approximate) and lands within 5% of truth. */
  def hllMergeUsers(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .withColumn("day", expr("CAST(FLOOR(unix_seconds(ts) / 86400.0) AS BIGINT)"))
      .withColumn("week", expr("CAST(FLOOR(unix_seconds(ts) / 604800.0) AS BIGINT)"))
    val daily = e.groupBy(col("week"), col("day"))
      .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"))
    val merged = daily.groupBy(col("week"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk, false))").as("est_merged"))
    val direct = e.groupBy(col("week"))
      .agg(countDistinct(col("user_id")).as("exact_users"),
           expr("hll_sketch_estimate(hll_sketch_agg(user_id, 14))").as("est_direct"))
    direct.join(merged, Seq("week"))
      .select(col("week"), col("exact_users"),
        (col("est_merged") === col("est_direct")).as("merge_equals_direct"),
        (abs(col("est_merged") - col("exact_users")) / col("exact_users") <= 0.05)
          .as("est_within_5pct"))
      .orderBy(col("week"))
  }

  /** Cube aggregation (all grouping-set combinations). */
  def cubeRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(sumMoney(cents(col("o_totalprice"))).as("total"),
           count(lit(1)).as("n"))
      .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)

  /** Lag/lead window: gap in days between a customer's consecutive
    * orders (NULL for the first order). */
  def orderGapDays(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(spark, dir)
      .withColumn("prev_date", lag(col("o_orderdate"), 1).over(w))
      .select(col("o_custkey"), col("o_orderkey"),
        datediff(col("o_orderdate"), col("prev_date")).as("gap_days"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** Rollup (hierarchical subtotal) aggregation. */
  def rollupRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(sumMoney(cents(col("o_totalprice"))).as("total"),
           count(lit(1)).as("n"))
      .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)

  /** Pivot expressed as conditional aggregation (SQL-portable form of
    * groupBy().pivot()): order counts per priority, pivoted by status. */
  def pivotStatusByPriority(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .agg(
        count(when(col("o_orderstatus") === "F", 1)).as("n_f"),
        count(when(col("o_orderstatus") === "O", 1)).as("n_o"),
        count(when(col("o_orderstatus") === "P", 1)).as("n_p"))
      .orderBy(col("o_orderpriority"))

  /** Unpivot (melt): the wide per-status aggregate re-shaped to long
    * (status, metric, value) rows via the native Dataset.unpivot — a
    * narrow Expand over the one aggregated row per status, no extra
    * shuffle. All measures cast to double for a union-compatible value
    * column. */
  def unpivotStatusMetrics(spark: SparkSession, dir: String): DataFrame = {
    val wide = Tables.orders(spark, dir)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).cast("double").as("n_orders"),
           sumMoney(cents(col("o_totalprice"))).as("revenue"),
           max(col("o_totalprice")).cast("double").as("max_price"))
    wide.unpivot(
        Array(col("o_orderstatus")),
        Array(col("n_orders"), col("revenue"), col("max_price")),
        "metric", "value")
      .orderBy(col("o_orderstatus"), col("metric"))
  }

  /** Set ops: suppliers' nations INTERSECT customers' nations, minus
    * nations only customers live in (EXCEPT) — union-compatible sets. */
  def nationSetOps(spark: SparkSession, dir: String): DataFrame = {
    val sup = Tables.supplier(spark, dir).select(col("s_nationkey").as("nationkey"))
    val cus = Tables.customer(spark, dir).select(col("c_nationkey").as("nationkey"))
    val both    = sup.intersect(cus).withColumn("tag", lit("both"))
    val custOnly = cus.except(sup).withColumn("tag", lit("customer_only"))
    both.unionByName(custOnly).orderBy(col("tag"), col("nationkey"))
  }

  /** Union-all of two disjoint slices (the reference's per-page append,
    * SURVEY.md §2.7) followed by a stable order. */
  def unionSlices(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val hi = o.filter(col("o_totalprice") > 300000.0)
    val lo = o.filter(col("o_totalprice") <= 300000.0 && col("o_orderstatus") === "F")
    hi.unionByName(lo).select(col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  /** JSON column extraction: events.props is a JSON string; pull the
    * numeric field and aggregate per event type. Codegen'd path
    * (get_json_object), no UDF. */
  def eventsJsonAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("k", expr("try_cast(get_json_object(props, '$.k') AS INT)"))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).cast("bigint").as("sum_k"),
           count(col("k")).as("n_k"))
      .orderBy(col("event_type"))

  /** Calendar bucketing: order count + exact revenue by (year, month). */
  def ordersByMonth(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"))
      .agg(count(lit(1)).as("n_orders"),
           sumMoney(cents(col("o_totalprice"))).as("revenue"))
      .orderBy(col("y"), col("m"))

  /** As-of join composed from built-ins (Spark has no native ASOF):
    * each click event gets the most recent purchase timestamp of the
    * same user at-or-before it. Tag both streams, union, and take the
    * running max of purchase times per user — one shuffle on user_id,
    * no range-join explosion. The oracle uses DuckDB's native ASOF
    * JOIN, so two independent formulations check each other. */
  def asofLastPurchase(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("us"))
    val w = Window.partitionBy(col("user_id"))
      // purchases sort before clicks at the same instant (ASOF is >=)
      .orderBy(col("us"), when(col("event_type") === "purchase", 0).otherwise(1),
        col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e.withColumn("pus", when(col("event_type") === "purchase", col("us")))
      .withColumn("last_purchase_us", max(col("pus")).over(w))
      .filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("us"), col("last_purchase_us"))
      .orderBy(col("event_id"))
  }

  /** Salted two-phase aggregation: revenue per returnflag computed as
    * partial agg on (key, salt) then final agg on key. With a skewed
    * key distribution this splits each hot key across `salts` reducers
    * in phase 1; the result is provably identical to the direct groupBy
    * (the oracle checks it against the plain SQL). Integer-cent sums
    * keep the two-phase reassociation exact. */
  def saltedRevenueByFlag(spark: SparkSession, dir: String, salts: Int = 8): DataFrame = {
    val partial = Tables.lineitem(spark, dir)
      .withColumn("salt", pmod(col("l_orderkey"), lit(salts)))
      .groupBy(col("l_returnflag"), col("salt"))
      .agg(sum(cents(col("l_extendedprice"))).as("rev_part"),
           count(lit(1)).as("n_part"))
    partial
      .groupBy(col("l_returnflag"))
      .agg(sumMoney(col("rev_part")).as("revenue"),
           sum(col("n_part")).as("n_items"))
      .orderBy(col("l_returnflag"))
  }

  /** Salted skew join — on the key its own audit proves skewed.
    * Each event joins its type's aggregate stats row and the readout
    * counts events priced above their type's mean (exact integer
    * compare cents·ck > sk — no division crosses the comparator).
    * event_type has 5 distinct values, so the unsalted shuffle join
    * pins ≥ 1/5 of the fact table on one reducer REGARDLESS of
    * per-key balance — exactly the regime
    * [[graft.ops.SqlOps.joinSaltAudit]] (q_join_salt_audit) measures:
    * hottest-partition share 203,020 ppm unsalted → 75,770 ppm salted
    * ×8 at sf0.1 (vs l_orderkey, the key the pre-r11 demo salted,
    * where the audit proves the salt buys nothing — that uniform-key
    * counterexample lives on as the audit's first row pair).
    * The salted form widens the shuffle key with salt = event_id %
    * `salts` (deterministic, key-independent) and replicates the
    * 5-row stats side ×salts, spreading each type across `salts`
    * reducers. Result is provably identical to the plain join — the
    * oracle runs the plain SQL, and [[eventTypeSkewJoin]] with
    * salted=false is the measured baseline (q_join_skew_unsalted).
    * The stats side is hinted SHUFFLE_HASH: at 100 TB the stats grain
    * is (type, day/tenant) — far past broadcast — and locally the
    * hint stands in for that regime (a broadcast would dissolve the
    * very shuffle the salt exists to fix; AQE's skew-join split
    * automates the same idea for sort-merge plans). */
  def eventTypeSkewJoin(spark: SparkSession, dir: String,
                        salted: Boolean, salts: Int = 8): DataFrame = {
    val ev = Tables.events(spark, dir).select(
      col("event_id"), col("event_type"),
      floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("cents"))
    val st = ev.groupBy("event_type")
      .agg(sum(col("cents")).cast("long").as("sk"), count(lit(1)).as("ck"))
    val joined =
      if (salted) {
        val evs = ev.withColumn("salt", pmod(col("event_id"), lit(salts)).cast("int"))
        val sts = st.withColumn("salt", explode(sequence(lit(0), lit(salts - 1))))
        evs.join(sts.hint("shuffle_hash"), Seq("event_type", "salt"))
      } else ev.join(st.hint("shuffle_hash"), Seq("event_type"))
    joined.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           sum(when(col("cents") * col("ck") > col("sk"), 1L).otherwise(0L))
             .cast("long").as("n_above_mean"))
      .orderBy(col("event_type"))
  }

  /** Correlated-style aggregate filter (orders above their customer's
    * average order value), planned as a window over the grouping key
    * rather than a join against a pre-aggregated side: the per-customer
    * aggregate has CUSTOMER cardinality, so at scale it can neither
    * broadcast nor avoid a second shuffle for the join-back — the
    * whole-partition window computes the average and filters in ONE
    * shuffle on o_custkey with no join at all (the oracle keeps the
    * relational join form, proving the two equivalent every run).
    * Exact integer-cent sum, turned into money once and divided by the
    * count, for cross-engine bit-identical averages. */
  def aboveAvgOrders(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val w = Window.partitionBy(col("o_custkey"))
    o.withColumn("avg_price",
        money(sum(cents(col("o_totalprice"))).over(w), 2) / count(lit(1)).over(w))
      .filter(col("o_totalprice") > col("avg_price"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  /** TPC-H Q3 shape (shipping priority): top-10 unshipped orders by
    * revenue for one market segment. The segment restriction is a
    * LEFT SEMI join of orders against the (filtered, size-gated)
    * customer side — order rows are reduced ~5× before the fact-fact
    * shuffle with lineitem, and both date filters push into the
    * parquet scans. Top-10 over (revenue DESC, orderkey) plans as
    * TakeOrderedAndProject: per-partition heaps, no global sort. */
  def shippingPriority(spark: SparkSession, dir: String): DataFrame = {
    val cut = lit("1998-01-01").cast("timestamp")
    val c  = Tables.customer(spark, dir).filter(col("c_mktsegment") === "BUILDING")
    val o  = Tables.orders(spark, dir).filter(col("o_orderdate") < cut)
    val li = Tables.lineitem(spark, dir).filter(col("l_shipdate") > cut)
    val oSeg = o.join(c, o("o_custkey") === c("c_custkey"), "left_semi")
    li.join(oSeg, li("l_orderkey") === oSeg("o_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"))
      .agg(sumMoney(netUnits(col("l_extendedprice"), col("l_discount")), 4)
        .as("revenue"))
      .orderBy(desc("revenue"), col("o_orderkey"))
      .limit(10)
      .select(col("o_orderkey"),
        // o_orderdate is TIMESTAMP_NTZ; the session timezone is pinned
        // UTC, so the cast to TIMESTAMP is identity and the epoch is
        // engine-exact
        unix_seconds(col("o_orderdate").cast("timestamp")).as("order_epoch"),
        col("revenue"))
  }

  /** TPC-H Q10 shape (returned items): top-20 customers by revenue
    * lost to returns. The returnflag filter pushes to the lineitem
    * scan; customer and nation broadcast; the only shuffles are
    * lineitem⋈orders on orderkey and the customer-keyed aggregate.
    * Ties broken by custkey for a deterministic top-20. */
  def returnedItems(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).filter(col("l_returnflag") === "R")
    val o  = Tables.orders(spark, dir)
    val c  = Tables.customer(spark, dir)
    val n  = Tables.nation(spark, dir)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(sumMoney(netUnits(col("l_extendedprice"), col("l_discount")), 4)
             .as("lost_revenue"),
           count(lit(1)).as("n_items"))
      .orderBy(desc("lost_revenue"), col("c_custkey"))
      .limit(20)
  }

  /** TPC-H Q14 shape (promo revenue share): one month of lineitem
    * joined to the broadcast part dimension, promo share of revenue as
    * a single global aggregate. Both revenue sums are integer-exact
    * (order-independent) and cast to double only at the end; the final
    * percentage is two IEEE ops evaluated in the same order by both
    * engines. The promo sum is CASE-NULL (sum skips non-promo rows) —
    * the same rendering in both dialects. */
  def promoRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1998-01-01").cast("timestamp") &&
              col("l_shipdate") <  lit("1998-02-01").cast("timestamp"))
    val p = Tables.part(spark, dir)
    li.join(p, li("l_partkey") === p("p_partkey"))
      .agg(
        sumMoney(when(col("p_type") === "PROMO",
          netUnits(col("l_extendedprice"), col("l_discount"))), 4).as("promo_revenue"),
        sumMoney(netUnits(col("l_extendedprice"), col("l_discount")), 4)
          .as("total_revenue"))
      .select(col("promo_revenue"), col("total_revenue"),
        (lit(100.0) * col("promo_revenue") / col("total_revenue")).as("promo_pct"))
  }

  /** TPC-H Q4 shape (order priority check): orders in one quarter with
    * at least one line item shipped more than 90 days after the order
    * date, counted per priority. The EXISTS is a LEFT SEMI join on
    * orderkey with the lateness predicate in the join condition —
    * lineitem is never aggregated, and the 5-group count is map-side
    * combinable. */
  def orderPriorityLateShip(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1998-01-01").cast("timestamp") &&
              col("o_orderdate") <  lit("1998-04-01").cast("timestamp"))
    val li = Tables.lineitem(spark, dir)
    o.join(li, o("o_orderkey") === li("l_orderkey") &&
        li("l_shipdate") > o("o_orderdate") + expr("INTERVAL 90 DAY"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_late_orders"))
      .orderBy(col("o_orderpriority"))
  }

  /** TPC-H Q18 shape (large-volume customers): orders whose total line
    * quantity exceeds 250 (above the p95 of ~207), with their customer.
    * The quantity aggregate runs FIRST (one shuffle on orderkey, heavy
    * reduction), the filter keeps a sliver, and orders + customer
    * attach to that sliver — orders via an orderkey join that AQE can
    * broadcast (the survivor side is tiny), customer size-gated
    * (un-hinted; the optimizer broadcasts it at fixture scale).
    * Integer-exact quantity sums. */
  def largeVolumeCustomers(spark: SparkSession, dir: String): DataFrame = {
    val big = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(sumMoney(cents(col("l_quantity"))).as("total_qty"))
      .filter(col("total_qty") > 250.0)
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    big.join(o, big("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"), col("total_qty"))
      .orderBy(col("o_orderkey"))
  }

  /** TPC-H Q15 shape (top supplier): revenue per supplier over one
    * quarter, keep the max (with ties). The per-supplier aggregate is
    * supplier-cardinality, so the unpartitioned MAX window over it is
    * bounded at any corpus scale (same argument as the vocab-coverage
    * window) — one shuffle for the aggregate, no join against a
    * re-derived max side. */
  def topSupplier(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1998-01-01").cast("timestamp") &&
              col("l_shipdate") <  lit("1998-04-01").cast("timestamp"))
    val sup = Tables.supplier(spark, dir)
    val rev = li.groupBy(col("l_suppkey"))
      .agg(sumMoney(netUnits(col("l_extendedprice"), col("l_discount")), 4)
        .as("total_revenue"))
    rev.withColumn("mx", max(col("total_revenue")).over(Window.partitionBy()))
      .filter(col("total_revenue") === col("mx"))
      .join(sup, col("l_suppkey") === sup("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
  }

  /** TPC-H Q5 shape (local supplier volume): revenue per nation for
    * one region-year where the supplier and the customer share a
    * nation. The date filter pushes into the orders scan; region +
    * nation + supplier broadcast (region prunes nation to a fifth
    * before the fact tables see it). customer⋈orders and
    * lineitem⋈orders are the only shuffles — both on their natural
    * keys. The co-location predicate (c_nationkey = s_nationkey)
    * rides the supplier broadcast join, not a separate shuffle. */
  def localSupplierVolume(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
              col("o_orderdate") <  lit("1998-01-01").cast("timestamp"))
    val li = Tables.lineitem(spark, dir)
    val c  = Tables.customer(spark, dir)
    val s  = Tables.supplier(spark, dir)
    val n  = Tables.nation(spark, dir)
    val r  = Tables.region(spark, dir).filter(col("r_name") === "ASIA")
    val asiaNations = n.join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(s,
        li("l_suppkey") === s("s_suppkey") && c("c_nationkey") === s("s_nationkey"))
      .join(broadcast(asiaNations), c("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(sumMoney(netUnits(col("l_extendedprice"), col("l_discount")), 4)
        .as("revenue"))
      .orderBy(desc("revenue"))
  }

  /** TPC-H Q6 shape (forecast revenue change): pure filter-and-sum
    * over lineitem. All three predicates push into the parquet scan
    * (shipdate range prunes row groups by min/max stats); the global
    * aggregate is one partial-agg tree, zero joins. The canonical
    * "is the scan actually pruning" benchmark query. */
  def forecastRevenue(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
              col("l_shipdate") <  lit("1998-01-01").cast("timestamp") &&
              col("l_discount").between(0.05, 0.07) &&
              col("l_quantity") < 24)
      .agg(sumMoney(cents(col("l_extendedprice")) * cents(col("l_discount")), 4)
             .as("revenue_delta"),
           count(lit(1)).as("n_items"))
  }

  /** TPC-H Q7 shape (volume shipping): bilateral trade between two
    * nations by ship year. Both nation filters are applied BEFORE the
    * fact joins: the two-nation slice of supplier (resp. customer)
    * broadcasts, so lineitem is cut to ~2/25 of its rows by a
    * broadcast join before the lineitem⋈orders shuffle. The OR'd
    * nation-pair predicate lands on the joined row where both sides
    * are already attached. */
  def volumeShipping(spark: SparkSession, dir: String): DataFrame = {
    val two = Seq("NATION_18", "NATION_19")
    val n   = Tables.nation(spark, dir).filter(col("n_name").isin(two: _*))
    val s = Tables.supplier(spark, dir)
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val c = Tables.customer(spark, dir)
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    val li = Tables.lineitem(spark, dir)
    val o  = Tables.orders(spark, dir)
    li.join(s, li("l_suppkey") === s("s_suppkey"))
      .join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .filter((col("supp_nation") === "NATION_18" && col("cust_nation") === "NATION_19") ||
              (col("supp_nation") === "NATION_19" && col("cust_nation") === "NATION_18"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(sumMoney(netUnits(col("l_extendedprice"), col("l_discount")), 4)
        .as("revenue"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  /** TPC-H Q8 shape (national market share): one nation's share of a
    * region's market for one part type, by order year. The part-type
    * filter broadcasts (1/6 of part), the customer side is pruned to
    * the region via broadcast nation/region, and the supplier nation
    * arrives as a broadcast dimension column. Share = conditional
    * exact sum / total exact sum, divided once in double — both
    * engines evaluate the identical two operands. */
  def marketShare(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir).filter(col("p_type") === "STANDARD")
      .select(col("p_partkey"))
    val n  = Tables.nation(spark, dir)
    val r  = Tables.region(spark, dir).filter(col("r_name") === "ASIA")
    val custNations = n.join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .select(col("n_nationkey").as("cn_key"))
    val c = Tables.customer(spark, dir)
      .join(broadcast(custNations), col("c_nationkey") === col("cn_key"))
      .select(col("c_custkey"))
    val s = Tables.supplier(spark, dir)
      .join(broadcast(n.select(col("n_nationkey"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("supp_nation"))
    val li = Tables.lineitem(spark, dir)
    val o  = Tables.orders(spark, dir)
    li.join(p, li("l_partkey") === p("p_partkey"))
      .join(s, li("l_suppkey") === s("s_suppkey"))
      .join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(
        sumMoney(when(col("supp_nation") === "NATION_3",
          netUnits(col("l_extendedprice"), col("l_discount"))), 4).as("nat_rev"),
        sumMoney(netUnits(col("l_extendedprice"), col("l_discount")), 4).as("tot_rev"),
        count(lit(1)).as("n_items"))
      .select(col("o_year"), (col("nat_rev") / col("tot_rev")).as("mkt_share"),
        col("n_items"))
      .orderBy(col("o_year"))
  }

  /** TPC-H Q9 shape (product-type profit): profit per supplier nation
    * and order year for one part family. The schema has no partsupp /
    * ps_supplycost, so cost is proxied as half the part's retail price
    * per unit — the shape (multi-fact join, name LIKE filter,
    * nation×year rollup) is the point. All money terms are exact
    * integers at scale 5 through the subtraction (the oracle's DECIMAL
    * terms align to the same exact value);
    * the part-name filter broadcasts, supplier/nation broadcast, and
    * lineitem⋈orders is the only fact-fact shuffle. */
  def productProfit(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir).filter(col("p_name").contains("gear"))
      .select(col("p_partkey"), col("p_retailprice"))
    val s  = Tables.supplier(spark, dir)
    val n  = Tables.nation(spark, dir)
    val li = Tables.lineitem(spark, dir)
    val o  = Tables.orders(spark, dir)
    // retail × 0.5 × quantity in exact 1e-5 units: cents × 5 × cents
    val cost = cents(col("p_retailprice")) * lit(5L) * cents(col("l_quantity"))
    li.join(p, li("l_partkey") === p("p_partkey"))
      .join(s, li("l_suppkey") === s("s_suppkey"))
      .join(o, li("l_orderkey") === o("o_orderkey"))
      .join(broadcast(n), s("s_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"))
      .agg(sumMoney(netUnits(col("l_extendedprice"), col("l_discount")) * lit(10L) - cost, 5)
        .as("profit"))
      .orderBy(col("nation"), col("o_year"))
  }

  /** TPC-H Q13 shape (customer distribution): histogram of per-customer
    * order counts, one order class excluded. Orders are aggregated
    * FIRST (map-side combinable count per custkey — the heavy
    * reduction), then LEFT-joined to customer so zero-order customers
    * survive with count 0; the final histogram groupBy is
    * count-cardinality. The declarative left-join-then-count form the
    * oracle uses would shuffle every (customer × order) row; the
    * pre-aggregate is the same result one order of magnitude lighter. */
  def customerDistribution(spark: SparkSession, dir: String): DataFrame = {
    val perCust = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
    val c = Tables.customer(spark, dir)
    c.join(perCust, c("c_custkey") === perCust("o_custkey"), "left")
      .select(coalesce(col("n_orders"), lit(0L)).as("c_count"))
      .groupBy(col("c_count")).agg(count(lit(1)).as("custdist"))
      .orderBy(desc("custdist"), desc("c_count"))
  }

  /** TPC-H Q17 shape (small-quantity revenue): revenue from orders of
    * less than 20% of a part's average order quantity, for one brand.
    * Because brand is a function of partkey, the per-part average over
    * the brand-filtered rows equals the average over all rows of those
    * parts — so the brand broadcast-semi-join runs FIRST and the
    * average is a window over the filtered slice (one shuffle on
    * partkey) instead of a self-join against a full-table aggregate.
    * The cutoff is 0.2 × (exact integer-cent sum / count) evaluated in
    * double — identical operand order in both engines. */
  def smallQtyRevenue(spark: SparkSession, dir: String): DataFrame = {
    val pB = Tables.part(spark, dir).filter(col("p_brand") === "Brand#3")
      .select(col("p_partkey"))
    val li = Tables.lineitem(spark, dir)
    val w  = Window.partitionBy(col("l_partkey"))
    li.join(pB, li("l_partkey") === pB("p_partkey"), "left_semi")
      .withColumn("qty_cut",
        lit(0.2) * (money(sum(cents(col("l_quantity"))).over(w), 2) /
          count(lit(1)).over(w)))
      .filter(col("l_quantity") < col("qty_cut"))
      .agg((sumMoney(cents(col("l_extendedprice"))) / lit(7.0))
             .as("avg_yearly"),
           count(lit(1)).as("n_items"))
  }

  /** TPC-H Q19 shape (discounted revenue, disjunctive predicates):
    * three OR'd (brand, size-range, quantity-range) clauses. The part
    * side is pre-filtered to the union of the three brand/size boxes
    * before broadcasting, and the residual OR lands on the joined row
    * — the join itself stays a plain equi-join on partkey, which is
    * what lets it broadcast. */
  def disjunctiveRevenue(spark: SparkSession, dir: String): DataFrame = {
    val box1 = col("p_brand") === "Brand#1" && col("p_size").between(1, 10)
    val box2 = col("p_brand") === "Brand#2" && col("p_size").between(11, 25)
    val box3 = col("p_brand") === "Brand#3" && col("p_size").between(26, 50)
    val p = Tables.part(spark, dir).filter(box1 || box2 || box3)
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
    val li = Tables.lineitem(spark, dir)
    li.join(p, li("l_partkey") === p("p_partkey"))
      .filter((box1 && col("l_quantity").between(1, 11)) ||
              (box2 && col("l_quantity").between(10, 20)) ||
              (box3 && col("l_quantity").between(20, 30)))
      .agg(sumMoney(netUnits(col("l_extendedprice"), col("l_discount")), 4)
             .as("revenue"),
           count(lit(1)).as("n_items"))
  }

  /** TPC-H Q21 shape (suppliers who kept orders waiting): lineitems
    * shipped more than 60 days after the order date, on finished
    * multi-supplier orders where this supplier was the ONLY late one.
    * The correlated EXISTS / NOT EXISTS pair collapses into ONE pass
    * over the lineitem⋈orders join: pre-aggregate late-row counts per
    * (order, supplier) — map-side combinable, shrinks line rows to
    * order×supplier rows — then a window over orderkey derives
    * suppliers-per-order and late-suppliers-per-order on the reduced
    * rows. The previous form consumed the join twice (per-order stats
    * + late rows) and re-scanned both tables for each side; this one
    * scans each table once and never joins back. Top-20 ties broken
    * by name. */
  def waitingOrders(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_orderdate"))
    val perOS = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      .join(o, col("l_orderkey") === o("o_orderkey"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(sum(when(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAY"), 1)
        .otherwise(0)).as("late_rows"))
    val w = Window.partitionBy(col("l_orderkey"))
    val sup = Tables.supplier(spark, dir)
    perOS
      .withColumn("n_supp", count(lit(1)).over(w))
      .withColumn("n_late", sum((col("late_rows") > 0).cast("int")).over(w))
      .filter(col("late_rows") > 0 && col("n_supp") >= 2 && col("n_late") === 1)
      .groupBy(col("l_suppkey")).agg(sum(col("late_rows")).as("numwait"))
      .join(sup, col("l_suppkey") === sup("s_suppkey"))
      .orderBy(desc("numwait"), col("s_name"))
      .limit(20)
      .select(col("s_name"), col("numwait"))
  }

  /** TPC-H Q22 shape (dormant customers): customers in a nation set
    * whose balance is above the average positive balance and who have
    * placed no order in the final 18 months. The scalar average rides
    * a broadcast cross join; the "no recent order" NOT EXISTS is a
    * LEFT ANTI join against the pre-distinct'd recent-customer set
    * (the distinct is map-side combinable, and the date filter pushes
    * into the orders scan). */
  def dormantCustomers(spark: SparkSession, dir: String): DataFrame = {
    val nats = Seq(1, 2, 3, 4, 5, 6, 7)
    val cN = Tables.customer(spark, dir).filter(col("c_nationkey").isin(nats: _*))
    val avgbal = cN.filter(col("c_acctbal") > 0.0)
      .agg((sumMoney(cents(col("c_acctbal"))) / count(lit(1))).as("a"))
    val recent = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("2000-02-01").cast("timestamp"))
      .select(col("o_custkey")).distinct()
    cN.crossJoin(broadcast(avgbal))
      .filter(col("c_acctbal") > col("a"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("numcust"),
           sumMoney(cents(col("c_acctbal"))).as("totacctbal"))
      .orderBy(col("c_nationkey"))
  }

  /** TPC-H Q2 shape (minimum-cost supplier): for each part of one
    * size, the European supplier(s) observed offering it at the lowest
    * unit price. No partsupp table exists, so the offer book is
    * derived from lineitem — min unit price (integer cents / integer
    * quantity, one IEEE division) per (part, supplier). The correlated
    * min subquery is a window MIN over the region-filtered offers
    * partitioned by part (one shuffle on partkey); region prunes via
    * broadcast nation⋈region before anything wide happens. */
  def minCostSupplier(spark: SparkSession, dir: String): DataFrame = {
    val unitCents = cents(col("l_extendedprice")) / col("l_quantity").cast("long")
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir).filter(col("r_name") === "EUROPE")
    val euSup = Tables.supplier(spark, dir)
      .join(broadcast(n.join(broadcast(r), n("n_regionkey") === r("r_regionkey"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"))
    val p = Tables.part(spark, dir).filter(col("p_size") === 10)
      .select(col("p_partkey"), col("p_name"))
    // both restrictions commute below the offer aggregate: the output
    // is filtered to size-10 parts, and the per-part min ranges over
    // EUROPE offers only — so lineitem is cut by two broadcast
    // (semi-)joins to ~2% BEFORE the (partkey, suppkey) shuffle,
    // instead of aggregating the full offer book and discarding 98%
    val offers = Tables.lineitem(spark, dir)
      .join(p.select(col("p_partkey")),
        col("l_partkey") === col("p_partkey"), "left_semi")
      .join(euSup, col("l_suppkey") === euSup("s_suppkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"), col("s_name"), col("n_name"))
      .agg(min(unitCents).as("unit_cents"))
    val w = Window.partitionBy(col("l_partkey"))
    offers
      .withColumn("mn", min(col("unit_cents")).over(w))
      .filter(col("unit_cents") === col("mn"))
      .join(p, col("l_partkey") === p("p_partkey"))
      .select(col("p_partkey"), col("p_name"), col("s_name"), col("n_name"),
        col("unit_cents"))
      .orderBy(col("p_partkey"), col("s_name"))
  }

  /** TPC-H Q11 shape (important parts): parts whose shipped value from
    * one nation group's suppliers exceeds twice the mean part value. A
    * fixed fraction of the total selects nothing at a large SF and
    * nearly everything at a small one, which is why Q11 divides its
    * fraction by SF; a multiple of the mean is that scale-free rule
    * without knowing SF (20, 179 and 1742 rows at sf0.001, sf0.01 and
    * sf0.1). Value is integer cents × integer quantity and the cut is
    * `value · n > 2 · total` on exact Longs, so no rounding enters the
    * comparison (the session's ANSI overflow check guards the
    * products). The supplier filter broadcasts; one shuffle on
    * partkey; the scalar total and count ride a broadcast cross join. */
  def importantParts(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.supplier(spark, dir)
      .filter(col("s_nationkey").isin(1, 2, 3)).select(col("s_suppkey"))
    val vals = Tables.lineitem(spark, dir)
      .join(s, col("l_suppkey") === s("s_suppkey"), "left_semi")
      .groupBy(col("l_partkey"))
      .agg(sum(cents(col("l_extendedprice")) * col("l_quantity").cast("long"))
        .as("part_value"))
    val stats = vals.agg(sum(col("part_value")).as("total"), count(lit(1)).as("n_parts"))
    vals.crossJoin(broadcast(stats))
      .filter(col("part_value") * col("n_parts") > col("total") * 2L)
      .select(col("l_partkey").as("p_partkey"), col("part_value"))
      .orderBy(desc("part_value"))
  }

  /** TPC-H Q16 shape (part-supplier relationship count): distinct
    * suppliers per (brand, type, size) over the lineitem link, with a
    * NOT-IN supplier exclusion re-expressed as a broadcast LEFT ANTI
    * join (the excluded set is supplier-cardinality and null-free, so
    * the semantics coincide). The part attribute filter broadcasts;
    * the distinct-count aggregate is the only shuffle. */
  def partsSupplierCount(spark: SparkSession, dir: String): DataFrame = {
    val sizes = Seq(1, 5, 9, 13, 17, 21, 25)
    val p = Tables.part(spark, dir)
      .filter(col("p_brand") =!= "Brand#1" && col("p_size").isin(sizes: _*))
      .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
    val bad = Tables.supplier(spark, dir)
      .filter(col("s_acctbal") < 0.0).select(col("s_suppkey"))
    Tables.lineitem(spark, dir)
      .join(p, col("l_partkey") === p("p_partkey"))
      .join(bad, col("l_suppkey") === bad("s_suppkey"), "left_anti")
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(desc("supplier_cnt"), col("p_brand"), col("p_type"), col("p_size"))
  }
}
